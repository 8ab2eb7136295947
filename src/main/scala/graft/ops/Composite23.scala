package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.40 — round-16 fourth batch: difference-in-differences
  * and the ulcer index. (The batch's binary-sign Hamming similarity
  * is in [[retrieval.Search]].)
  *
  * Scale shapes: DiD reduces the fact table to one per-user aggregate
  * and assembles the estimator from exact decimal sums. The ulcer
  * index stays decimal-exact through the squared-drawdown window sum
  * — the only double op is the final sqrt (a window sum of DOUBLES
  * would be association-order-dependent across engines; decimal is
  * not).
  *
  * Determinism: DiD and ulcer follow the exact-decimal-moments →
  * one-IEEE-assembly discipline.
  */
object Composite23 {

  // ---- evt_diff_in_diff --------------------------------------------
  // Difference-in-differences on the CUPED design: arms = user_id %
  // 2, periods split at the exact integer-µs midpoint; per-user
  // d = post − pre (exact decimal); DiD = d̄₁ − d̄₀ with the pooled
  // two-sample SE from per-arm exact moments; 95% CI.
  private def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val e = loadEvents(s, dir)
    val split = e.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("timestamp_micros((mn + mx) div 2)").as("split"))
    val u = e.crossJoin(broadcast(split))
      .groupBy(col("user_id"))
      .agg(
        (sum(when(col("ts") >= col("split"), money(col("value")))
          .otherwise(lit(0).cast("decimal(15,2)"))) -
          sum(when(col("ts") < col("split"), money(col("value")))
            .otherwise(lit(0).cast("decimal(15,2)"))))
          .cast("decimal(16,2)").as("d"))
      .select((col("user_id") % 2).cast("int").as("grp"), col("d"))
    val arms = u.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("d")).as("sd"),
        sum((col("d") * col("d")).cast("decimal(33,4)")).as("sdd"))
      .select(col("grp"), col("n").cast("double").as("n"),
        asD(col("sd")).as("sd"), asD(col("sdd")).as("sdd"))
      .select(col("grp"), col("n"), (col("sd") / col("n")).as("mean_d"),
        (((col("sdd") - col("sd") * col("sd") / col("n")) /
          (col("n") - lit(1.0))) / col("n")).as("var_mean"))
    val a0 = arms.filter(col("grp") === 0)
      .select(col("n").as("n0"), col("mean_d").as("mean_d0"),
        col("var_mean").as("v0"))
    val a1 = arms.filter(col("grp") === 1)
      .select(col("n").as("n1"), col("mean_d").as("mean_d1"),
        col("var_mean").as("v1"))
    a0.crossJoin(a1)
      .select(col("n0").cast("bigint").as("n_control"),
        col("n1").cast("bigint").as("n_treat"),
        col("mean_d0"), col("mean_d1"),
        (col("mean_d1") - col("mean_d0")).as("did"),
        sqrt(col("v0") + col("v1")).as("se"))
      .select(col("n_control"), col("n_treat"), col("mean_d0"),
        col("mean_d1"), col("did"), col("se"),
        (col("did") - lit(1.96) * col("se")).as("ci_lo"),
        (col("did") + lit(1.96) * col("se")).as("ci_hi"))
  }

  private val diffInDiffOracle =
    """WITH sp AS (
      |  SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2)
      |    AS split FROM events),
      |u AS (
      |  SELECT CAST(user_id % 2 AS INT) AS grp,
      |    CAST(sum(CASE WHEN ts >= sp.split
      |        THEN CAST(value AS DECIMAL(15,2))
      |        ELSE CAST(0 AS DECIMAL(15,2)) END) -
      |      sum(CASE WHEN ts < sp.split
      |        THEN CAST(value AS DECIMAL(15,2))
      |        ELSE CAST(0 AS DECIMAL(15,2)) END) AS DECIMAL(16,2)) AS d
      |  FROM events CROSS JOIN sp GROUP BY user_id, sp.split),
      |arms AS (
      |  SELECT grp, CAST(count(*) AS DOUBLE) AS n,
      |    CAST(CAST(sum(d) AS VARCHAR) AS DOUBLE) AS sd,
      |    CAST(CAST(sum(CAST(d * d AS DECIMAL(33,4))) AS VARCHAR)
      |      AS DOUBLE) AS sdd
      |  FROM u GROUP BY grp),
      |m AS (
      |  SELECT grp, n, sd / n AS mean_d,
      |    (((sdd - sd * sd / n) / (n - 1.0)) / n) AS var_mean
      |  FROM arms),
      |j AS (
      |  SELECT a0.n AS n0, a1.n AS n1,
      |    a0.mean_d AS mean_d0, a1.mean_d AS mean_d1,
      |    a0.var_mean AS v0, a1.var_mean AS v1
      |  FROM (SELECT * FROM m WHERE grp = 0) a0
      |  CROSS JOIN (SELECT * FROM m WHERE grp = 1) a1)
      |SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
      |  mean_d0, mean_d1,
      |  mean_d1 - mean_d0 AS did,
      |  sqrt(v0 + v1) AS se,
      |  (mean_d1 - mean_d0) - 1.96 * sqrt(v0 + v1) AS ci_lo,
      |  (mean_d1 - mean_d0) + 1.96 * sqrt(v0 + v1) AS ci_hi
      |FROM j""".stripMargin

  // ---- win_ulcer_index ---------------------------------------------
  // Ulcer index (Martin 1987) in revenue units: running-peak
  // drawdowns of the daily revenue series, 14-day RMS of the
  // drawdown depth, full frames only. Depths and their squares stay
  // EXACT DECIMAL through the window sum; the single sqrt is the
  // only floating-point operation.
  private def ulcerIndex(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(money(col("o_totalprice"))).cast("decimal(15,2)").as("rev"))
    val wPeak = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w14 = Window.orderBy("d").rowsBetween(-13, 0)
    daily
      .withColumn("peak", max(col("rev")).over(wPeak))
      .withColumn("dd", (col("peak") - col("rev")).cast("decimal(16,2)"))
      .withColumn("fn", count(lit(1)).over(w14))
      .withColumn("sdd2",
        sum((col("dd") * col("dd")).cast("decimal(33,4)")).over(w14))
      .filter(col("fn") === 14)
      .select(col("d"), asD(col("dd")).as("drawdown"),
        sqrt(asD(col("sdd2")) / lit(14.0)).as("ulcer"))
      .orderBy("d")
  }

  private val ulcerIndexOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2))
      |      AS rev
      |  FROM orders GROUP BY 1),
      |pk AS (
      |  SELECT d, rev,
      |    CAST(max(rev) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) -
      |      rev AS DECIMAL(16,2)) AS dd
      |  FROM daily),
      |win AS (
      |  SELECT d, dd, count(*) OVER w AS fn,
      |    sum(CAST(CAST(dd AS DECIMAL(19,2)) * dd AS DECIMAL(33,4)))
      |      OVER w AS sdd2
      |  FROM pk
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT d, CAST(CAST(dd AS VARCHAR) AS DOUBLE) AS drawdown,
      |  sqrt(CAST(CAST(sdd2 AS VARCHAR) AS DOUBLE) / 14.0) AS ulcer
      |FROM win WHERE fn = 14 ORDER BY d""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_diff_in_diff" -> (diffInDiff _),
    "win_ulcer_index" -> (ulcerIndex _)
  )

  val oracle: Map[String, String] = Map(
    "evt_diff_in_diff" -> diffInDiffOracle,
    "win_ulcer_index" -> ulcerIndexOracle
  )
}
