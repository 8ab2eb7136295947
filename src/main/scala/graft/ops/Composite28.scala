package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.Tables._

/** SURVEY.md §2.45 (round-8 additions, batch 2) — session-level
  * analytics, robust means, and the nested-smoothing finance
  * staples:
  *
  *  - [[sessionStats]]: the aggregate layer OVER sessionization
  *    (evt_session_window builds sessions; this row summarizes them).
  *    Gap-rule sessions via one lag + running-sum window (tie-safe:
  *    the gap compares VALUES, so intra-tie order cannot change any
  *    session id), then one group-by and a 1-row summary.
  *
  *  - geometric/harmonic means per brand: exp(avg(ln x)) and
  *    n/Σ(1/x). Both engines' libm may differ in the last ulp of
  *    ln/exp; the Σ of ~800 ulp-sized deviations stays ~1e-13
  *    relative, far inside the round-6 presentation (the llm xent
  *    discipline).
  *
  *  - [[macd]] / [[stochastic]]: nested smoothing cascades over each
  *    nation's daily revenue. The recursive EMAs are re-expressed as
  *    truncated fixed kernels (the win_ewma_smooth discipline, ≥95%
  *    kernel mass: 18/39/14 terms for the 12/26/9-period EMAs) with
  *    weights pinned as exact double literals; head-of-series rows
  *    renormalize over the weights present. The SAME generated SQL
  *    text runs on both engines, so the expression trees — and hence
  *    the IEEE results — are identical by construction. Per-nation
  *    partitions keep the windows parallel; series length is bounded
  *    by the calendar (~2.4k days), not corpus size.
  */
object Composite28 {

  // ---- evt_session_stats -------------------------------------------
  private val SessionGapUs = 1800000000L // 30 min in µs

  private def sessionStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tu")
    val sessions = loadEvents(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"))
      .withColumn("new_s",
        when(lag(col("tu"), 1).over(w).isNull ||
          col("tu") - lag(col("tu"), 1).over(w) > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_ev"),
        ((max(col("tu")) - min(col("tu"))) / 1000000.0).as("dur_s"))
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      countDistinct(col("user_id")).as("n_users"),
      round(avg(col("n_ev").cast("double")), 6).as("avg_events"),
      round(expr("percentile(n_ev, 0.5)"), 6).as("p50_events"),
      round(expr("percentile(n_ev, 0.9)"), 6).as("p90_events"),
      round(avg(col("dur_s")), 6).as("avg_duration_s"),
      round(expr("percentile(dur_s, 0.9)"), 6).as("p90_duration_s"))
  }

  private val sessionStatsOracle =
    s"""WITH o AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
       |m AS (
       |  SELECT user_id, tu,
       |    CASE WHEN lag(tu) OVER w IS NULL
       |           OR tu - lag(tu) OVER w > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu)),
       |sd AS (
       |  SELECT user_id, tu, sum(new_s) OVER (PARTITION BY user_id
       |    ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid FROM m),
       |g AS (
       |  SELECT user_id, sid, count(*) AS n_ev,
       |    (max(tu) - min(tu)) / 1000000.0 AS dur_s
       |  FROM sd GROUP BY 1, 2)
       |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  round(avg(CAST(n_ev AS DOUBLE)), 6) AS avg_events,
       |  round(quantile_cont(n_ev, 0.5), 6) AS p50_events,
       |  round(quantile_cont(n_ev, 0.9), 6) AS p90_events,
       |  round(avg(dur_s), 6) AS avg_duration_s,
       |  round(quantile_cont(dur_s, 0.9), 6) AS p90_duration_s
       |FROM g""".stripMargin

  // ---- agg_geometric_mean ------------------------------------------
  private def geometricMean(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "part")
      .filter(col("p_retailprice") > 0)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(exp(avg(log(col("p_retailprice")))), 6).as("geo_mean"),
        round(count(lit(1)).cast("double") /
          sum(lit(1.0) / col("p_retailprice")), 6).as("harm_mean"))
      .orderBy("p_brand")

  private val geometricMeanOracle =
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
      |  round(exp(avg(ln(p_retailprice))), 6) AS geo_mean,
      |  round(CAST(count(*) AS DOUBLE) / sum(1.0 / p_retailprice), 6)
      |    AS harm_mean
      |FROM part WHERE p_retailprice > 0
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---- win_macd ----------------------------------------------------
  /** Truncated-kernel weights (1-α)^j as exact double literals —
    * Double.toString round-trips, and both engines parse a decimal
    * literal to the nearest double, so the kernels are bit-identical. */
  private def kernel(alpha: Double, k: Int): Seq[String] = {
    val base = 1.0 - alpha
    Iterator.iterate(1.0)(_ * base).take(k).map(_.toString).toSeq
  }

  /** Σ w_j·lag(x, j) OVER w / Σ_{j present} w_j, renormalized at the
    * head of each series. `x` is the smoothed column name. */
  private def emaExpr(x: String, weights: Seq[String]): String = {
    // Every weight literal is routed through CAST('…' AS DOUBLE) — a
    // VARCHAR, not a bare decimal literal: DuckDB parses a
    // 16-significant-digit bare literal as a wide DECIMAL and the
    // decimal→double cast DOUBLE-ROUNDS once the mantissa exceeds 2^53
    // (§1.5 rule 7 — 9259259259259259 > 2^53, so several (1−α)^j
    // weights landed one ulp off Spark's and 18/55134 rows straddled
    // the 6-dp boundary at sf0.1). The string parse is a correctly
    // rounded strtod on both engines, so the kernels are bit-identical.
    // (It also keeps the denominator's CASE-sum out of DECIMAL(18)
    // overflow, the original reason for the CAST.)
    val num = weights.zipWithIndex.map { case (wj, j) =>
      if (j == 0) s"coalesce($x, 0.0) * CAST('$wj' AS DOUBLE)"
      else s"coalesce(lag($x, $j) OVER w, 0.0) * CAST('$wj' AS DOUBLE)"
    }.mkString(" + ")
    val den = weights.zipWithIndex.map { case (wj, j) =>
      if (j == 0) s"CASE WHEN $x IS NULL THEN 0.0 ELSE CAST('$wj' AS DOUBLE) END"
      else s"CASE WHEN lag($x, $j) OVER w IS NULL THEN 0.0 ELSE CAST('$wj' AS DOUBLE) END"
    }.mkString(" + ")
    s"(($num) / ($den))"
  }

  /** The MACD body over a `daily` relation (n_name, day, x) — ONE
    * generated SQL text for both engines (identical IEEE trees). */
  private def macdSql(daily: String): String = {
    val ema12 = emaExpr("x", kernel(2.0 / 13, 18))
    val ema26 = emaExpr("x", kernel(2.0 / 27, 39))
    val sig = emaExpr("macd", kernel(2.0 / 10, 14))
    // floor(v·10⁶ + 0.5)/10⁶, not round(v, 6): identical on identical
    // doubles in BOTH engines — Spark's exact-binary HALF_UP vs
    // DuckDB's v*10⁶ float rounding straddled a .5 boundary on 18/55134
    // rows at sf0.1 (r9 tri-SF note). MACD values go negative; the
    // floor form ties halves toward +inf on both engines alike, which
    // is all the cross-engine compare needs.
    // 1e6 (DOUBLE in both SQL dialects), not 1000000.0 (DECIMAL in
    // Spark SQL — it dragged the division into decimal arithmetic).
    def r6(v: String) = s"floor(($v) * 1e6 + 0.5) / 1e6"
    s"""WITH $daily
       |m AS (
       |  SELECT n_name, day, ($ema12 - $ema26) AS macd
       |  FROM daily WINDOW w AS (PARTITION BY n_name ORDER BY day))
       |SELECT n_name, day, ${r6("macd")} AS macd,
       |  ${r6(sig)} AS signal_line,
       |  ${r6(s"macd - $sig")} AS histogram
       |FROM m WINDOW w AS (PARTITION BY n_name ORDER BY day)
       |ORDER BY n_name, day""".stripMargin
  }

  private def nationDaily(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .select(col("n_name"), col("day"), col("rev").cast("double").as("x"))

  /** Test hook: the generated MACD SQL over an externally-registered
    * `graft_macd_daily` view (Round27Spec feeds a constant series to
    * assert the zero fixpoint). */
  private[graft] def macdSqlForTest: String =
    macdSql("daily AS (SELECT * FROM graft_macd_daily),")

  private def macd(s: SparkSession, dir: String): DataFrame = {
    nationDaily(s, dir).createOrReplaceTempView("graft_macd_daily")
    s.sql(macdSql("daily AS (SELECT * FROM graft_macd_daily),"))
  }

  private val macdOracle = macdSql(
    """daily AS (
      |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, day),""".stripMargin)

  // ---- win_stochastic ----------------------------------------------
  private def stochasticSql(daily: String): String =
    s"""WITH $daily
       |k AS (
       |  SELECT n_name, day, x,
       |    min(x) OVER w14 AS lo14, max(x) OVER w14 AS hi14
       |  FROM daily
       |  WINDOW w14 AS (PARTITION BY n_name ORDER BY day
       |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
       |pk AS (
       |  SELECT n_name, day,
       |    100.0 * (x - lo14) / nullif(hi14 - lo14, 0.0) AS pct_k
       |  FROM k)
       |SELECT n_name, day, round(pct_k, 6) AS pct_k,
       |  round(avg(pct_k) OVER (PARTITION BY n_name ORDER BY day
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS pct_d
       |FROM pk ORDER BY n_name, day""".stripMargin

  private def stochastic(s: SparkSession, dir: String): DataFrame = {
    nationDaily(s, dir).createOrReplaceTempView("graft_stoch_daily")
    s.sql(stochasticSql("daily AS (SELECT * FROM graft_stoch_daily),"))
  }

  private val stochasticOracle = stochasticSql(
    """daily AS (
      |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, day),""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_session_stats" -> (sessionStats _),
    "agg_geometric_mean" -> (geometricMean _),
    "win_macd" -> (macd _),
    "win_stochastic" -> (stochastic _)
  )

  val oracle: Map[String, String] = Map(
    "evt_session_stats" -> sessionStatsOracle,
    "agg_geometric_mean" -> geometricMeanOracle,
    "win_macd" -> macdOracle,
    "win_stochastic" -> stochasticOracle
  )
}
