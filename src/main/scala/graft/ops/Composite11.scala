package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.25 — round-14 event-analytics operators: an A/B
  * proportion z-test over user arms and rate-based bot detection
  * with corpus-derived thresholds. (The round's CUSUM changepoint is
  * in [[timeseries.Stationarity]].)
  *
  * Scale shapes: both operators reduce the fact to an entity-sized
  * aggregate before anything else — the A/B test is two conditional
  * aggregates, and bot detection is per-user aggregates against a
  * 1-row broadcast threshold table.
  *
  * Float determinism: all inputs to double arithmetic are exact
  * integer sums; both engines then execute the same IEEE expression
  * text. Surfaced scores are 6-dp rounded.
  */
object Composite11 {

  // ---- evt_ab_lift -------------------------------------------------
  // Two-proportion z-test of "heavy purchaser" conversion between
  // user arms (user_id parity — the deterministic split a real
  // experiment assignment table would replace). Conversion = the
  // user's purchase count exceeds the corpus median (a derived
  // threshold: on this corpus every user purchases at least once, so
  // raw has-purchased conversion would be degenerate p = 1 and the
  // pooled variance zero). All counts exact; the pooled z statistic
  // is one shared IEEE expression.
  private def abLift(s: SparkSession, dir: String): DataFrame = {
    val perUser = loadEvents(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purch"))
    val med = broadcast(perUser.agg(
      expr("percentile(n_purch, 0.5)").as("med_purch")))
    val users = perUser.crossJoin(med)
      .select(col("user_id"),
        when(col("n_purch").cast("double") > col("med_purch"), 1L)
          .otherwise(0L).as("conv"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("bigint").as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("bigint").as("n_b"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).cast("bigint")
        .as("conv_a"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).cast("bigint")
        .as("conv_b"))
      .selectExpr("n_a", "n_b", "conv_a", "conv_b",
        "round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a",
        "round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b",
        """round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
          |        CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
          |  sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
          |    (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
          |    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
          |  AS z_score""".stripMargin)
  }

  private val abLiftOracle =
    """WITH per_user AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_purch
      |  FROM events GROUP BY user_id),
      |med AS (
      |  SELECT quantile_cont(n_purch, 0.5) AS med_purch FROM per_user),
      |users AS (
      |  SELECT user_id,
      |    CAST(CASE WHEN CAST(n_purch AS DOUBLE) > med_purch
      |         THEN 1 ELSE 0 END AS BIGINT) AS conv,
      |    CAST(user_id % 2 AS INT) AS arm
      |  FROM per_user CROSS JOIN med),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM users)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
      |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
      |  round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
      |         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
      |    sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
      |      (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
      |      (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
      |    AS z_score
      |FROM m""".stripMargin

  // ---- evt_bot_detection -------------------------------------------
  // Rate-based bot heuristic: a user is flagged when their events per
  // active minute reach 2× the corpus median, or their median
  // inter-event gap is under half the corpus median. Thresholds are
  // DERIVED (a 1-row broadcast of medians-of-user-medians), so the
  // rule adapts to corpus tempo instead of hard-coding one; medians
  // interpolate identically (percentile_cont semantics) on both
  // engines, the agg_percentile_cont precedent.
  private def botDetection(s: SparkSession, dir: String): DataFrame = {
    val ev = loadEvents(s, dir)
    val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // localCheckpoint (r18): perUser feeds the 1-row threshold
    // aggregate AND the filtered output — without it the whole
    // window + exact-percentile pipeline executed twice
    // (ReuseExchange shares only the user_id exchange, not the
    // window/aggregate above it). One materialization of a
    // user-count-sized table; thresholds are unchanged.
    val perUser = ev
      .withColumn("gap_us", expr("unix_micros(ts)") -
        lag(expr("unix_micros(ts)"), 1).over(wu))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        countDistinct(date_trunc("minute", col("ts"))).as("active_mins"),
        expr("percentile(gap_us, 0.5)").as("med_gap_us"))
      .withColumn("epm", col("n_ev").cast("double") /
        greatest(lit(1L), col("active_mins")).cast("double"))
      .localCheckpoint()
    val thresholds = broadcast(perUser.agg(
      expr("percentile(epm, 0.5)").as("med_epm"),
      expr("percentile(med_gap_us, 0.5)").as("med_med_gap")))
    perUser.crossJoin(thresholds)
      .filter(col("epm") >= lit(2.0) * col("med_epm") ||
        col("med_gap_us") <= lit(0.5) * col("med_med_gap"))
      .select(col("user_id"), col("n_ev"), col("active_mins"),
        round(col("epm"), 6).as("epm"),
        round(col("med_gap_us"), 6).as("med_gap_us"))
      .orderBy("user_id")
  }

  private val botDetectionOracle =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events),
      |per_user AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
      |    CAST(count(DISTINCT date_trunc('minute', CAST(ts AS TIMESTAMP)))
      |      AS BIGINT) AS active_mins,
      |    quantile_cont(gap_us, 0.5) AS med_gap_us
      |  FROM g GROUP BY user_id),
      |pu AS (
      |  SELECT user_id, n_ev, active_mins, med_gap_us,
      |    CAST(n_ev AS DOUBLE) / CAST(greatest(1, active_mins) AS DOUBLE) AS epm
      |  FROM per_user),
      |th AS (
      |  SELECT quantile_cont(epm, 0.5) AS med_epm,
      |    quantile_cont(med_gap_us, 0.5) AS med_med_gap
      |  FROM pu)
      |SELECT user_id, n_ev, active_mins, round(epm, 6) AS epm,
      |  round(med_gap_us, 6) AS med_gap_us
      |FROM pu CROSS JOIN th
      |WHERE epm >= 2.0 * med_epm OR med_gap_us <= 0.5 * med_med_gap
      |ORDER BY user_id""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_ab_lift" -> (abLift _),
    "evt_bot_detection" -> (botDetection _)
  )

  val oracle: Map[String, String] = Map(
    "evt_ab_lift" -> abLiftOracle,
    "evt_bot_detection" -> botDetectionOracle
  )
}
