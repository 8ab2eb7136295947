package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.30 — round-15 third batch: per-user rate limiting.
  * (The batch's seasonal-naive backtest is in
  * [[timeseries.Forecast]], its rolling correlation in
  * [[timeseries.Correlation]].)
  *
  * Scale shape: two chained hash aggregates (per user-minute, then
  * per user), no windows.
  *
  * Determinism: every surfaced value is an exact count.
  */
object Composite14 {

  // ---- evt_rate_limit ----------------------------------------------
  // Token-bucket-per-minute rate limiting, evaluated in batch: with
  // a budget of B=5 events per user-minute, how much traffic would
  // each user lose? Surfaces per user: active minutes, over-budget
  // minutes, the worst minute, and the total dropped events
  // Σ max(0, c − B). Two hash aggregates, no windows.
  private val RateBudget = 5L

  private def rateLimit(s: SparkSession, dir: String): DataFrame =
    loadEvents(s, dir)
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_minutes"),
        sum(when(col("c") > RateBudget, 1L).otherwise(0L)).as("n_over"),
        max(col("c")).as("max_per_minute"),
        sum(greatest(col("c") - RateBudget, lit(0L))).cast("bigint")
          .as("n_dropped"))
      .filter(col("n_over") > 0)
      .orderBy("user_id")

  private val rateLimitOracle =
    """WITH pm AS (
      |  SELECT user_id, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY user_id, date_trunc('minute', CAST(ts AS TIMESTAMP)))
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_minutes,
      |  CAST(sum(CASE WHEN c > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
      |  CAST(max(c) AS BIGINT) AS max_per_minute,
      |  CAST(sum(greatest(c - 5, 0)) AS BIGINT) AS n_dropped
      |FROM pm GROUP BY user_id
      |HAVING sum(CASE WHEN c > 5 THEN 1 ELSE 0 END) > 0
      |ORDER BY user_id""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_rate_limit" -> (rateLimit _)
  )

  val oracle: Map[String, String] = Map(
    "evt_rate_limit" -> rateLimitOracle
  )
}
