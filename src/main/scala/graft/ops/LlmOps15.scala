package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.34 — round-15 seventh batch: temporal distribution
  * drift. (The batch's clustering purity row is in
  * [[retrieval.Geometry]], its expected shortfall in
  * [[timeseries.Indicators]].)
  *
  * Scale shape: two conditional aggregates over event types and a
  * 1-row broadcast of the totals.
  *
  * Determinism: drift shares are exact-count ratios.
  */
object LlmOps15 {

  // ---- evt_distribution_drift --------------------------------------
  // Event-type mix drift between the first half of the horizon and
  // the rest (split at 2024-01-16, the llm_bloom_prefilter boundary):
  // per-type early/late shares and the share delta — the input-drift
  // monitor every production pipeline runs. Exact counts, one
  // conditional aggregate, 1-row broadcast totals.
  private def distributionDrift(s: SparkSession, dir: String): DataFrame = {
    val typed = loadEvents(s, dir)
      .select(col("event_type"),
        (col("ts") < lit("2024-01-16").cast("timestamp")).as("early"))
    val cells = typed.groupBy(col("event_type"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("n_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("n_late"))
    val tot = broadcast(cells.agg(
      sum(col("n_early")).cast("double").as("te"),
      sum(col("n_late")).cast("double").as("tl")))
    cells.crossJoin(tot)
      .select(col("event_type"), col("n_early"), col("n_late"),
        round(col("n_early").cast("double") / col("te"), 6)
          .as("share_early"),
        round(col("n_late").cast("double") / col("tl"), 6).as("share_late"),
        round(col("n_late").cast("double") / col("tl") -
          col("n_early").cast("double") / col("te"), 6).as("d_share"))
      .orderBy("event_type")
  }

  private val distributionDriftOracle =
    """WITH cells AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
      |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
      |      THEN 0 ELSE 1 END) AS BIGINT) AS n_late
      |  FROM events GROUP BY event_type),
      |tot AS (
      |  SELECT CAST(sum(n_early) AS DOUBLE) AS te,
      |    CAST(sum(n_late) AS DOUBLE) AS tl FROM cells)
      |SELECT event_type, n_early, n_late,
      |  round(CAST(n_early AS DOUBLE) / te, 6) AS share_early,
      |  round(CAST(n_late AS DOUBLE) / tl, 6) AS share_late,
      |  round(CAST(n_late AS DOUBLE) / tl - CAST(n_early AS DOUBLE) / te, 6)
      |    AS d_share
      |FROM cells CROSS JOIN tot
      |ORDER BY event_type""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_distribution_drift" -> (distributionDrift _)
  )

  val oracle: Map[String, String] = Map(
    "evt_distribution_drift" -> distributionDriftOracle
  )
}
