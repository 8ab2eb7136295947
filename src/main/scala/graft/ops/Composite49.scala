package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.65 (round-24 batch 7) — event-time disorder:
  *
  *  - [[outOfOrderAudit]]: event-time disorder per event type —
  *    adjacent pairs in ARRIVAL order (event_id) whose timestamps
  *    run backward, their rate, and the worst backward jump in µs.
  *    This is the number that TUNES a watermark
  *    (`withWatermark(delay)` must exceed the observed backward
  *    jump or `evt_watermark_late`-style drops begin); the corpus
  *    reads zero disorder, which is itself the audit's finding —
  *    the planted spec injects disorder to prove the detector.
  *
  * Scale shape: one lag window partitioned by event type, one
  * per-type aggregate.
  *
  * Determinism: all outputs exact integers except the floor-6 rate.
  */
object Composite49 {

  // ---- dq_out_of_order_audit -------------------------------------------
  // One lag window over (type, event_id) on the epoch-µs projection;
  // all outputs exact integers except the floor-6 rate. coalesce
  // keeps the worst-jump column total (0, not NULL) for in-order
  // types, so downstream watermark math needs no null handling.
  private[graft] def outOfOrderAuditOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .select(col("event_type"),
        (col("tsu") - lag(col("tsu"), 1).over(w)).as("d"))
      .groupBy(col("event_type"))
      .agg(count(col("d")).as("n_pairs"),
        sum(when(col("d") < 0, 1L).otherwise(0L)).as("n_backward"),
        coalesce(max(when(col("d") < 0, -col("d"))), lit(0L))
          .as("max_backward_us"))
      .selectExpr("event_type", "n_pairs", "n_backward", "max_backward_us",
        """floor((CAST(n_backward AS DOUBLE) / nullif(n_pairs, 0))*1e6
          | + 0.5)/1e6 AS backward_rate""".stripMargin)
      .orderBy("event_type")
  }

  private def outOfOrderAudit(s: SparkSession, dir: String): DataFrame =
    outOfOrderAuditOn(loadEvents(s, dir))

  private val outOfOrderAuditOracle =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
      |  FROM events),
      |lg AS (
      |  SELECT event_type,
      |    tsu - lag(tsu, 1) OVER (PARTITION BY event_type
      |      ORDER BY event_id) AS d
      |  FROM e),
      |g AS (
      |  SELECT event_type, CAST(count(d) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_backward,
      |    CAST(coalesce(max(CASE WHEN d < 0 THEN -d END), 0) AS BIGINT)
      |      AS max_backward_us
      |  FROM lg GROUP BY 1)
      |SELECT event_type, n_pairs, n_backward, max_backward_us,
      |  floor((CAST(n_backward AS DOUBLE) / nullif(n_pairs, 0))*1e6
      |   + 0.5)/1e6 AS backward_rate
      |FROM g ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_out_of_order_audit" -> (outOfOrderAudit _)
  )

  val oracle: Map[String, String] = Map(
    "dq_out_of_order_audit" -> outOfOrderAuditOracle
  )
}
