package graft.ops.dq

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The data-quality family: digit forensics, schema-integrity audits,
  * drift and freshness audits, and single-column distribution
  * profiles — every `dq_*` row except `dq_calendar_gaps` (it reads
  * the daily series, so it lives in `timeseries`), plus `agg_benford`.
  * One (queries, oracle) pair for SparkEntry. */
object DataQuality {
  private val parts = Seq(
    (Digits.queries, Digits.oracle),
    (Integrity.queries, Integrity.oracle),
    (Drift.queries, Drift.oracle),
    (Profiles.queries, Profiles.oracle))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    parts.map(_._1).reduce(_ ++ _)

  val oracle: Map[String, String] = parts.map(_._2).reduce(_ ++ _)
}
