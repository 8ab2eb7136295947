package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §2 (the operator
  * inventory this map implements, row ids == map keys) and §3 (how the
  * driver executes it). Each ops module contributes its own
  * (queries, oracle) pair; this object is pure concatenation.
  */
object SparkEntry {
  private[graft] val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Scans.queries, Scans.oracle),
      (Relational.queries, Relational.oracle),
      (Aggregates.queries, Aggregates.oracle),
      (Windows.queries, Windows.oracle),
      (Scalars.queries, Scalars.oracle),
      (Events.queries, Events.oracle),
      (Udx.queries, Udx.oracle),
      (Composite.queries, Composite.oracle),
      (Composite2.queries, Composite2.oracle),
      (Composite3.queries, Composite3.oracle),
      (Composite4.queries, Composite4.oracle),
      (Composite5.queries, Composite5.oracle),
      (Composite6.queries, Composite6.oracle),
      (Composite7.queries, Composite7.oracle),
      (Composite9.queries, Composite9.oracle),
      (Composite10.queries, Composite10.oracle),
      (Composite11.queries, Composite11.oracle),
      (Composite12.queries, Composite12.oracle),
      (Composite13.queries, Composite13.oracle),
      (Composite14.queries, Composite14.oracle),
      (Composite15.queries, Composite15.oracle),
      (Composite16.queries, Composite16.oracle),
      (Composite17.queries, Composite17.oracle),
      (Composite20.queries, Composite20.oracle),
      (Composite21.queries, Composite21.oracle),
      (Composite22.queries, Composite22.oracle),
      (Composite23.queries, Composite23.oracle),
      (Composite24.queries, Composite24.oracle),
      (Composite25.queries, Composite25.oracle),
      (Composite26.queries, Composite26.oracle),
      (LlmOps15.queries, LlmOps15.oracle),
      (Composite18.queries, Composite18.oracle),
      (Composite19.queries, Composite19.oracle),
      (SqlSurface.queries, SqlSurface.oracle),
      (Typed.queries, Typed.oracle),
      (Composite28.queries, Composite28.oracle),
      (Composite29.queries, Composite29.oracle),
      (Composite30.queries, Composite30.oracle),
      (Composite31.queries, Composite31.oracle),
      (Composite32.queries, Composite32.oracle),
      (Composite34.queries, Composite34.oracle),
      (graph.Graph.queries, graph.Graph.oracle),
      (dedup.Dedup.queries, dedup.Dedup.oracle),
      (retrieval.Retrieval.queries, retrieval.Retrieval.oracle),
      (corpus.Corpus.queries, corpus.Corpus.oracle),
      (stats.Stats.queries, stats.Stats.oracle),
      (Composite38.queries, Composite38.oracle),
      (Composite39.queries, Composite39.oracle),
      (timeseries.TimeSeries.queries, timeseries.TimeSeries.oracle),
      (Composite67.queries, Composite67.oracle),
      (Composite68.queries, Composite68.oracle),
      (Composite80.queries, Composite80.oracle),
      (dq.DataQuality.queries, dq.DataQuality.oracle)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.aggPricingSummary(spark, "/root/testdata/sf0.001")

  // Map concatenation silently keeps the LAST entry on a key clash —
  // a duplicate id across modules would quietly REPLACE an earlier
  // operator (and its oracle) with a different-semantics namesake and
  // no test would notice the old row vanished. Both surfaces fail
  // fast with the offending ids instead (caught a real r17 collision:
  // a new per-source novelty row nearly shadowed the per-doc
  // llm_ngram_novelty).

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.iterator.flatMap(_._1.keys).toSeq
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate query id(s) across modules: ${dups.mkString(", ")}")
    modules.iterator.map(_._1).reduce(_ ++ _)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val all = modules.iterator.flatMap(_._2.keys).toSeq
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate oracle id(s) across modules: ${dups.mkString(", ")}")
    modules.iterator.map(_._2).reduce(_ ++ _)
  }
}
