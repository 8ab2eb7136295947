package graft.ops.retrieval

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The retrieval family: similarity search, its evaluation, and the
  * embedding geometry both halves share — one query sample, one
  * nearest-centroid rule, one per-query top-k and one exact ground
  * truth, all in [[Neighbors]]. One (queries, oracle) pair for
  * SparkEntry. */
object Retrieval {
  private val parts = Seq(
    (Search.queries, Search.oracle),
    (Ann.queries, Ann.oracle),
    (Evaluation.queries, Evaluation.oracle),
    (Geometry.queries, Geometry.oracle))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    parts.map(_._1).reduce(_ ++ _)

  val oracle: Map[String, String] = parts.map(_._2).reduce(_ ++ _)
}
