package graft.ops.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dedup family: every row that finds, grades or resolves
  * duplicated documents, spans or vectors, keyed through the
  * definitions in [[Keys]]. One (queries, oracle) pair for
  * SparkEntry. */
object Dedup {
  private val parts = Seq(
    (Keys.queries, Keys.oracle),
    (Shingles.queries, Shingles.oracle),
    (NearDup.queries, NearDup.oracle),
    (Clusters.queries, Clusters.oracle))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    parts.map(_._1).reduce(_ ++ _)

  val oracle: Map[String, String] = parts.map(_._2).reduce(_ ++ _)
}
