package graft.ops.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The graph family: every `graph_*` row, all over the part
  * co-purchase graph ([[CoPurchase]]). One (queries, oracle) pair for
  * SparkEntry. */
object Graph {
  private val parts = Seq(
    (Centrality.queries, Centrality.oracle),
    (Paths.queries, Paths.oracle),
    (Community.queries, Community.oracle),
    (Structure.queries, Structure.oracle),
    (LinkPrediction.queries, LinkPrediction.oracle))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    parts.map(_._1).reduce(_ ++ _)

  val oracle: Map[String, String] = parts.map(_._2).reduce(_ ++ _)
}
