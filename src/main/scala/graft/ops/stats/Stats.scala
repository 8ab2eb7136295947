package graft.ops.stats

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The hypothesis-test family: two-sample, k-sample, paired and
  * block-design tests, association measures and normality tests —
  * every row that tests a hypothesis about the TPC-H value
  * distributions, built on the shared samples, moments and rounding in
  * [[Samples]]. One (queries, oracle) pair for SparkEntry. */
object Stats {
  private val parts = Seq(
    (TwoSample.queries, TwoSample.oracle),
    (KSample.queries, KSample.oracle),
    (Blocked.queries, Blocked.oracle),
    (Association.queries, Association.oracle),
    (Normality.queries, Normality.oracle))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    parts.map(_._1).reduce(_ ++ _)

  val oracle: Map[String, String] = parts.map(_._2).reduce(_ ++ _)
}
