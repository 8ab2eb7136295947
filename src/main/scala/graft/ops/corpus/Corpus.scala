package graft.ops.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The corpus family: the training-data pipeline's document
  * statistics, vocabulary audits, quality filters, sampling and mixing
  * rules, and featurization steps — every row that reads
  * `documents.text` through the one tokenization in [[Text]]. One
  * (queries, oracle) pair for SparkEntry. */
object Corpus {
  private val parts = Seq(
    (Stats.queries, Stats.oracle),
    (Vocabulary.queries, Vocabulary.oracle),
    (Quality.queries, Quality.oracle),
    (Sampling.queries, Sampling.oracle),
    (Features.queries, Features.oracle))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    parts.map(_._1).reduce(_ ++ _)

  val oracle: Map[String, String] = parts.map(_._2).reduce(_ ++ _)
}
