package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.dedup.Keys
import graft.util.Tables._

/** SURVEY.md §2.34 (cont.) — the corpus datasheet: one audit row a
  * dataset release ships with ("Datasheets for Datasets", Gebru
  * 2018). Single text scan feeding a token aggregate, one
  * dense_rank exchange for the duplicated-opening rate, and
  * categorical entropies over the tiny source/lang alphabets — all
  * combined by 1-row crossJoins.
  */
object LlmOps16 {

  // entropy in bits over exact category counts: log2(n) − Σc·log2(c)/n
  // (the agg_entropy formula — ≤20 terms, 6-dp rounding absorbs
  // ordering drift)
  private def entropyBits(counts: DataFrame, cCol: String): DataFrame =
    counts.agg(
      round(log2(sum(col(cCol)).cast("double")) -
        sum(col(cCol).cast("double") * log2(col(cCol).cast("double"))) /
          sum(col(cCol)).cast("double"), 6).as("h"))

  private def datasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).as("n_tok"),
        Keys.prefixHash(split(col("text"), " "), 30).as("ph"))
    val flagged = Keys.sharedKeyFlag(d, "ph", "pdup")
    val core = flagged.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).cast("bigint").as("n_tokens"),
      round(avg(col("n_tok").cast("double")), 6).as("mean_tokens"),
      expr("percentile(n_tok, 0.5)").as("p50_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      round(sum(when(col("pdup"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double"), 6).as("dup_opening_rate"))
    val srcH = entropyBits(
      d.groupBy("source").agg(count(lit(1)).as("c")), "c")
      .withColumnRenamed("h", "source_entropy_bits")
    val langH = entropyBits(
      d.groupBy("lang").agg(count(lit(1)).as("c")), "c")
      .withColumnRenamed("h", "lang_entropy_bits")
    core.crossJoin(broadcast(srcH)).crossJoin(broadcast(langH))
  }

  private val datasetCardOracle =
    """WITH d AS (
      |  SELECT doc_id, source, lang,
      |    len(string_split(text, ' ')) AS n_tok,
      |    md5(array_to_string(
      |      list_slice(string_split(text, ' '), 1, 30), ' ')) AS ph
      |  FROM documents),
      |pd AS (SELECT ph FROM d GROUP BY ph
      |       HAVING count(DISTINCT doc_id) >= 2),
      |core AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |    round(avg(CAST(n_tok AS DOUBLE)), 6) AS mean_tokens,
      |    quantile_cont(CAST(n_tok AS DOUBLE), 0.5) AS p50_tokens,
      |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |    round(CAST(sum(CASE WHEN pd.ph IS NOT NULL THEN 1 ELSE 0 END)
      |        AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_opening_rate
      |  FROM d LEFT JOIN pd ON d.ph = pd.ph),
      |sh AS (
      |  SELECT round(log2(CAST(sum(c) AS DOUBLE)) -
      |    sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) /
      |      CAST(sum(c) AS DOUBLE), 6) AS source_entropy_bits
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM d GROUP BY source)),
      |lh AS (
      |  SELECT round(log2(CAST(sum(c) AS DOUBLE)) -
      |    sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) /
      |      CAST(sum(c) AS DOUBLE), 6) AS lang_entropy_bits
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM d GROUP BY lang))
      |SELECT core.*, sh.source_entropy_bits, lh.lang_entropy_bits
      |FROM core CROSS JOIN sh CROSS JOIN lh""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dataset_card" -> (datasetCard _)
  )

  val oracle: Map[String, String] = Map(
    "llm_dataset_card" -> datasetCardOracle
  )
}
