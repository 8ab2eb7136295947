package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** SURVEY.md §2.11 — LLM-training-data pipeline operators: text
  * statistics, TF-IDF and multimodal projection. (The similarity
  * search rows of this section are in [[retrieval.Search]].)
  *
  * Scale design: TF-IDF / text stats are explode → hash-aggregate
  * pipelines; vocabulary cardinality grows sub-linearly with corpus
  * size.
  */
object LlmOps {

  // ---------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_text_stats" -> (textStats _),
    "llm_tfidf" -> (tfidf _),
    "llm_multimodal_cols" -> (multimodal _)
  )

  // Per-language corpus profile + most frequent token.
  private def textStats(s: SparkSession, dir: String): DataFrame = {
      val d = load(s, dir, "documents")
      val stats = d.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      val tokCnt = d.select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang")).orderBy(desc("cnt"), asc("word"))
      val top = tokCnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), col("word").as("top_token"), col("cnt").as("top_token_cnt"))
      stats.join(top, "lang").orderBy("lang")
  }

  // TF-IDF, top-3 terms per doc. idf = ln(N/df) evaluated as one
  // deterministic double formula from exact longs; 6-dp rounding on
  // both sides absorbs libm last-ulp differences.
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
      val d = load(s, dir, "documents")
      val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val tf = toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tcnt"))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          round(col("tcnt").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 6)
            .as("tfidf"))
      val w = Window.partitionBy(col("doc_id")).orderBy(desc("tfidf"), asc("word"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("doc_id", "rn")
  }

  // One relation carrying text + vector + scalar modalities, with
  // cross-modal filter and projections.
  private def multimodal(s: SparkSession, dir: String): DataFrame = {
      val d = load(s, dir, "documents")
      val e = load(s, dir, "embeddings")
      d.join(e, d("doc_id") === e("vec_id"))
        .filter(col("lang").isin("en", "fr") && col("n_chars") > 100)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          size(split(col("text"), " ")).as("n_tokens"),
          size(col("embedding")).as("dim"),
          round(expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
          ), 4).as("norm_sq"),
          col("label"))
        .orderBy("doc_id")
  }

  val oracle: Map[String, String] = Map(
    "llm_text_stats" ->
      """WITH stats AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
        |    count(DISTINCT source) AS n_sources
        |  FROM documents GROUP BY lang),
        |tok AS (
        |  SELECT lang, word, count(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY lang, word),
        |top AS (
        |  SELECT lang, word AS top_token, cnt AS top_token_cnt FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, word) AS rn FROM tok) WHERE rn = 1)
        |SELECT lang, n_docs, sum_chars, avg_chars, n_sources,
        |  top_token, top_token_cnt
        |FROM stats JOIN top USING (lang) ORDER BY lang""".stripMargin,

    "llm_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tcnt FROM toks GROUP BY doc_id, word),
        |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.word AS word,
        |    round(CAST(tcnt AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (
        |  PARTITION BY doc_id ORDER BY tfidf DESC, word) AS INT) AS rn FROM scored)
        |SELECT doc_id, word, tfidf, rn FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,

    "llm_multimodal_cols" ->
      """SELECT doc_id, lang, source, n_chars,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(embedding) AS INT) AS dim,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 4) AS norm_sq,
        |  label
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |WHERE lang IN ('en', 'fr') AND n_chars > 100
        |ORDER BY doc_id""".stripMargin
  )
}
