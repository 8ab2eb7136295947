package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.56 (round-23 batch 5) — tokenizer economics:
  *
  *  - [[tokenizerFertility]]: tokenizer fertility per language —
  *    regex-token-per-whitespace-word and chars-per-regex-token
  *    ratios (the `llm_token_count` primitives aggregated to the
  *    curation decision: which languages cost more tokens per word —
  *    the multilingual budget number behind sampling weights).
  *
  * Scale shape: a single map-side-combining hash aggregate over
  * per-doc token counts (codegen'd split/regexp, no UDFs).
  *
  * Determinism: token totals are exact integers; fertility assembles
  * once in double, floor-form 6-dp (§1.5).
  */
object Composite40 {

  // ---- llm_tokenizer_fertility -----------------------------------------
  private[graft] def tokenizerFertilityOn(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .cast("long").as("re"),
        length(col("text")).cast("long").as("ch"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_ws_tokens"),
        sum(col("re")).as("n_re_tokens"), sum(col("ch")).as("n_chars"))
      .selectExpr("lang", "n_docs", "n_ws_tokens", "n_re_tokens",
        """floor((CAST(n_re_tokens AS DOUBLE)/n_ws_tokens)*1e6 + 0.5)/1e6
          | AS fertility""".stripMargin,
        """floor((CAST(n_chars AS DOUBLE)/n_re_tokens)*1e6 + 0.5)/1e6
          | AS chars_per_token""".stripMargin)
      .orderBy("lang")

  private def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    tokenizerFertilityOn(load(s, dir, "documents"))

  private val tokenizerFertilityOracle =
    """WITH m AS (
      |  SELECT lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re,
      |    CAST(length(text) AS BIGINT) AS ch
      |  FROM documents),
      |g AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
      |    CAST(sum(re) AS BIGINT) AS n_re_tokens,
      |    CAST(sum(ch) AS BIGINT) AS n_chars
      |  FROM m GROUP BY 1)
      |SELECT lang, n_docs, n_ws_tokens, n_re_tokens,
      |  floor((CAST(n_re_tokens AS DOUBLE)/n_ws_tokens)*1e6 + 0.5)/1e6
      |   AS fertility,
      |  floor((CAST(n_chars AS DOUBLE)/n_re_tokens)*1e6 + 0.5)/1e6
      |   AS chars_per_token
      |FROM g ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_tokenizer_fertility" -> (tokenizerFertility _)
  )

  val oracle: Map[String, String] = Map(
    "llm_tokenizer_fertility" -> tokenizerFertilityOracle
  )
}
