package graft.ops.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.dedup.Keys
import graft.util.Tables._

/** Document-level corpus statistics: the per-language profile, token
  * counts and tokenizer fertility under [[Text.tokens]] and
  * [[Text.reTokens]], the token-count histogram, document-length
  * bands and MAD outliers, and the one-row dataset card.
  *
  * Scale shapes: every row is one map-side-combining aggregate over a
  * per-document projection (length-MAD aggregates twice with the
  * 5-row median table broadcast back; the card combines its parts by
  * 1-row crossJoins); only llm_text_stats shuffles the token stream,
  * through the one word-frequency table [[Text.wordFreq]].
  *
  * Determinism: token and character totals are exact integers; ratios
  * are single pinned double divisions, 6-dp rounded or floor-formed;
  * percentiles interpolate identically on exact integer inputs (the
  * agg_percentile_cont precedent).
  */
object Stats {

  // ---- llm_text_stats ----------------------------------------------
  // Per-language corpus profile + most frequent token.
  private def textStats(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
    val stats = d.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
        .as("avg_chars"),
      countDistinct(col("source")).as("n_sources"))
    val w = Window.partitionBy(col("lang")).orderBy(desc("cnt"), asc("word"))
    val top = Text.wordFreq(d, "lang").withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lang"), col("word").as("top_token"), col("cnt").as("top_token_cnt"))
    stats.join(top, "lang").orderBy("lang")
  }

  // ---- llm_token_count ---------------------------------------------
  // Whitespace tokens vs BPE-ish regex tokens per doc.
  private def tokenCount(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), Text.nTokens.as("n_ws_tokens"),
        size(Text.reTokens).as("n_re_tokens"),
        length(col("text")).as("n_chars_seen"))
      .orderBy("doc_id")

  // ---- llm_token_fertility -----------------------------------------
  // Per-language tokenizer-fertility proxies: chars per token and
  // tokens per doc under the corpus whitespace tokenization — the
  // first thing a tokenizer evaluation tabulates per language
  // (fertility differences decide vocabulary allocation). Exact
  // integer sums; the two divisions are single pinned double ops.
  private def tokenFertility(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("lang"), Text.nTokens.as("n_tok"),
        length(col("text")).as("n_chr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_chars"),
        round(sum(col("n_chr")).cast("double") /
          sum(col("n_tok")).cast("double"), 6).as("chars_per_token"),
        round(sum(col("n_tok")).cast("double") /
          count(lit(1)).cast("double"), 6).as("tokens_per_doc"))
      .orderBy("lang")

  private val fertilityOracle =
    """WITH d AS (
      |  SELECT lang, len(string_split(text, ' ')) AS n_tok,
      |    length(text) AS n_chr
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chr) AS BIGINT) AS n_chars,
      |  round(CAST(sum(n_chr) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE), 6)
      |    AS chars_per_token,
      |  round(CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS tokens_per_doc
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---- llm_tokenizer_fertility -----------------------------------------
  // Regex tokens per whitespace word and chars per regex token, per
  // language — the llm_token_count primitives aggregated to the
  // curation decision (which languages cost more tokens per word, the
  // multilingual budget number behind sampling weights). Exact integer
  // totals; each ratio assembles once in double, floor-form 6-dp.
  private[graft] def tokenizerFertilityOn(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        Text.nTokens.cast("long").as("ws"),
        size(Text.reTokens).cast("long").as("re"),
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

  // ---- llm_token_histogram -----------------------------------------
  // log2-bucketed token-count histogram. The bucket is
  // length(bin(n)) - 1 — BOTH engines trim leading zeros from bin(),
  // so the bucket is exact integer arithmetic, immune to the
  // floor(log2(x)) boundary-ulp flip at powers of two.
  private def tokenHistogram(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(Text.nTokens.cast("long").as("n_tok"))
      .filter(col("n_tok") >= 1)
      .select(col("n_tok"), (length(bin(col("n_tok"))) - 1).cast("long")
        .as("log2_bucket"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"),
        sum(col("n_tok")).as("sum_tokens"))
      .orderBy("log2_bucket")

  private val tokenHistogramOracle =
    """WITH t AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT n_tok, CAST(length(bin(n_tok)) - 1 AS BIGINT) AS log2_bucket
      |  FROM t WHERE n_tok >= 1)
      |SELECT log2_bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  min(n_tok) AS min_tokens, max(n_tok) AS max_tokens,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- llm_length_mad ----------------------------------------------
  // Robust per-language length outliers: median and MAD (median
  // absolute deviation) of n_chars, plus the count outside
  // median ± 3·MAD — the outlier gate that, unlike the z-score,
  // a few extreme documents cannot drag. Exact integer inputs;
  // both engines interpolate percentiles identically
  // (agg_percentile_cont precedent). The 5-row median table
  // broadcasts back for the deviation pass.
  private def lengthMad(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("lang"), col("n_chars"))
    val med = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val dev = docs.join(broadcast(med), "lang")
      .select(col("lang"), col("med"),
        abs(col("n_chars").cast("double") - col("med")).as("ad"))
    val madT = dev.groupBy(col("lang"), col("med"))
      .agg(count(lit(1)).as("n_docs"), expr("percentile(ad, 0.5)").as("mad"))
    dev.join(broadcast(madT.select(col("lang"), col("mad"))), "lang")
      .groupBy(col("lang"))
      .agg(sum(when(col("ad") > lit(3.0) * col("mad"), 1L).otherwise(0L))
        .as("n_outliers"))
      .join(madT, "lang")
      .select(col("lang"), col("n_docs"), col("med"), col("mad"),
        col("n_outliers"))
      .orderBy("lang")
  }

  private val lengthMadOracle =
    """WITH med AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
      |  FROM documents GROUP BY lang),
      |dev AS (
      |  SELECT d.lang, med, abs(CAST(n_chars AS DOUBLE) - med) AS ad
      |  FROM documents d JOIN med ON d.lang = med.lang),
      |madt AS (
      |  SELECT lang, med, CAST(count(*) AS BIGINT) AS n_docs,
      |    quantile_cont(ad, 0.5) AS mad
      |  FROM dev GROUP BY lang, med),
      |o AS (
      |  SELECT dev.lang,
      |    CAST(sum(CASE WHEN ad > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_outliers
      |  FROM dev JOIN madt ON dev.lang = madt.lang
      |  GROUP BY dev.lang)
      |SELECT madt.lang, n_docs, med, mad, n_outliers
      |FROM madt JOIN o ON madt.lang = o.lang
      |ORDER BY madt.lang""".stripMargin

  // ---- llm_doc_length_by_source ------------------------------------
  // Per-source document-length quantile bands — the corpus-balance
  // check run before fixing a mixture. One hash aggregate per source;
  // interpolated quantiles agree bit-wise across engines (the
  // percentile/quantile_cont convention already pinned by
  // agg_percentile_cont).
  private def docLengthBySource(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(n_chars, 0.1)"), 6).as("p10_chars"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")

  private val docLengthBySourceOracle =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(quantile_cont(n_chars, 0.1), 6) AS p10_chars,
      |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
      |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- llm_dataset_card --------------------------------------------
  // The corpus datasheet: one audit row a dataset release ships with
  // ("Datasheets for Datasets", Gebru 2018). Single text scan feeding
  // a token aggregate, one dense_rank exchange for the
  // duplicated-opening rate, and categorical entropies over the tiny
  // source/lang alphabets — all combined by 1-row crossJoins.

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
        Text.nTokens.as("n_tok"),
        Keys.prefixHash(Text.tokens, 30).as("ph"))
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
    "llm_text_stats" -> (textStats _),
    "llm_token_count" -> (tokenCount _),
    "llm_token_fertility" -> (tokenFertility _),
    "llm_tokenizer_fertility" -> (tokenizerFertility _),
    "llm_token_histogram" -> (tokenHistogram _),
    "llm_length_mad" -> (lengthMad _),
    "llm_doc_length_by_source" -> (docLengthBySource _),
    "llm_dataset_card" -> (datasetCard _)
  )

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

    "llm_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_re_tokens,
        |  CAST(length(text) AS INT) AS n_chars_seen
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_token_fertility" -> fertilityOracle,

    "llm_tokenizer_fertility" -> tokenizerFertilityOracle,

    "llm_token_histogram" -> tokenHistogramOracle,

    "llm_length_mad" -> lengthMadOracle,

    "llm_doc_length_by_source" -> docLengthBySourceOracle,

    "llm_dataset_card" -> datasetCardOracle
  )
}
