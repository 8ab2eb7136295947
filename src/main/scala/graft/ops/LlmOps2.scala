package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** SURVEY.md §2.11 wave 2 — the remaining training-data-pipeline
  * operators: language-ID heuristic, quality scoring, PII masking,
  * sequence packing, stratified sampling, token counting, document
  * fingerprinting, the multimodal binary column plumbing, and the
  * hashed word-bigram sets the dedup family's bigram-Jaccard pair
  * scan reads ([[sharedBigramSets]]). (The sign-LSH ANN rows of this
  * wave are in [[retrieval.Ann]].)
  *
  * Scale notes: everything here is per-row scalar work or explode +
  * hash-agg.
  */
object LlmOps2 {

  /** Marker-token lists per language (tiny public stopword samples).
    * The corpus' synthetic text shares one vocabulary across langs, so
    * this demonstrates the operator shape (deterministic n-gram
    * scoring + argmax) rather than real classifier accuracy. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "una"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("de5", "shi4", "le0")) // pinyin-style placeholders

  private def tokenized(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("w"))

  /** Marker-scored language guess per doc: (doc_id, lang, s_<lang>…,
    * guessed). Factored from llm_lang_id so llm_langid_agreement
    * (Composite37) scores the SAME detector it audits. */
  private[graft] def langGuessed(s: SparkSession, dir: String): DataFrame = {
    val scored = markers.foldLeft(tokenized(s, dir)) { case (df, (lang, ms)) =>
      df.withColumn(s"s_$lang",
        size(array_intersect(array_distinct(col("w")),
          array(ms.map(lit): _*))))
    }
    val langs = markers.map(_._1)
    val guess = langs.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case (lang, elseCol) =>
        val best = langs.filter(_ != lang)
          .map(o => col(s"s_$lang") >= col(s"s_$o"))
          .reduce(_ && _) && col(s"s_$lang") > 0
        when(best, lang).otherwise(elseCol)
    }
    scored.select(col("doc_id") +: col("lang") +:
      langs.map(l => col(s"s_$l")) :+ guess.as("guessed"): _*)
  }

  /** SORTED hashed word-bigram sets per doc (materialized token array
    * — see dedup.NearDup.shingleSets on why split must not inline).
    * Bigrams are hashed to longs so the pairwise set ops compare 8-byte
    * values instead of strings, and sorted once per document so the
    * candidate hot loop is a [[graft.functions.SortedJaccard]] merge
    * walk with no per-pair allocation; the oracle compares RAW string
    * bigram sets — identical Jaccard barring a 64-bit collision
    * (~1e-13 at this vocabulary size). */
  private[graft] def bigramSets(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir)
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), size(col("w")).as("n_tok"),
        sort_array(expr("""array_distinct(transform(sequence(0, size(w) - 2),
               |  i -> xxhash64(concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2)))))"""
          .stripMargin)).as("bg"))

  /** Corpus-facing [[bigramSets]] as a DiskMemo parquet view (r18):
    * three rows consume it — `llm_dedup_ngram`, `llm_dedup_cluster`
    * and `llm_dedup_threshold_sweep`, all through the one blocked pair
    * scan `dedup.NearDup.ngramPairs` — and each previously re-ran the
    * tokenize + bigram-hash pipeline per invocation. Content is exact
    * (sorted distinct hashed longs + integer token counts); row order
    * irrelevant (every consumer joins/aggregates). Build timed as
    * `memo_bigramsets`. */
  private[graft] def sharedBigramSets(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "bigramsets")(bigramSets(s, dir))

  /** Multimodal-binary plumbing over a docs frame (doc_id, text,
    * lang, n_chars): text re-encoded as an opaque binary payload +
    * typed metadata, pushed through a partition-local "decode" that
    * is a clearly-marked deterministic STUB for the image/audio
    * decoders this container lacks. The Spark-side shape — binary
    * column, per-partition batch iteration, typed output schema — is
    * the real, tested part (LlmSpec + the SeedSweepSpec matrix). */
  private[graft] def multimodalBinary(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        col("lang"), col("n_chars"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { it =>
        it.map { case (id, payload, lang, nChars) =>
          // STUB decode: real pipelines would decode image/audio
          // here; this deterministic fake extracts byte statistics.
          var checksum = 0L
          var i = 0
          while (i < payload.length) { checksum = checksum * 31 + (payload(i) & 0xff); i += 1 }
          val head = payload.take(8).map(b => f"${b & 0xff}%02x").mkString
          (id, payload.length, checksum, head, lang, nChars)
        }
      }
      .toDF("doc_id", "n_bytes", "checksum", "head_hex", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Composite quality score from token statistics — THE
    * llm_quality_score definition (one deterministic double formula,
    * identical in the oracle), factored so the quality-weighted
    * mixing optimizer reuses the SAME weights. floor(v·10⁶ + 0.5)/10⁶
    * instead of round(v, 6): the ratios are single divisions of exact
    * small ints, so the doubles are bit-identical cross-engine — but
    * Spark's exact-binary HALF_UP and DuckDB's v·10⁶ float rounding
    * split values sitting AT a .5 boundary (the r9 tri-SF straddle);
    * the floor form evaluates identically on both engines. Input
    * needs (doc_id, lang, text); output carries lang through for
    * per-stratum consumers. */
  private[graft] def qualityFull(docs: DataFrame): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    docs
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("w")).as("n_tok"),
        size(array_distinct(col("w"))).as("n_distinct"),
        size(expr(
          "filter(w, t -> array_contains(array('the', 'a', 'of', 'and'), t))"))
          .as("n_stop"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        r6(col("n_distinct").cast("double") / col("n_tok").cast("double"))
          .as("ttr"),
        r6((length(col("text")) - (col("n_tok") - 1)).cast("double") /
          col("n_tok").cast("double")).as("avg_wlen"),
        r6(col("n_stop").cast("double") / col("n_tok").cast("double"))
          .as("stop_ratio"),
        r6(
          (col("n_distinct").cast("double") / col("n_tok").cast("double")) * 0.5 +
            (lit(1.0) - col("n_stop").cast("double") / col("n_tok").cast("double")) * 0.3 +
            least((length(col("text")) - (col("n_tok") - 1)).cast("double") /
              col("n_tok").cast("double") / 10.0, lit(1.0)) * 0.2)
          .as("quality"))
  }

  /** Deterministic md5-threshold stratified keep-set (the
    * llm_sample_stratified_verified predicate): keep iff the first 4
    * lowercase-hex chars of md5('graft'||doc_id) sort below the
    * stratum threshold — '8000' = 1/2 for en, '4000' = 1/4 otherwise
    * (fixed-width lowercase hex: string order == numeric order). */
  private[graft] def stratifiedKeep: org.apache.spark.sql.Column =
    substring(md5(concat(lit("graft"), col("doc_id").cast("string"))), 1, 4) <
      when(col("lang") === "en", "8000").otherwise("4000")

  // ---------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic marker-token language guess (argmax with fixed
    // tie-break order), mirrored formula in the oracle.
    "llm_lang_id" -> ((s: SparkSession, dir: String) =>
      langGuessed(s, dir).orderBy("doc_id")),

    // Composite quality score from token statistics — one
    // deterministic double formula, identical in the oracle.
    // floor(v·10⁶ + 0.5)/10⁶ instead of round(v, 6): the ratios are
    // single divisions of exact small ints, so the doubles are
    // bit-identical cross-engine — but Spark's exact-binary HALF_UP
    // and DuckDB's v*10⁶ float rounding split values sitting AT a .5
    // boundary (the r9 tri-SF straddle, 1/5000 rows at sf0.1). The
    // floor form evaluates identically on both engines.
    "llm_quality_score" -> ((s: SparkSession, dir: String) =>
      qualityFull(load(s, dir, "documents"))
        .select("doc_id", "n_tok", "ttr", "avg_wlen", "stop_ratio", "quality")
        .orderBy("doc_id")),

    // PII-style masking: pattern classes rewritten to placeholder
    // tokens (the shape of email/phone/ID scrubbing; this corpus has
    // no real PII, so digits and vowel-runs stand in for the classes).
    "llm_pii_mask" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "[0-9]+", "<NUM>"),
            "\\b(the|a|of)\\b", "<STOP>").as("masked"))
        .select(col("doc_id"), substring(col("masked"), 1, 120).as("masked_head"),
          length(col("masked")).as("masked_len"))
        .orderBy("doc_id")),

    // Sequence packing: assign docs to fixed-budget context bins
    // (sequential fill by cumulative token count, partitioned by lang
    // — packing is inherently sequential, so at scale each shard
    // packs independently; the per-key window is the scalable form).
    "llm_pack_sequences" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("lang")).orderBy(asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tokenized(s, dir)
        .select(col("lang"), col("doc_id"), size(col("w")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("lang"), col("doc_id"), col("n_tok"),
          floor((col("cum") - col("n_tok")).cast("double") / 512.0).as("bin"))
        .orderBy("lang", "doc_id")
    }),

    // Stratified sampling for data mixing: per-language fractions with
    // a fixed seed. Sampling RNG differs across engines, so no oracle
    // (SURVEY §1.5 r4); LlmSpec asserts per-stratum tolerance.
    "llm_sample_stratified" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .stat.sampleBy("lang",
          Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.25),
          42L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")),

    // Oracle-checked twin of llm_sample_stratified (VERDICT r9 item
    // 5): the SAME per-language fractions (en 0.5, rest 0.25) as a
    // deterministic hash-threshold keep-set instead of seeded RNG.
    // Keep iff the first 4 lowercase-hex chars of md5('graft'||id)
    // sort below the stratum threshold — '8000' = 32768/65536 = 1/2,
    // '4000' = 16384/65536 = 1/4 EXACTLY (fixed-width lowercase hex:
    // string order == numeric order, the hashKeep discipline). The
    // keep-set is a pure row property — reproducible across engines,
    // partitionings, and reruns — so data-mixing reproducibility now
    // rests on the driver's hash compare, not an RNG tolerance; the
    // sampleBy row above stays as the engine-native API demo.
    // Exact-sum-of-kept-ids audit column per the llm_sample_hash
    // conventions (DECIMAL(38,0) accumulate, VARCHAR surface).
    "llm_sample_stratified_verified" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .filter(stratifiedKeep)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("sum_ids"))
        .orderBy("lang")),

    // Whitespace tokens vs BPE-ish regex tokens per doc.
    "llm_token_count" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
            .as("n_re_tokens"),
          length(col("text")).as("n_chars_seen"))
        .orderBy("doc_id")),

    // Content fingerprint over the sorted distinct-token set (md5 so
    // both engines produce identical digests).
    "llm_fingerprint" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          md5(array_join(sort_array(array_distinct(split(col("text"), " "))), " "))
            .as("fingerprint"))
        .select(col("doc_id"), col("fingerprint"),
          substring(col("fingerprint"), 1, 8).as("fp8"))
        .orderBy("doc_id")),

    // Multimodal binary plumbing: text re-encoded as an opaque binary
    // payload + typed metadata, pushed through a partition-local
    // "decode" that is a clearly-marked deterministic STUB for the
    // image/audio decoders this container lacks (the Spark-side shape
    // — binary column, metadata struct, per-partition batch iteration,
    // typed output schema — is the real, tested part). No oracle
    // (binary + stub); asserted in LlmSpec.
    "llm_multimodal_binary" -> ((s: SparkSession, dir: String) =>
      multimodalBinary(load(s, dir, "documents"))),

    // Frame sampling over an opaque payload (the video/audio shape):
    // the payload is cut into fixed 64-byte "frames", every 4th frame
    // is kept, and a per-frame fingerprint is extracted — one output
    // row per (doc, sampled frame ordinal). The "decoder" is md5 (a
    // deterministic stand-in — no media libs in this container); the
    // frame slicing, sampling stride, and explode fan-out are the
    // real, scalable plumbing. Frames are byte slices of the UTF-8
    // text, so the oracle reproduces them exactly from `documents`.
    "llm_multimodal_frames" -> ((s: SparkSession, dir: String) => {
      val frameLen = 64
      val every = 4
      load(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          // div, not `/`: Column `/` is double division
          explode(expr(
            s"filter(sequence(0, (length(text) - 1) div $frameLen), f -> f % $every = 0)"))
            .as("f"))
        .select(col("doc_id"), col("f").cast("long").as("frame_idx"),
          md5(expr(s"substring(text, f * $frameLen + 1, $frameLen)"))
            .as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    })
  )

  val oracle: Map[String, String] = Map(
    "llm_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS dw
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_intersect(dw, ['the', 'a', 'of'])) AS INT) AS s_en,
        |    CAST(len(list_intersect(dw, ['der', 'und', 'die'])) AS INT) AS s_de,
        |    CAST(len(list_intersect(dw, ['el', 'los', 'una'])) AS INT) AS s_es,
        |    CAST(len(list_intersect(dw, ['le', 'et', 'les'])) AS INT) AS s_fr,
        |    CAST(len(list_intersect(dw, ['de5', 'shi4', 'le0'])) AS INT) AS s_zh
        |  FROM t)
        |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
        |  CASE
        |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
        |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
        |    WHEN s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
        |    WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |    WHEN s_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS guessed
        |FROM sc ORDER BY doc_id""".stripMargin,

    "llm_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS INT) AS n_tok,
        |    CAST(len(list_distinct(w)) AS INT) AS n_distinct,
        |    CAST(len(list_filter(w,
        |      t2 -> list_contains(['the', 'a', 'of', 'and'], t2))) AS INT) AS n_stop,
        |    length(text) AS n_chars
        |  FROM t)
        |SELECT doc_id, n_tok,
        |  floor((CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS ttr,
        |  floor((CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS avg_wlen,
        |  floor((CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
        |  floor((
        |    (CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 0.5 +
        |    (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 0.3 +
        |    least(CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE) / 10.0, 1.0) * 0.2
        |    ) * 1000000.0 + 0.5) / 1000000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "llm_sample_stratified_verified" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(CAST(sum(doc_id) AS DECIMAL(38,0)) AS VARCHAR) AS sum_ids
        |FROM documents
        |WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4)
        |  < CASE WHEN lang = 'en' THEN '8000' ELSE '4000' END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_pii_mask" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
        |      '\b(the|a|of)\b', '<STOP>', 'g') AS masked
        |  FROM documents)
        |SELECT doc_id, substring(masked, 1, 120) AS masked_head,
        |  CAST(length(masked) AS INT) AS masked_len
        |FROM m ORDER BY doc_id""".stripMargin,

    "llm_pack_sequences" ->
      """SELECT lang, doc_id, n_tok,
        |  CAST(floor(CAST(cum - n_tok AS DOUBLE) / 512.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
        |    sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |ORDER BY lang, doc_id""".stripMargin,

    "llm_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_re_tokens,
        |  CAST(length(text) AS INT) AS n_chars_seen
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint, substring(fingerprint, 1, 8) AS fp8
        |FROM f ORDER BY doc_id""".stripMargin,

    "llm_multimodal_frames" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |  md5(substring(text, f * 64 + 1, 64)) AS frame_md5
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(list_filter(range(0, (length(text) - 1) // 64 + 1),
        |      f -> f % 4 = 0)) AS f
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin
  )
}
