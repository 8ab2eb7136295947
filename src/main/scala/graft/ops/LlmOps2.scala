package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSim
import graft.util.Tables._

/** SURVEY.md §2.11 wave 2 — the remaining training-data-pipeline
  * operators: language-ID heuristic, quality scoring, sign-LSH ANN
  * search, PII masking, sequence packing, stratified sampling, token
  * counting, document fingerprinting, the multimodal binary column
  * plumbing, and the hashed word-bigram sets the dedup family's
  * bigram-Jaccard pair scan reads ([[sharedBigramSets]]).
  *
  * Scale notes:
  *  - ANN search equi-joins on sign-projection buckets: candidate
  *    pairs shrink ~bucket-count-fold, the standard ANN scale path;
  *    the in-bucket compare reuses the fused
  *    [[graft.functions.CosineSim]] codegen kernel.
  *  - Everything else is per-row scalar work or explode + hash-agg.
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

  // ------------------------------------------------- ANN (sign-LSH)

  private val AnnTables = 4
  private val AnnBits = 8

  /** Sign-random-projection buckets, one per table: bit b of table t
    * = sign of the dot product with a deterministic pseudo-random
    * projection vector (components derived from
    * xxhash64(t*bits+b, dim) — fixed seeds, no RNG). Computed per row
    * by the codegen kernel [[graft.functions.SignBuckets]]: all 32
    * projections in one pass over the vector, no explode (the retired
    * aggregate shape shuffled one row per DIMENSION with 32 buffers
    * per vector; a HOF-fold formulation interpreted 32 lambdas per
    * row). Value-identical to the aggregate form — asserted per
    * vector in LlmSpec. */
  private[graft] def annBuckets(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        graft.functions.SignBuckets(col("embedding"), AnnTables, AnnBits)
          .as("bk"))
      .filter(col("bk").isNotNull)
      .select(col("vec_id") +:
        (0 until AnnTables).map(t => col("bk").getItem(t).as(s"bucket$t")): _*)

  /** LSH-bucketed approximate top-k: candidates are vectors sharing
    * any (table, bucket) with the query — the ANN scale path for the
    * brute-force `llm_simsearch_topk`/`knn` baselines. Candidate
    * generation is an equi-join on (table, bucket); only in-bucket
    * pairs are ranked (with the fused CosineSim kernel), so cost
    * follows bucket occupancy, not n². Recall depends on data
    * clustering; identical/near-identical vectors share all buckets
    * by construction (asserted with planted duplicates in LlmSpec). */
  private[graft] def annTopK(embeddings: DataFrame,
      isQuery: org.apache.spark.sql.Column, k: Int): DataFrame =
    annTopKFromBuckets(annBuckets(embeddings), embeddings, isQuery, k)

  /** Bucket-join + fused-cosine ranking stage over any
    * (vec_id, bucket0..bucket{tables-1}) signature relation — shared
    * by the xxhash64 production row and its md5-based verified twin
    * (the dedup.NearDup.simhashPairsFromSims discipline), so the
    * candidate pipeline under oracle check IS the production one. */
  private[graft] def annTopKFromBuckets(buckets: DataFrame,
      embeddings: DataFrame,
      isQuery: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val bucketed = buckets
      .select(col("vec_id"),
        posexplode(array((0 until AnnTables).map(t => col(s"bucket$t")): _*)))
      .toDF("vec_id", "tbl", "bucket")
    // Dedup multi-table hits on the bare key pair BEFORE re-attaching
    // the vectors: deduping rows that carry array columns degrades the
    // aggregate to a sort-based one over the array buffers.
    val cand = bucketed
      .join(bucketed.filter(isQuery)
        .select(col("tbl"), col("bucket"), col("vec_id").as("q_id")),
        Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    // Only the QUERY vectors are broadcast (small by contract); the
    // corpus side joins on vec_id and shuffles — broadcasting the full
    // corpus would cap the operator at the 8 GB broadcast limit and
    // contradict the scale path this operator exists to provide.
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val qVecs = embeddings.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
    cand
      .join(broadcast(qVecs), "q_id")
      .join(vecs, "vec_id")
      // floor(v*1e6 + 0.5)/1e6, not round(v, 6): the SURVEY §1.5
      // shared-rounding form that evaluates identically on identical
      // doubles in both engines (round() itself diverges within an
      // ulp of a .5 boundary) — required because the verified twin
      // below hash-compares this very column.
      .select(col("q_id"), col("vec_id"),
        (floor(CosineSim(col("q_emb"), col("embedding")) * lit(1e6) + lit(0.5))
          / lit(1e6)).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("q_id", "rn")
  }

  /** md5-derived lane-major ±1 projection matrix for the verified ANN
    * twin: sign(p, d) = +1 iff the 60-bit integer prefix of
    * md5("ann<p>:<d>") is even, p in [0, 32), d in [1, 64] (1-indexed
    * to match DuckDB's embedding[d]). Both engines derive the SAME
    * matrix independently — Scala here, `md5('ann' || p || ':' || d)`
    * in the oracle SQL — so no seed crosses an engine boundary. */
  private[graft] val AnnVerifiedDims = 64
  private lazy val annVerifiedSigns: Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(AnnTables * AnnBits * AnnVerifiedDims) { idx =>
      val p = idx / AnnVerifiedDims
      val d = idx % AnnVerifiedDims + 1
      md.reset()
      val hex = md.digest(s"ann$p:$d".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.toByte else -1.toByte
    }
  }

  /** Sign buckets from the md5 matrix via the one-pass exact-int64
    * kernel [[graft.functions.SignBucketsExact]] — same execution
    * shape as the production [[annBuckets]] (no explode, no shuffle),
    * exactly reproducible by the oracle's SQL bit grid. */
  private[graft] def annVerifiedBuckets(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        graft.functions.SignBucketsExact(col("embedding"), AnnTables, AnnBits,
          annVerifiedSigns).as("bk"))
      .filter(col("bk").isNotNull)
      .select(col("vec_id") +:
        (0 until AnnTables).map(t => col("bk").getItem(t).as(s"bucket$t")): _*)

  // ---------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH-bucketed ANN top-5 for the deterministic query subset — the
    // scale path beside the brute-force knn baseline. No oracle
    // (xxhash64-seeded projections — the verified twin below covers
    // the pipeline); planted-duplicate recall in LlmSpec.
    "llm_simsearch_ann" -> ((s: SparkSession, dir: String) =>
      annTopK(load(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5)),

    // Oracle-checked twin of llm_simsearch_ann (VERDICT r10 item 2 —
    // the last scale-path row outside the driver's hard signal): the
    // row above is ✗ only because its sign projections are seeded
    // with xxhash64, which DuckDB cannot compute. This twin derives a
    // ±1 projection matrix from md5 (shared derivation, see
    // annVerifiedSigns), quantizes each component to exact int
    // milli-units so the 32 sign tests are pure int64 arithmetic in
    // BOTH engines (no float-summation-order hazard), and runs the
    // IDENTICAL production bucket-join + fused-cosine ranking via
    // annTopKFromBuckets. DuckDB replicates the signature with an
    // unnested sign grid + quantized dot sums, then ranks candidates
    // with the same §1.5 shared-rounding cosine — the whole sign-LSH
    // ANN tier (bucketing, candidate generation, ranking) is now
    // hash-compared every round, not just planted-pair ScalaTest.
    "llm_simsearch_ann_verified" -> ((s: SparkSession, dir: String) =>
      annTopKFromBuckets(
        annVerifiedBuckets(load(s, dir, "embeddings")),
        load(s, dir, "embeddings"), col("vec_id") % 100 === 0, k = 5)),

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

    // Full replica of the md5-matrix sign-LSH ANN pipeline: sign grid
    // (parity of the 60-bit md5 prefix, the annVerifiedSigns
    // derivation), exact milli-unit quantization, int64 dot sums,
    // bit-packed buckets, any-(table,bucket) candidate join, and the
    // §1.5 floor-form cosine ranking with (cos_sim DESC, vec_id)
    // tie-break — stage for stage the annTopKFromBuckets plan.
    "llm_simsearch_ann_verified" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS d),
        |projs AS (SELECT unnest(range(0, 32)) AS p),
        |signs AS (
        |  SELECT p.p, d.d,
        |    CASE WHEN CAST(concat('0x',
        |        substr(md5('ann' || p.p || ':' || d.d), 1, 15)) AS BIGINT)
        |        % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM projs p CROSS JOIN dims d),
        |q AS (
        |  SELECT vec_id, d.d,
        |    CAST(floor(CAST(embedding[d.d] AS DOUBLE) * 1000.0 + 0.5)
        |      AS BIGINT) AS qv
        |  FROM embeddings CROSS JOIN dims d
        |  WHERE len(embedding) = 64),
        |pr AS (
        |  SELECT q.vec_id, s.p, sum(s.s * q.qv) AS dot
        |  FROM q JOIN signs s ON s.d = q.d
        |  GROUP BY 1, 2),
        |bits AS (
        |  SELECT vec_id, p // 8 AS tbl,
        |    CAST(sum(CASE WHEN dot >= 0 THEN (1 << (p % 8)) ELSE 0 END)
        |      AS BIGINT) AS bucket
        |  FROM pr GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id
        |  FROM bits qb JOIN bits cb
        |    ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
        |  WHERE qb.vec_id % 100 = 0 AND cb.vec_id <> qb.vec_id),
        |scored AS (
        |  SELECT c.q_id, c.vec_id,
        |    floor(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |      CAST(ce.embedding AS DOUBLE[])) * 1e6 + 0.5) / 1e6 AS cos_sim
        |  FROM cand c
        |  JOIN embeddings qe ON qe.vec_id = c.q_id
        |  JOIN embeddings ce ON ce.vec_id = c.vec_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cos_sim, row_number() OVER (
        |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT q_id, vec_id, cos_sim, CAST(rn AS INT) AS rn
        |FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

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
