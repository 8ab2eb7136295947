package graft.ops.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Featurization: the steps that turn documents into training inputs —
  * TF-IDF top terms, hashed bag-of-words features, the inverted index,
  * content and winnowing fingerprints, character chunking, sequence
  * packing, T5-style span masking, per-dimension embedding
  * standardization, and the multimodal column plumbing.
  *
  * Scale shapes: per-row map work (chunking, masking, fingerprints,
  * multimodal projection), or one explode plus one hash aggregate
  * keyed by document or term (TF-IDF, hashed features, the index —
  * posting lists are per-term, bounded by document frequency);
  * standardization broadcasts a 64-row moment table; packing is the
  * one per-language running window.
  *
  * Determinism: hashes are md5 (identical on both engines); the
  * TF-IDF and z-score doubles are 6-dp rounded.
  */
object Features {

  // TF-IDF, top-3 terms per doc. idf = ln(N/df) evaluated as one
  // deterministic double formula from exact longs; 6-dp rounding on
  // both sides absorbs libm last-ulp differences.
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
      val d = load(s, dir, "documents")
      val tf = Text.wordFreq(d, "doc_id")
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          round(col("cnt").cast("double") *
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
          Text.nTokens.as("n_tokens"),
          size(col("embedding")).as("dim"),
          round(expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
          ), 4).as("norm_sq"),
          col("label"))
        .orderBy("doc_id")
  }

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

  /** Fixed-size overlapping character chunks of `textCol`: one row
    * per (id, start) with the `width`-char chunk starting there,
    * strided by `stride` (empty docs yield one empty chunk). A pure
    * map stage — the RAG / context-window prep shape. */
  def docChunks(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0,
      s"docChunks: width ($width) and stride ($stride) must be positive")
    docs.select(col(idCol), col(textCol),
        explode(sequence(lit(0L),
          greatest(length(col(textCol)).cast("long") - 1, lit(0L)),
          lit(stride.toLong))).as("start"))
      .select(col(idCol), col("start"),
        expr(s"substr($textCol, CAST(start + 1 AS INT), $width)").as("chunk"))
  }

  // ---- llm_feature_scale -------------------------------------------
  // Per-dimension z-score standardization of the embedding matrix —
  // the distributed feature-scaling step before clustering/ANN
  // training. posexplode flattens (vector, dim) pairs; per-dim
  // moments are a 64-row aggregate that broadcasts back into the
  // element join; the standardized vector is reassembled by sorting
  // the (pos, z) structs — so the shape is explode → hash agg →
  // broadcast join → hash agg, all linear in elements. The z formula
  // text is shared with the oracle; 6-dp rounding absorbs sum-order
  // drift in the double moments (elements are exact float→double
  // promotions).
  // Guard on the VARIANCE itself, not the sqrt: for a constant
  // dimension fp drift can make sxx/n - (sx/n)^2 tiny-negative (sqrt
  // → NaN) or tiny-positive (exploded z) — either way the promise is
  // "zero-variance dimension yields NULL", so the CASE tests the
  // variance expression directly. Shared text with the oracle.
  private val zFormula =
    """round(CASE WHEN sxx / n - (sx / n) * (sx / n) <= CAST(0 AS DOUBLE)
      |      THEN CAST(NULL AS DOUBLE)
      |      ELSE (v - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)) END,
      |  6)""".stripMargin

  /** Generic per-dimension standardization core over (id, vector) —
    * the [[graft.Graft.standardize]] facade surface. */
  private[graft] def standardizeOn(vectors: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val x = vectors
      .select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("pos0", "f")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"),
        col("f").cast("double").as("v"))
    val stats = x.groupBy("pos").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("v")).as("sx"),
      sum(col("v") * col("v")).as("sxx"))
    x.join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"), expr(zFormula).as("z"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("z")))),
        e => e.getField("z")).as("zvec"))
      .orderBy("vec_id")
  }

  // Query surface: exploded (vec_id, pos, z) rows, NOT the assembled
  // array — the oracle comparer hashes scalar cells only (list
  // cells crash its pandas lexsort), and the exploded surface keeps
  // the comparison total-ordered and cell-exact. The array-returning
  // facade (standardizeOn → Graft.standardize) is unchanged; the
  // query goes through it so the oracle still proves the facade.
  private def featureScale(s: SparkSession, dir: String): DataFrame =
    standardizeOn(load(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), posexplode(col("zvec")).as(Seq("pos0", "z")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("z"))
      .orderBy("vec_id", "pos")

  private val featureScaleOracle =
    s"""WITH x AS (
       |  SELECT vec_id, CAST(r.range AS INT) AS pos,
       |    CAST(embedding[r.range] AS DOUBLE) AS v
       |  FROM embeddings CROSS JOIN range(1, 65) r),
       |stats AS (
       |  SELECT pos, CAST(count(*) AS DOUBLE) AS n,
       |    sum(v) AS sx, sum(v * v) AS sxx
       |  FROM x GROUP BY pos)
       |SELECT vec_id, pos, $zFormula AS z
       |FROM x JOIN stats USING (pos)
       |ORDER BY vec_id, pos""".stripMargin

  // ---- llm_span_mask -----------------------------------------------
  // Mask ≈10% of token positions (md5(doc_id_pos) first byte ≤ 0x19,
  // 26/256) with the sentinel, per document. Deterministic across
  // engines and runs by construction; surfaced as the masked-text
  // checksum plus exact mask counts, which pins every masked
  // position without shipping the full text through the comparer.
  private def spanMask(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), Text.tokens.as("t"))
      .select(col("doc_id"), size(col("t")).cast("bigint").as("n_tokens"),
        expr(
          """transform(sequence(0, size(t) - 1), i ->
            |  CASE WHEN substr(md5(concat(CAST(doc_id AS STRING), '_',
            |                               CAST(i AS STRING))), 1, 2) <= '19'
            |       THEN '<extra_id>'
            |       ELSE element_at(t, CAST(i + 1 AS INT)) END)""".stripMargin)
          .as("m"))
      .select(col("doc_id"), col("n_tokens"),
        expr("CAST(size(filter(m, x -> x = '<extra_id>')) AS BIGINT)")
          .as("n_masked"),
        md5(array_join(col("m"), " ")).as("mask_checksum"))
      .orderBy("doc_id")

  private val spanMaskOracle =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |m AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |    list_transform(range(0, len(t)), i ->
      |      CASE WHEN substr(md5(doc_id || '_' || i), 1, 2) <= '19'
      |           THEN '<extra_id>' ELSE t[i + 1] END) AS m
      |  FROM d)
      |SELECT doc_id, n_tokens,
      |  CAST(len(list_filter(m, x -> x = '<extra_id>')) AS BIGINT) AS n_masked,
      |  md5(array_to_string(m, ' ')) AS mask_checksum
      |FROM m ORDER BY doc_id""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_tfidf" -> (tfidf _),
    "llm_multimodal_cols" -> (multimodal _),
    "llm_feature_scale" -> (featureScale _),
    "llm_span_mask" -> (spanMask _),

    // Sequence packing: assign docs to fixed-budget context bins
    // (sequential fill by cumulative token count, partitioned by lang
    // — packing is inherently sequential, so at scale each shard
    // packs independently; the per-key window is the scalable form).
    "llm_pack_sequences" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("lang")).orderBy(asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Text.tokenized(s, dir)
        .select(col("lang"), col("doc_id"), size(col("w")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("lang"), col("doc_id"), col("n_tok"),
          floor((col("cum") - col("n_tok")).cast("double") / 512.0).as("bin"))
        .orderBy("lang", "doc_id")
    }),

    // Content fingerprint over the sorted distinct-token set (md5 so
    // both engines produce identical digests).
    "llm_fingerprint" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          md5(array_join(sort_array(array_distinct(Text.tokens)), " "))
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
    }),

    // Hashing-trick featurization (Weinberger et al. 2009): terms
    // hashed into a fixed 128-bucket feature space via an md5-prefix
    // (engine-portable, unlike murmur) — the bag-of-words → sparse-
    // vector step that needs NO vocabulary build, so at 100 TB it is
    // one explode + one hash-aggregate with no global dictionary
    // shuffle or broadcast.
    "llm_hash_features" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens).as("t"))
        .select(col("doc_id"),
          (expr("CAST(conv(substring(md5(t), 1, 6), 16, 10) AS BIGINT)")
            % 128).as("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")),

    // Fixed-size overlapping chunking (RAG / context-window prep):
    // one generated start-offset sequence per doc (stride 400, width
    // 500 -> 100-char overlap), exploded and substring'd. Narrow,
    // embarrassingly parallel, no shuffle before the compare sort; at
    // 100 TB this is a pure map stage. Chunks surface as (md5, length)
    // so the dump stays key-sized while still pinning exact content.
    "llm_doc_chunk" -> ((s: SparkSession, dir: String) =>
      docChunks(load(s, dir, "documents"), "doc_id", "text",
          width = 500, stride = 400)
        .select(col("doc_id"), col("start"), md5(col("chunk")).as("chunk_md5"),
          length(col("chunk")).as("chunk_len"))
        .orderBy("doc_id", "start")),

    // Winnowing fingerprints (the MOSS-style local fingerprinting
    // scheme): a word-5-gram's md5 is SELECTED when it is the minimum
    // of its forward window of 4 grams — a deterministic ~1/4
    // subsample that any duplicate passage reproduces regardless of
    // position. Per-row gram explode + one partitioned window; the
    // per-doc fingerprint is the md5 of the sorted selected hashes.
    "llm_winnow_fingerprint" -> ((s: SparkSession, dir: String) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
      load(s, dir, "documents")
        .select(col("doc_id"), Text.tokens.as("wd"))
        .filter(size(col("wd")) >= 5)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, size(wd) - 5),
            |  i -> md5(concat_ws(' ',
            |    element_at(wd, i + 1), element_at(wd, i + 2),
            |    element_at(wd, i + 3), element_at(wd, i + 4),
            |    element_at(wd, i + 5))))""".stripMargin)))
        .toDF("doc_id", "pos", "gh")
        .withColumn("sel", col("gh") === min(col("gh")).over(w))
        .filter(col("sel"))
        .groupBy("doc_id")
        .agg(countDistinct(col("gh")).as("n_fp"),
          md5(concat_ws(",", sort_array(collect_set(col("gh")))))
            .as("fingerprint"))
        .orderBy("doc_id")
    }),

    // Inverted index: term -> document frequency + sorted posting
    // list. collect_list is per-term (bounded by df); the aggregate
    // shuffles once on the term.
    "llm_inverse_index" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(Text.tokens)).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          // canonical joined string, not a list cell: list-valued
          // outputs are compare-hostile (same convention as
          // agg_collect_sorted)
          array_join(sort_array(collect_list(col("doc_id"))), ",")
            .as("postings"))
        .orderBy("term"))
  )

  val oracle: Map[String, String] = Map(
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
        |ORDER BY doc_id""".stripMargin,

    "llm_feature_scale" -> featureScaleOracle,
    "llm_span_mask" -> spanMaskOracle,

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
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "llm_hash_features" ->
      """SELECT doc_id,
        |  CAST(concat('0x', substr(md5(t), 1, 6)) AS BIGINT) % 128 AS bucket,
        |  count(*) AS cnt
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |      FROM documents) x
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "llm_doc_chunk" ->
      """SELECT doc_id, start, md5(chunk) AS chunk_md5,
        |  CAST(length(chunk) AS INT) AS chunk_len
        |FROM (
        |  SELECT doc_id,
        |    unnest(range(0, CAST(greatest(n_chars, 1) AS BIGINT), 400)) AS start,
        |    text
        |  FROM documents) t,
        |LATERAL (SELECT substr(text, CAST(start + 1 AS INT), 500) AS chunk) c
        |ORDER BY doc_id, start""".stripMargin,

    "llm_winnow_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(wd) - 3),
        |    i -> {'pos': i, 'gh': md5(wd[i] || ' ' || wd[i+1] || ' ' ||
        |      wd[i+2] || ' ' || wd[i+3] || ' ' || wd[i+4])})) AS s
        |  FROM t WHERE len(wd) >= 5),
        |h AS (SELECT doc_id, s.pos AS pos, s.gh AS gh FROM g),
        |m AS (
        |  SELECT doc_id, pos, gh,
        |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM h)
        |SELECT doc_id, count(DISTINCT gh) AS n_fp,
        |  md5(array_to_string(list_sort(list(DISTINCT gh)), ',')) AS fingerprint
        |FROM m WHERE gh = wmin
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_inverse_index" ->
      """WITH t AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents))
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM t GROUP BY term ORDER BY term""".stripMargin
  )
}
