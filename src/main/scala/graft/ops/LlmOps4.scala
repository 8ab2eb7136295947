package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.11 (round-4 additions) — the reproducible-sampling,
  * quantization, bigram-LM, chunking and inverted-index primitives of
  * a training-data pipeline:
  *
  *  - hash-threshold sampling: `md5(salt || id)` prefix compared
  *    lexicographically (fixed-width lowercase hex, so string order ==
  *    numeric order). Unlike seeded RNG sampling, the keep-set is a
  *    pure row property — reproducible across engines, partitionings,
  *    and reruns, which is what makes ablation corpora auditable.
  *    (Contrast `llm_sample_stratified`, which demonstrates the
  *    engine-native `sampleBy` and is unavoidably engine-specific.)
  *
  *  - int8 symmetric quantization of embedding vectors (per-vector
  *    max-abs scale), surfaced as the reconstruction error — the
  *    compression step before ANN index shipping. Per-row HOF math on
  *    a 64-wide array; `floor(x + 0.5)` not `round` (Spark HALF_UPs
  *    doubles, DuckDB banker-rounds — floor(+0.5) is identical in
  *    both).
  *
  *  - inverted index: term -> sorted posting list + document
  *    frequency. One explode + one hash aggregate, partitioned by
  *    term; posting lists are per-term, so the collect_list buffer is
  *    bounded by document frequency, not corpus size.
  */
object LlmOps4 {

  /** Deterministic hash-threshold keep predicate: lowercase-hex md5
    * prefix compared as a string (fixed width => numeric order).
    * `hexMax` "28" keeps (2*16+8+1)/256 ~ 16% of rows. Validated:
    * an uppercase or wrong-width threshold would silently change the
    * kept fraction (lowercase hex sorts above 'F'). */
  private[graft] def hashKeep(id: Column, hexMax: String): Column = {
    require(hexMax.matches("[0-9a-f]{2}"),
      s"hashKeep: hexMax '$hexMax' must be exactly 2 lowercase hex chars")
    substring(md5(concat(lit("graft"), id.cast("string"))), 1, 2) <= hexMax
  }

  /** Word-bigram pairs (doc_id, w1, w2) of any (doc_id, text)
    * relation. The token array is materialized ONCE per doc (HOF
    * lambdas are interpreted — split() must not be inlined). Shared
    * by the LM estimate and the LM-scoring operators. */
  private[graft] def bigramPairs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(w) - 2),
          |  i -> struct(element_at(w, i + 1) AS w1,
          |              element_at(w, i + 2) AS w2))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Corpus bigram LM: (w1, w2, c12, prob = c12 / c(w1 ·)) from exact
    * integer counts. Both aggregates hash-partition on the leading
    * word. SINGLE definition — `llm_ngram_lm`, `llm_lm_score`, and
    * the facade all derive from it. */
  private[graft] def bigramLm(docs: DataFrame): DataFrame = {
    val pairs = bigramPairs(docs)
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    c12.join(broadcast(c1), "w1")
      .select(col("w1"), col("w2"), col("c12"),
        (col("c12").cast("double") / col("c1")).as("prob"))
  }

  /** Per-doc cross-entropy under the corpus's own bigram LM: the
    * vocabulary-sized LM broadcasts, doc bigrams join it without
    * shuffling, one hash-agg per doc. */
  private[graft] def lmScore(docs: DataFrame): DataFrame =
    bigramPairs(docs)
      .join(broadcast(bigramLm(docs).select("w1", "w2", "prob")),
        Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2(col("prob"))), 6).as("xent"))

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gopher-style quality rules (Rae et al. 2021, arXiv:2112.11446
    // table A1, thresholds adapted to this corpus' 10-99-word docs):
    // word-count band, mean-word-length band, minimum stopword count,
    // and a short-word-fraction cap — each surfaced as its own flag
    // plus the conjunction, so downstream filtering can audit WHICH
    // rule dropped a doc. Pure per-row projection; no shuffle.
    "llm_quality_gopher" -> ((s: SparkSession, dir: String) => {
      val w = split(col("text"), " ")
      val nTok = size(w).cast("double")
      val meanWlen = (length(col("text")) - (size(w) - 1)).cast("double") / nTok
      val nStop = size(expr(
        "filter(split(text, ' '), t -> array_contains(array('the','a','of','and'), t))"))
      val shortFrac = size(expr(
        "filter(split(text, ' '), t -> length(t) <= 1)")).cast("double") / nTok
      load(s, dir, "documents")
        .select(col("doc_id"), size(w).as("n_tok"),
          round(meanWlen, 6).as("mean_wlen"),
          nStop.as("n_stop"), round(shortFrac, 6).as("short_frac"),
          (size(w) >= 20 && size(w) <= 80).as("r_len"),
          (meanWlen >= 3.0 && meanWlen <= 10.0).as("r_wlen"),
          (nStop >= 2).as("r_stop"),
          (shortFrac <= 0.1).as("r_short"))
        .withColumn("pass",
          col("r_len") && col("r_wlen") && col("r_stop") && col("r_short"))
        .orderBy("doc_id")
    }),

    // Hashing-trick featurization (Weinberger et al. 2009): terms
    // hashed into a fixed 128-bucket feature space via an md5-prefix
    // (engine-portable, unlike murmur) — the bag-of-words → sparse-
    // vector step that needs NO vocabulary build, so at 100 TB it is
    // one explode + one hash-aggregate with no global dictionary
    // shuffle or broadcast.
    "llm_hash_features" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
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

    // Reproducible stratified sample: md5-prefix threshold per row,
    // per-source kept counts + kept-id checksum (proves the SELECTION
    // is deterministic, not just the count). The checksum accumulates
    // in DECIMAL(38,0): a BIGINT sum of 10^10 kept ids overflows (and
    // throws under ANSI mode) at the corpus sizes this targets. The
    // SURFACE is VARCHAR: decimal128 parquet bytes and DuckDB HUGEINT
    // sums hash differently under typed comparison even when the
    // values are equal, so both sides canonicalize post-aggregation.
    "llm_sample_hash" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .filter(hashKeep(col("doc_id"), "28"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("sum_ids"))
        .orderBy("source")),

    // Int8 symmetric quantization: per-vector scale = 127/max|x|,
    // reconstruction MAE after dequantization. All double math with
    // floor(x+0.5) rounding so the oracle is bit-identical.
    "llm_embed_quantize" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "embeddings")
        .filter(col("embedding").isNotNull &&
          !expr("exists(embedding, x -> x is null)"))
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("d"))
        .withColumn("mx", expr("array_max(transform(d, x -> abs(x)))"))
        .filter(col("mx") > 0)
        .withColumn("scale", lit(127.0) / col("mx"))
        .withColumn("mae", expr(
          """aggregate(d, cast(0.0 as double),
            |  (acc, x) -> acc + abs(x - floor(x * scale + 0.5) / scale),
            |  acc -> acc / size(d))""".stripMargin))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          round(col("mae"), 6).as("mae"))
        .orderBy("vec_id")),

    // Bigram language-model estimates: P(w2|w1) = c(w1 w2) / c(w1 ·)
    // — see [[bigramLm]] for the plan shape.
    "llm_ngram_lm" -> ((s: SparkSession, dir: String) =>
      bigramLm(load(s, dir, "documents"))
        .select(col("w1"), col("w2"), col("c12"),
          round(col("prob"), 6).as("p"))
        .orderBy("w1", "w2")),

    // Per-doc cross-entropy under the corpus's own bigram LM — the
    // classic LM-based quality filter ([[lmScore]]). avg(-log2 p) is
    // a double mean over ~10^2 terms/doc — association noise ~1e-14,
    // absorbed by the 6-dp rounding both engines share.
    "llm_lm_score" -> ((s: SparkSession, dir: String) =>
      lmScore(load(s, dir, "documents")).orderBy("doc_id")),

    // CCNet-style perplexity bucketing: docs split into head/middle/
    // tail terciles of LM cross-entropy WITHIN each language (the
    // language-conditioned quality tiers the CCNet pipeline samples
    // from). Ranks come from the already-rounded xent with a doc_id
    // tiebreak, so the tercile boundaries are exact. The ntile window
    // shuffles on lang (low-cardinality by nature) — at 100 TB the
    // scale path is approx_percentile boundaries broadcast back, which
    // avoids ranking entirely; exact terciles are the oracle-checkable
    // contract here.
    "llm_perplexity_buckets" -> ((s: SparkSession, dir: String) => {
      val docs = load(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("xent"), col("doc_id"))
      lmScore(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("xent")), 6).as("min_xent"),
          round(max(col("xent")), 6).as("max_xent"))
        .orderBy("lang", "bucket")
    }),

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
        .select(col("doc_id"), split(col("text"), " ").as("wd"))
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
          explode(array_distinct(split(col("text"), " "))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          // canonical joined string, not a list cell: list-valued
          // outputs are compare-hostile (same convention as
          // agg_collect_sorted)
          array_join(sort_array(collect_list(col("doc_id"))), ",")
            .as("postings"))
        .orderBy("term"))
  )

  /** ONE oracle-side definition of the bigram LM and the per-doc
    * cross-entropy table `x` — shared by llm_lm_score and
    * llm_perplexity_buckets exactly as [[lmScore]] is on the Spark
    * side, so the two formulations cannot drift apart. */
  private val lmXentCtes =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |q AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> {'w1': w[i], 'w2': w[i + 1]})) AS s
      |  FROM t WHERE len(w) >= 2),
      |pr AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM q),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY w1),
      |lm AS (
      |  SELECT c12.w1, c12.w2,
      |    CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS prob
      |  FROM c12 JOIN c1 ON c12.w1 = c1.w1),
      |x AS (
      |  SELECT pr.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    round(avg(-log2(lm.prob)), 6) AS xent
      |  FROM pr JOIN lm ON pr.w1 = lm.w1 AND pr.w2 = lm.w2
      |  GROUP BY pr.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "llm_hash_features" ->
      """SELECT doc_id,
        |  CAST(concat('0x', substr(md5(t), 1, 6)) AS BIGINT) % 128 AS bucket,
        |  count(*) AS cnt
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |      FROM documents) x
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "llm_quality_gopher" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS INT) AS n_tok,
        |    CAST(length(text) - (len(w) - 1) AS DOUBLE) /
        |      CAST(len(w) AS DOUBLE) AS mean_wlen,
        |    CAST(len(list_filter(w,
        |      t -> list_contains(['the','a','of','and'], t))) AS INT) AS n_stop,
        |    CAST(len(list_filter(w, t -> length(t) <= 1)) AS DOUBLE) /
        |      CAST(len(w) AS DOUBLE) AS short_frac
        |  FROM t)
        |SELECT doc_id, n_tok, round(mean_wlen, 6) AS mean_wlen, n_stop,
        |  round(short_frac, 6) AS short_frac,
        |  n_tok >= 20 AND n_tok <= 80 AS r_len,
        |  mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS r_wlen,
        |  n_stop >= 2 AS r_stop,
        |  short_frac <= 0.1 AS r_short,
        |  (n_tok >= 20 AND n_tok <= 80) AND
        |    (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AND
        |    n_stop >= 2 AND short_frac <= 0.1 AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

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

    "llm_sample_hash" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(CAST(sum(doc_id) AS DECIMAL(38,0)) AS VARCHAR) AS sum_ids
        |FROM documents
        |WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 2) <= '28'
        |GROUP BY source ORDER BY source""".stripMargin,

    "llm_embed_quantize" ->
      """WITH d AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |m AS (
        |  SELECT vec_id, d,
        |    list_max(list_transform(d, x -> abs(x))) AS mx FROM d),
        |q AS (
        |  SELECT vec_id, 127.0 / mx AS scale,
        |    list_sum(list_transform(d,
        |      x -> abs(x - floor(x * (127.0 / mx) + 0.5) / (127.0 / mx))))
        |      / len(d) AS mae
        |  FROM m WHERE mx > 0)
        |SELECT vec_id, round(scale, 6) AS scale, round(mae, 6) AS mae
        |FROM q ORDER BY vec_id""".stripMargin,

    "llm_ngram_lm" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS w FROM documents),
        |q AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> {'w1': w[i], 'w2': w[i + 1]})) AS s
        |  FROM t WHERE len(w) >= 2),
        |pr AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM q),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY w1)
        |SELECT c12.w1, c12.w2, c12.c12,
        |  round(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE), 6) AS p
        |FROM c12 JOIN c1 ON c12.w1 = c1.w1
        |ORDER BY c12.w1, c12.w2""".stripMargin,

    "llm_lm_score" ->
      s"""$lmXentCtes
         |SELECT doc_id, n_bigrams, xent FROM x ORDER BY doc_id""".stripMargin,

    "llm_perplexity_buckets" ->
      s"""$lmXentCtes,
         |wl AS (SELECT x.doc_id, x.xent, documents.lang
         |  FROM x JOIN documents USING (doc_id)),
         |b AS (SELECT lang, xent,
         |  CAST(ntile(3) OVER (PARTITION BY lang
         |    ORDER BY xent, doc_id) AS INT) AS bucket
         |  FROM wl)
         |SELECT lang, bucket, count(*) AS n_docs,
         |  round(min(xent), 6) AS min_xent,
         |  round(max(xent), 6) AS max_xent
         |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

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
