package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSim
import graft.util.Tables._

/** SURVEY.md §2.11 — LLM-training-data pipeline operators:
  * similarity search, text analysis, TF-IDF, multimodal projection.
  *
  * Scale design:
  *  - Similarity search uses the fused codegen kernel
  *    [[graft.functions.CosineSim]] (no per-pair allocation). The
  *    brute-force pair scan is the small-SF baseline; the 100 TB path
  *    is the same kernel behind an LSH/IVF bucketing join (bucket on
  *    coarse quantization, compare within buckets).
  *  - k-NN broadcasts the (small) query set so the corpus never
  *    shuffles.
  *  - TF-IDF / text stats are explode → hash-aggregate pipelines;
  *    vocabulary cardinality grows sub-linearly with corpus size.
  */
object LlmOps {

  // ---------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_simsearch_topk" -> (simsearchTopK _),
    "llm_simsearch_knn" -> (simsearchKnn _),
    "llm_text_stats" -> (textStats _),
    "llm_tfidf" -> (tfidf _),
    "llm_multimodal_cols" -> (multimodal _)
  )

  // Brute-force top-10 most similar pairs (small-SF baseline; see
  // scale note above). Norms are precomputed ONCE PER VECTOR, so the
  // n² pair scan runs only the fused dot-product kernel —
  // cos = dot * inv_norm_a * inv_norm_b, a third of the per-pair
  // flops of recomputing both norms inside every pair.
  //
  // The n² pair space is generated as a BLOCKED equi-join (the
  // triangle-join trick), not `a.vec_id < b.vec_id` alone: a bare
  // inequality condition plans as BroadcastNestedLoopJoin, which is
  // outside whole-stage codegen — every pair then pays an interpreted
  // kernel eval (measured 2.7 s at sf0.1). Blocking by vec_id % NB
  // turns it into an equi-join on the partner-block id: the tiny
  // (bi ≤ bj) block-pair table replicates the LEFT side ~NB/2×
  // (bare arrays, shuffled — never broadcast), the right side joins
  // on its own block, and the codegen'd join evaluates the same n²/2
  // residual pairs inside one fused pipeline with NB-way parallelism.
  private val topkBlocks = 32
  private def simsearchTopK(s: SparkSession, dir: String): DataFrame = {
      val e = load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          (lit(1.0) / sqrt(graft.functions.DotProduct(col("embedding"), col("embedding"))))
            .as("inv_norm"),
          pmod(col("vec_id"), lit(topkBlocks)).as("blk"))
      // Block ids are pmod(vec_id, NB) ⊆ [0, NB) by construction, so
      // the pair table comes from a local range — no corpus rescan,
      // no distinct exchange.
      val ids = s.range(topkBlocks).select(col("id").as("blk"))
      val blockPairs = ids.as("x").crossJoin(ids.as("y"))
        .filter(col("x.blk") <= col("y.blk"))
        .select(col("x.blk").as("bi"), col("y.blk").as("bj"))
      val a = e.join(broadcast(blockPairs), col("blk") === col("bi"))
        .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
          col("inv_norm").as("inv_a"), col("blk").as("blk_a"), col("bj"))
      // Each cross-block pair appears in exactly one orientation
      // (blk_a < blk_b by construction); the diagonal needs id_a <
      // id_b to halve itself. Output ids canonicalize to (min, max)
      // so the arbitrary cross-block orientation is invisible.
      //
      // The explicit repartition is the POINT of the blocking: the
      // corpus reads as one small file split, so without it the whole
      // n²/2 pair scan runs in a single task (AQE coalesces the tiny
      // shuffle back to 1 partition; a user repartition is never
      // coalesced). Measured at sf0.1: 2.78 s single-task BNLJ →
      // 1.76 s blocked 32-way (remaining time is fixed stage
      // overhead, which amortizes at real scale; NB=64 re-measured
      // WORSE — replication cost outgrows the balance win).
      a.repartition(topkBlocks, col("bj"))
        .join(e, col("bj") === col("blk") &&
          (col("blk_a") < col("blk") || col("id_a") < col("vec_id")))
        .select(least(col("id_a"), col("vec_id")).as("vec_a"),
          greatest(col("id_a"), col("vec_id")).as("vec_b"),
          round(graft.functions.DotProduct(col("emb_a"), col("embedding")) *
            col("inv_a") * col("inv_norm"), 6).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_a"), asc("vec_b"))
        .limit(10)
  }

  // k-NN (k=5) for a deterministic query subset; the query side is
  // broadcast so the corpus scan never shuffles.
  // private[graft]: llm_ivf_recall reuses THIS exact-knn definition as
  // its ground truth, so the two rows cannot drift apart.
  private[graft] def simsearchKnn(s: SparkSession, dir: String): DataFrame =
    simsearchKnnK(s, dir, 5)

  /** k-parameterized brute-force ground truth (llm_ann_ndcg grades
    * the IVF path against the k=10 ranking; the k=5 form above is
    * the llm_simsearch_knn row). */
  private[graft] def simsearchKnnK(s: SparkSession, dir: String,
      k: Int): DataFrame = {
      val e = load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
      e.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          round(CosineSim(col("q_emb"), col("embedding")), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .orderBy("q_id", "rn")
  }

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
    "llm_simsearch_topk" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 10""".stripMargin,

    "llm_simsearch_knn" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT q_id, vec_id,
        |  round(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])), 6) AS cos_sim
        |  FROM q JOIN embeddings ON q_id <> vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (
        |  PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rn FROM c)
        |SELECT q_id, vec_id, cos_sim, rn FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,

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
