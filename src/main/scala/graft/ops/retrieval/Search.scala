package graft.ops.retrieval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim
import graft.ops.corpus.Text
import graft.util.Tables._
import Neighbors.{isPinned, queryScores, topK}

/** The search rows: exact brute-force similarity (top pairs, k-NN,
  * binary Hamming), label-aware hard-negative mining, diversity-aware
  * MMR re-ranking, and the text rankers (BM25, reciprocal-rank
  * fusion). The approximate index paths are in [[Ann]].
  *
  * Determinism: cosines are 6-dp rounded and every ranking breaks ties
  * on the vector/document id; BM25 and RRF scores are one pinned
  * formula over exact integer counts, shared verbatim with the oracle.
  */
object Search {

  // ---- llm_simsearch_topk ------------------------------------------
  // Brute-force top-10 most similar pairs (the small-SF baseline; the
  // scale path is [[Ann]]). Norms are precomputed ONCE PER VECTOR, so the
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

  // ---- llm_simsearch_hamming ---------------------------------------
  // Binary-quantized similarity: embedding → 64 sign bits packed as
  // (lo, hi) 32-bit halves in two BIGINTs; pair similarity =
  // 1 − hamming/64 via bit_count(xor). Top-10 closest pairs.
  private def simsearchHamming(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val bits = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("vec_id"))
      .agg(
        sum(expr("IF(x > 0 AND pos < 32, shiftleft(CAST(1 AS BIGINT), pos), CAST(0 AS BIGINT))"))
          .as("lo"),
        sum(expr("IF(x > 0 AND pos >= 32, shiftleft(CAST(1 AS BIGINT), pos - 32), CAST(0 AS BIGINT))"))
          .as("hi"))
    val a = bits.select(col("vec_id").as("vec_a"), col("lo").as("la"),
      col("hi").as("ha"))
    val b = bits.select(col("vec_id").as("vec_b"), col("lo").as("lb"),
      col("hi").as("hb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (bit_count(expr("la ^ lb")) + bit_count(expr("ha ^ hb")))
          .cast("bigint").as("hamming_bits"))
      .select(col("vec_a"), col("vec_b"), col("hamming_bits"),
        (lit(1.0) - col("hamming_bits").cast("double") / lit(64.0))
          .as("sim"))
      .orderBy(asc("hamming_bits"), asc("vec_a"), asc("vec_b"))
      .limit(10)
  }

  private val simsearchHammingOracle =
    """WITH u AS (
      |  -- no WITH ORDINALITY in DuckDB 1.0.0: the corpus dim is a
      |  -- fixed 64, so subscripts come from a literal series
      |  SELECT vec_id, CAST(t.i - 1 AS INT) AS pos, embedding[t.i] AS x
      |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)),
      |bits AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN x > 0 AND pos < 32
      |      THEN CAST(1 AS BIGINT) << pos ELSE 0 END) AS BIGINT) AS lo,
      |    CAST(sum(CASE WHEN x > 0 AND pos >= 32
      |      THEN CAST(1 AS BIGINT) << (pos - 32) ELSE 0 END) AS BIGINT)
      |      AS hi
      |  FROM u GROUP BY vec_id),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
      |      AS BIGINT) AS hamming_bits
      |  FROM bits a JOIN bits b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, hamming_bits,
      |  1.0 - CAST(hamming_bits AS DOUBLE) / 64.0 AS sim
      |FROM p
      |ORDER BY hamming_bits, vec_a, vec_b LIMIT 10""".stripMargin

  // ---- llm_hard_negatives ------------------------------------------
  // Top-5 most-similar DIFFERENT-label vectors per pinned query
  // (vec_id < 20) — the hard-negative mining step of contrastive
  // training (in-batch negatives are easy; these are the ones that
  // move the loss). The label filter applies BEFORE the ranking
  // window, so the top-k limit prunes the right set.
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val queries = emb.filter(isPinned)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    topK(emb.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(CosineSim(col("embedding"), col("qvec")), 6).as("cos")),
        5, query = "qid", score = "cos", rank = "rank")
      .select(col("qid"), col("rank"), col("vec_id"), col("label"),
        col("cos"))
      .orderBy("qid", "rank")
  }

  private val hardNegativesOracle =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, e AS qvec, label AS qlabel
      |      FROM emb WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.qid, emb.vec_id, emb.label,
      |    round(list_cosine_similarity(emb.e, q.qvec), 6) AS cos
      |  FROM emb CROSS JOIN q
      |  WHERE emb.label <> q.qlabel)
      |SELECT qid, CAST(rank AS INT) AS rank, vec_id, label, cos FROM (
      |  SELECT qid, vec_id, label, cos, row_number() OVER (
      |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored) WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  // ---- llm_mmr_rerank ----------------------------------------------
  // Maximal Marginal Relevance re-ranking (Carbonell–Goldstein 1998):
  // for each pinned query (vec_id % 100 == 0), take the top-20
  // cosine candidates, then greedily select 5 with
  // score = 0.7·sim(q,c) − 0.3·max_{s∈S} sim(c,s) — the standard
  // relevance-vs-redundancy trade. Rounds are UNROLLED (fixed k=5,
  // pagerank discipline) so the oracle expresses the identical
  // greedy trajectory as chained CTEs.
  private def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    // Candidates keep their rank: rn = 1 is the seed.
    val cand = topK(queryScores(e, "simq"), 20, score = "simq")
      .localCheckpoint()
    val ce = cand.join(e, "vec_id")
      .select(col("q_id"), col("vec_id"), col("embedding"))
    val pairs = ce.select(col("q_id"), col("vec_id").as("a"),
        col("embedding").as("ea"))
      .join(ce.select(col("q_id"), col("vec_id").as("b"),
        col("embedding").as("eb")), "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(CosineSim(col("ea"), col("eb")), 6).as("sim"))
      .localCheckpoint()
    var sel = cand.filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id"), col("simq"), lit(1).as("k"))
    for (k <- 2 to 5) {
      val rem = cand.join(sel.select("q_id", "vec_id"),
        Seq("q_id", "vec_id"), "left_anti")
      val pen = pairs
        .join(sel.select(col("q_id"), col("vec_id").as("b")), Seq("q_id", "b"))
        .groupBy(col("q_id"), col("a").as("vec_id"))
        .agg(max(col("sim")).as("pen"))
      val pickW = Window.partitionBy(col("q_id"))
        .orderBy(desc("score"), asc("vec_id"))
      val pick = rem.join(pen, Seq("q_id", "vec_id"))
        .select(col("q_id"), col("vec_id"), col("simq"),
          (lit(0.7) * col("simq") - lit(0.3) * col("pen")).as("score"))
        .withColumn("rn", row_number().over(pickW))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("simq"), lit(k).as("k"))
      sel = sel.unionAll(pick).localCheckpoint()
    }
    sel.select(col("q_id"), col("k"), col("vec_id"), col("simq"))
      .orderBy("q_id", "k")
  }

  private def mmrRerankOracle: String = {
    val rounds = (2 to 5).map { k =>
      s"""sc$k AS (
         |  SELECT c.q_id, c.vec_id, c.simq,
         |    0.7 * c.simq - 0.3 * max(p.sim) AS score
         |  FROM cand c
         |  JOIN pairs p ON p.q_id = c.q_id AND p.a = c.vec_id
         |  JOIN sel${k - 1} s ON s.q_id = p.q_id AND s.vec_id = p.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
         |    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
         |  GROUP BY c.q_id, c.vec_id, c.simq),
         |pick$k AS (
         |  SELECT q_id, vec_id, simq, $k AS k FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
         |    FROM sc$k) WHERE rn = 1),
         |sel$k AS (SELECT * FROM sel${k - 1}
         |          UNION ALL SELECT * FROM pick$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |cr AS (
       |  SELECT q_id, vec_id,
       |    round(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[])), 6) AS simq
       |  FROM q JOIN embeddings ON q_id <> vec_id),
       |cand AS (
       |  SELECT q_id, vec_id, simq FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY simq DESC, vec_id) AS rn
       |    FROM cr) WHERE rn <= 20),
       |ce AS (
       |  SELECT c.q_id, c.vec_id, e.embedding
       |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id),
       |pairs AS (
       |  SELECT x.q_id, x.vec_id AS a, y.vec_id AS b,
       |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |      CAST(y.embedding AS DOUBLE[])), 6) AS sim
       |  FROM ce x JOIN ce y ON x.q_id = y.q_id AND x.vec_id <> y.vec_id),
       |sel1 AS (
       |  SELECT q_id, vec_id, simq, 1 AS k FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY simq DESC, vec_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |$rounds
       |SELECT q_id, k, vec_id, simq FROM sel5 ORDER BY q_id, k""".stripMargin
  }
  // ---- llm_bm25 -----------------------------------------------------
  // Okapi BM25 (k1 = 1.2, b = 0.75) for a fixed 3-term query.
  // Columns feeding the formula are all DOUBLE derived from exact
  // integer counts: tf_i, df_i, dl (per-doc token count), n_docs,
  // avgdl (exact long sum / count).
  private val bmTerms = Seq("spark", "vector", "window")

  private def bmTermFormula(i: Int, k1: Double, b: Double): String =
    s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1}) / " +
      s"(tf$i + $k1 * (${1 - b} + $b * (dl / avgdl)))"

  private def bm25Formula(n: Int, k1: Double, b: Double): String =
    s"round(${(1 to n).map(bmTermFormula(_, k1, b)).mkString(" + ")}, 6)"

  /** Per-doc Okapi BM25 score of `idCol`/`textCol` docs against a
    * fixed bag of query `terms` — the library form ([[Graft.bm25]]).
    * One token explode, two idCol-co-partitioned hash aggregates,
    * 1-row broadcasts for df/corpus stats; 6-dp-rounded score. */
  private[graft] def bm25Scores(docs: DataFrame, idCol: String,
      textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores: terms must be non-empty")
    val lens = docs.select(col(idCol),
      size(Text.tokensOf(textCol)).as("li"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("li")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val toks = docs.select(col(idCol),
      explode(Text.tokensOf(textCol)).as("w"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when(col("w") === t, lit(1))).cast("double").as(s"tf${i + 1}")
    }
    val tf = toks.groupBy(col(idCol)).agg(tfCols.head, tfCols.tail: _*)
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      countDistinct(when(col("w") === t, col(idCol))).cast("double")
        .as(s"df${i + 1}")
    }
    val dfreq = toks.agg(dfCols.head, dfCols.tail: _*)
    tf.join(lens, idCol)
      .withColumn("dl", col("li").cast("double"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfreq))
      .selectExpr(idCol, s"${bm25Formula(terms.size, k1, b)} AS bm25")
  }

  private def bm25(s: SparkSession, dir: String): DataFrame =
    bm25Scores(load(s, dir, "documents"), "doc_id", "text", bmTerms)
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(20)

  // ---- llm_rrf_fusion ----------------------------------------------
  // Reciprocal-rank fusion (k = 60) of two cosine rankings (query
  // vectors 0 and 1) truncated to their top-100: documents outside a
  // ranking contribute 0 from it. Ranks are ints derived from rounded
  // scores with a vec_id tiebreak, so the fusion is exact. The
  // truncate/rank/fuse pipeline IS [[rrfFuse]] — one definition for
  // the declared query, the facade, and the oracle semantics.
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val q = e.filter(col("vec_id").isin(0L, 1L)).agg(
      first(when(col("vec_id") === 0L, col("embedding")), ignoreNulls = true)
        .as("q0"),
      first(when(col("vec_id") === 1L, col("embedding")), ignoreNulls = true)
        .as("q1"))
    val sims = e.filter(!col("vec_id").isin(0L, 1L))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.CosineSim(col("embedding"), col("q0")), 6)
          .as("s0"),
        round(graft.functions.CosineSim(col("embedding"), col("q1")), 6)
          .as("s1"))
    rrfFuse(
      sims.select(col("vec_id"), col("s0").as("score")),
      sims.select(col("vec_id"), col("s1").as("score")),
      "vec_id", "score", k = 60, topN = 100)
      .orderBy(desc("rrf"), asc("vec_id"))
      .limit(20)
  }

  /** Generic reciprocal-rank fusion for the facade ([[Graft.rrfFuse]]):
    * each ranking frame (`idCol`, `scoreCol`) is truncated to its
    * top-`topN` by (score desc, id), ranked, and fused as
    * Σ 1/(k + rank); ids outside a ranking contribute 0 from it. The
    * truncations are TakeOrderedAndProject — no global sort of either
    * input. */
  private[graft] def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      scoreCol: String, k: Int = 60, topN: Int = 100): DataFrame = {
    def top(df: DataFrame, rankCol: String): DataFrame = {
      val w = Window.orderBy(desc(scoreCol), asc(idCol))
      df.orderBy(desc(scoreCol), asc(idCol)).limit(topN)
        .withColumn(rankCol, row_number().over(w))
        .select(col(idCol), col(rankCol))
    }
    val ra = top(a, "ra")
    val rb = top(b, "rb").withColumnRenamed(idCol, s"${idCol}_b")
    ra.join(rb, col(idCol) === col(s"${idCol}_b"), "full_outer")
      .select(coalesce(col(idCol), col(s"${idCol}_b")).as(idCol),
        round(
          coalesce(lit(1.0) / (lit(k.toDouble) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(k.toDouble) + col("rb")), lit(0.0)),
          6).as("rrf"))
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_simsearch_topk" -> (simsearchTopK _),
    "llm_simsearch_knn" -> (Neighbors.simsearchKnn _),
    "llm_simsearch_hamming" -> (simsearchHamming _),
    "llm_hard_negatives" -> (hardNegatives _),
    "llm_mmr_rerank" -> (mmrRerank _),
    "llm_bm25" -> (bm25 _),
    "llm_rrf_fusion" -> (rrfFusion _)
  )

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

    "llm_simsearch_hamming" -> simsearchHammingOracle,
    "llm_hard_negatives" -> hardNegativesOracle,
    "llm_mmr_rerank" -> mmrRerankOracle,

    "llm_bm25" ->
      s"""WITH lens AS (SELECT doc_id, len(string_split(text, ' ')) AS li
         |  FROM documents),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |  CAST(sum(li) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM lens),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id,
         |  CAST(count(*) FILTER (WHERE w = '${bmTerms(0)}') AS DOUBLE) AS tf1,
         |  CAST(count(*) FILTER (WHERE w = '${bmTerms(1)}') AS DOUBLE) AS tf2,
         |  CAST(count(*) FILTER (WHERE w = '${bmTerms(2)}') AS DOUBLE) AS tf3
         |  FROM toks GROUP BY doc_id),
         |dfq AS (SELECT
         |  CAST(count(DISTINCT CASE WHEN w = '${bmTerms(0)}' THEN doc_id END) AS DOUBLE) AS df1,
         |  CAST(count(DISTINCT CASE WHEN w = '${bmTerms(1)}' THEN doc_id END) AS DOUBLE) AS df2,
         |  CAST(count(DISTINCT CASE WHEN w = '${bmTerms(2)}' THEN doc_id END) AS DOUBLE) AS df3
         |  FROM toks)
         |SELECT doc_id, ${bm25Formula(3, 1.2, 0.75)} AS bm25
         |FROM (SELECT tf.*, CAST(li AS DOUBLE) AS dl, n_docs, avgdl,
         |        df1, df2, df3
         |      FROM tf JOIN lens USING (doc_id)
         |      CROSS JOIN stats CROSS JOIN dfq)
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "llm_rrf_fusion" ->
      s"""WITH q AS (SELECT
         |  (SELECT embedding FROM embeddings WHERE vec_id = 0) AS q0,
         |  (SELECT embedding FROM embeddings WHERE vec_id = 1) AS q1),
         |sims AS (SELECT vec_id,
         |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |    CAST(q0 AS DOUBLE[])), 6) AS s0,
         |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |    CAST(q1 AS DOUBLE[])), 6) AS s1
         |  FROM embeddings CROSS JOIN q WHERE vec_id NOT IN (0, 1)),
         |r0 AS (SELECT vec_id,
         |  CAST(row_number() OVER (ORDER BY s0 DESC, vec_id) AS INT) AS ra
         |  FROM sims ORDER BY s0 DESC, vec_id LIMIT 100),
         |r1 AS (SELECT vec_id,
         |  CAST(row_number() OVER (ORDER BY s1 DESC, vec_id) AS INT) AS rb
         |  FROM sims ORDER BY s1 DESC, vec_id LIMIT 100)
         |SELECT coalesce(r0.vec_id, r1.vec_id) AS vec_id,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / (60.0 + ra), CAST(0.0 AS DOUBLE))
         |    + coalesce(CAST(1.0 AS DOUBLE) / (60.0 + rb), CAST(0.0 AS DOUBLE)), 6) AS rrf
         |FROM r0 FULL OUTER JOIN r1 ON r0.vec_id = r1.vec_id
         |ORDER BY rrf DESC, vec_id LIMIT 20""".stripMargin,
  )
}
