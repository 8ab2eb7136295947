package graft.ops.retrieval

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._
import Ann.{ivfCells, ivfOracleBase, ivfOracleCtes, ivfOracleProbe, ivfTopK, ivfTopKIn}
import Neighbors.{exactRankCtes, isPinned, isQuery, ivfCentroids, nearestCentroid, seedCentroids,
  simsearchKnn, simsearchKnnK, topK}

/** Retrieval evaluation: every approximate path graded against the
  * one exact brute-force ranking ([[Neighbors.simsearchKnnK]]) — binary
  * recall@5 of IVF per query and per nprobe, recall@10 of the
  * seed-centroid blocking, and the graded nDCG/MRR/MAP@10 of IVF.
  *
  * Scale shape: IVF candidates come from cell equi-joins (never N²);
  * only the exact side scans the corpus per query, on the 1% query
  * sample (at 100 TB you grade a query SAMPLE).
  *
  * Determinism: per-rank gains and hits are exact BIGINTs pivoted to
  * fixed-width columns, so each metric is ONE fixed-order expression
  * over pinned literals (bit-identical doubles on both engines); the
  * summary means divide exact micro-unit sums ([[withSummaryRow]]).
  */
object Evaluation {

  // ---- llm_ivf_recall / llm_ivf_nprobe_sweep -----------------------

  // ANN recall@5, oracle-checked end to end: the IVF plan's top-5
  // joined against the exact brute-force top-5 ground truth (THE
  // llm_simsearch_knn definition), per-query hit count + recall.
  // The driver re-derives BOTH sides in SQL each round, so the
  // recall NUMBER itself — not just the candidate plumbing — is in
  // the hard signal. At 100 TB this is the evaluation harness run
  // on a query sample; both sides stay blocked/broadcast-shaped.
  private def ivfRecall(s: SparkSession, dir: String): DataFrame = {
    val approx = ivfTopK(load(s, dir, "embeddings"), isQuery, k = 5)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    simsearchKnn(s, dir)
      .select(col("q_id"), col("vec_id"))
      .join(approx, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / 5.0, 6).as("recall"))
      .orderBy("q_id")
  }

  // The nprobe capacity-planning curve: mean recall@5 for nprobe in
  // {1, 2, 4} against the SAME exact ground truth (lazily
  // checkpointed — three arms read one materialization). Cell
  // assignment is nprobe-independent, so it is built and
  // checkpointed once in the row builder and the three arms probe
  // it (the oracle's `asn` CTE is likewise shared). mean_recall is
  // ONE double division of two exact integers — no cross-engine
  // summation-order hazard.
  private def nprobeSweep(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val exact = simsearchKnn(s, dir)
      .select(col("q_id"), col("vec_id"))
      .localCheckpoint(false)
    val centroids = ivfCentroids(emb)
    val cells = ivfCells(emb, centroids).localCheckpoint()
    Seq(1, 2, 4).map { np =>
      val ap = ivfTopKIn(emb, cells, centroids, isQuery, k = 5, nprobe = np)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(ap, Seq("q_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("total_hits"))
        .select(lit(np.toLong).as("nprobe"),
          expr("n_pairs div 5").as("n_queries"),
          col("total_hits"),
          round(col("total_hits").cast("double")
            / col("n_pairs").cast("double"), 6).as("mean_recall"))
    }.reduce(_.union(_)).orderBy("nprobe")
  }

  // The exact brute-force ground truth (the llm_simsearch_knn
  // definition) as reusable CTEs, shared by the recall and sweep rows.
  private val exactKnnCtes =
    exactRankCtes + ",\nexact AS (SELECT q_id, vec_id FROM gr WHERE rn <= 5)"

  private val nprobeSweepOracle = {
    val arms = Seq(1 -> "_1", 2 -> "_2", 4 -> "_4")
    val probeCtes = arms.map { case (np, sfx) => ivfOracleProbe(np, sfx) }
      .mkString(",\n")
    val selects = arms.map { case (np, sfx) =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |  CAST(count(*) // 5 AS BIGINT) AS n_queries,
         |  CAST(count(i.vec_id) AS BIGINT) AS total_hits,
         |  round(CAST(count(i.vec_id) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS mean_recall
         |FROM exact e LEFT JOIN
         |  (SELECT q_id, vec_id FROM ranked$sfx WHERE rn <= 5) i
         |  ON e.q_id = i.q_id AND e.vec_id = i.vec_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $ivfOracleBase,\n$probeCtes,\n$exactKnnCtes\n$selects\nORDER BY nprobe"
  }

  // recall@5 = |IVF top-5 INTERSECT exact top-5| / 5 per query: the
  // IVF replica joined against the llm_simsearch_knn exact ground
  // truth. count(i.vec_id) counts matches only (LEFT JOIN nulls drop
  // out of count(col)).
  private val ivfRecallOracle =
    s"""WITH $ivfOracleCtes,
       |ivf AS (SELECT q_id, vec_id FROM ranked WHERE rn <= 5),
       |$exactKnnCtes
       |SELECT e.q_id, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
       |  round(CAST(count(i.vec_id) AS DOUBLE) / 5.0, 6) AS recall
       |FROM exact e LEFT JOIN ivf i
       |  ON e.q_id = i.q_id AND e.vec_id = i.vec_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  // ---- llm_knn_recall ----------------------------------------------
  // Recall@10 of the cluster-restricted ANN path against brute-force
  // cosine top-10, per pinned query (vec_id < 20): vectors assign to
  // the nearest of the 8 seed centroids (vec_id < 8 — the kmeans
  // seeds, so this evaluates exactly the llm_simsearch_ivf blocking
  // scheme); ANN candidates are the query's own cluster, excluding
  // self. Both rankings use round(cos, 6) DESC, vec_id ASC — fully
  // deterministic. Output: candidate-pool size, hits, recall per
  // query. The brute-force side is the documented O(Q·N) baseline
  // (Q fixed at 20); the ANN side shows the ~1/k candidate shrink.
  private def knnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // the query set, both top-10 scans and the candidate count all
    // read the assignment: checkpoint it once (one row per vector)
    val assign = nearestCentroid(emb, seedCentroids(emb), "embedding")
      .select(col("vec_id"), col("embedding"), col("cell").as("cid"))
      .localCheckpoint()
    val queries = assign.filter(isPinned)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("cid").as("qcid"))
    def top10(scored: DataFrame): DataFrame =
      topK(scored, 10, query = "qid", score = "qcos", rank = "qrn")
        .select(col("qid"), col("vec_id"))
    val scoredAll = assign.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cid"), col("qcid"),
        round(graft.functions.CosineSim(col("embedding"), col("qvec")), 6)
          .as("qcos"))
    val exact = top10(scoredAll)
    val cand = scoredAll.filter(col("cid") === col("qcid"))
    val approx = top10(cand)
    val nCand = cand.groupBy(col("qid")).agg(count(lit(1)).as("n_cand"))
    val hits = exact.join(approx, Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    nCand.join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / 10.0, 6)
          .as("recall"))
      .orderBy("qid")
  }

  private val knnRecallOracle =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cents AS (SELECT vec_id AS cid, e AS cvec FROM emb WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, e, cid FROM (
      |    SELECT emb.vec_id, emb.e, cents.cid, row_number() OVER (
      |      PARTITION BY emb.vec_id
      |      ORDER BY round(list_cosine_similarity(emb.e, cents.cvec), 6)
      |        DESC, cents.cid) AS rn
      |    FROM emb CROSS JOIN cents) WHERE rn = 1),
      |queries AS (
      |  SELECT vec_id AS qid, e AS qvec, cid AS qcid
      |  FROM assign WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.qid, a.vec_id, a.cid, q.qcid,
      |    round(list_cosine_similarity(a.e, q.qvec), 6) AS qcos
      |  FROM assign a CROSS JOIN queries q
      |  WHERE a.vec_id <> q.qid),
      |exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (
      |      PARTITION BY qid ORDER BY qcos DESC, vec_id) AS qrn
      |    FROM scored) WHERE qrn <= 10),
      |cand AS (SELECT * FROM scored WHERE cid = qcid),
      |approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (
      |      PARTITION BY qid ORDER BY qcos DESC, vec_id) AS qrn
      |    FROM cand) WHERE qrn <= 10),
      |nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand
      |       FROM cand GROUP BY qid),
      |h AS (
      |  SELECT e.qid, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id
      |  GROUP BY e.qid)
      |SELECT nc.qid, nc.n_cand,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 10.0, 6) AS recall
      |FROM nc LEFT JOIN h ON nc.qid = h.qid
      |ORDER BY nc.qid""".stripMargin

  // ---- llm_ann_ndcg -------------------------------------------------
  // Relevance of an IVF candidate = 11 − its EXACT rank (0 outside the
  // exact top-10); DCG discounts position i by 1/log2(i+1), pinned as
  // double literals (neither engine evaluates a log); nDCG divides by
  // the ideal DCG assembled from the same literals in the same order.
  private val NdcgK = 10

  /** 1/log2(i+1), i = 1..10, pinned to 17 significant digits. The E0
    * exponent keeps both parsers in APPROXIMATE-numeric (DOUBLE)
    * land: a bare decimal literal parses as DECIMAL in Spark and
    * DuckDB, dragging the whole dot product into engine-specific
    * decimal precision/scale propagation instead of IEEE doubles. */
  private val Disc = IndexedSeq(
    "1.0E0", "0.6309297535714575E0", "0.5E0", "0.43067655807339306E0",
    "0.38685280723454163E0", "0.3562071871080222E0",
    "0.3333333333333333E0", "0.31546487678572877E0",
    "0.3010299956639812E0", "0.2890648263178879E0")

  private val dcgExpr = (1 to NdcgK)
    .map(i => s"coalesce(g$i, CAST(0 AS BIGINT))*${Disc(i - 1)}")
    .mkString("(", " + ", ")")

  private val idcgExpr = (1 to NdcgK)
    .map(i => s"${NdcgK + 1 - i}*${Disc(i - 1)}")
    .mkString("(", " + ", ")")

  /** The (query set, IVF@10, exact@10) trio every graded metric reads
    * — one shared builder so nDCG, MRR and MAP grade the identical
    * rankings by construction. */
  private def gradedInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = load(s, dir, "embeddings")
    val ivf = ivfTopK(emb, isQuery, k = NdcgK)
      .select(col("q_id"), col("vec_id"), col("rn"))
    val exact = simsearchKnnK(s, dir, NdcgK)
      .select(col("q_id"), col("vec_id"), col("rn").as("ern"))
    val queries = emb.filter(isQuery)
      .select(col("vec_id").as("q_id"))
    (queries, ivf, exact)
  }

  /** Per-query metric rows `per` (two consumers, so checkpointed) plus
    * the q_id = −1 summary row: Σ `total` surfaced as `totalCol`, and
    * each metric in `means` as the exact micro-unit mean
    * floor(Σ floor(m·1e6 + 0.5) / nq + 0.5) / 1e6 — one double
    * division of exact integers. The oracles spell the same tail. */
  private def withSummaryRow(per0: DataFrame, totalCol: String,
      total: Column, means: String*): DataFrame = {
    val per = per0.localCheckpoint()
    val sums = means.map(m =>
      sum(expr(s"CAST(floor($m*1e6 + 0.5) AS BIGINT)")).as(s"s${m.head}m"))
    val summary = per.groupBy()
      .agg(sum(total).as("nh"), sums :+ count(lit(1)).as("nq"): _*)
      .selectExpr(Seq("CAST(-1 AS BIGINT) AS q_id",
        s"CAST(nh AS BIGINT) AS $totalCol") ++
        means.map(m => s"floor(CAST(s${m.head}m AS DOUBLE)/nq + 0.5)/1e6 AS $m"): _*)
    per.unionAll(summary).orderBy("q_id")
  }

  private def annNdcg(s: SparkSession, dir: String): DataFrame = {
    val (queries, ivf, exact) = gradedInputs(s, dir)
    ndcgFrom(queries, ivf, exact)
  }

  /** Grading core over pre-built rankings (planted-ranking test
    * seam): queries = (q_id), ivf = (q_id, vec_id, rn),
    * exact = (q_id, vec_id, ern). */
  private[graft] def ndcgFrom(queries: DataFrame, ivf: DataFrame,
      exact: DataFrame): DataFrame = {
    val rels = ivf.join(exact, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rn"),
        coalesce(lit(NdcgK + 1) - col("ern"), lit(0)).as("rel"))
    val gainCols = (1 to NdcgK).map(i =>
      sum(when(col("rn") === i, col("rel")).otherwise(0))
        .cast("long").as(s"g$i")) :+
      sum(when(col("rel") > 0, 1).otherwise(0)).cast("long").as("n_overlap")
    val gains = rels.groupBy(col("q_id")).agg(gainCols.head, gainCols.tail: _*)
    // Drive from the query set so a query whose probed cells held no
    // candidates still scores 0 (it must drag the mean down, not
    // vanish from it).
    withSummaryRow(queries
      .join(gains, Seq("q_id"), "left")
      .selectExpr("q_id",
        "coalesce(n_overlap, CAST(0 AS BIGINT)) AS n_overlap",
        s"floor(($dcgExpr)*1e6 + 0.5)/1e6 AS dcg",
        s"floor(($dcgExpr/$idcgExpr)*1e6 + 0.5)/1e6 AS ndcg"),
      "n_overlap", col("n_overlap"), "dcg", "ndcg")
  }

  /** The query set as an oracle CTE; every graded oracle drives its
    * per-query rows from it. */
  private val qsCte =
    "qs AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 100 = 0)"

  /** The IVF replica CTEs are [[Ann]]'s SINGLE shared SQL text; the
    * exact side is [[Neighbors.exactRankCtes]] at k = 10. All three
    * graded-metric oracles compose from this one prefix, so the
    * rankings they grade cannot drift apart. */
  private val gradedOracleCtes =
    s"""$ivfOracleBase,
       |${ivfOracleProbe(2, "")},
       |ivf AS (SELECT q_id, vec_id, rn FROM ranked WHERE rn <= $NdcgK),
       |$exactRankCtes,
       |ex AS (SELECT q_id, vec_id, rn AS ern FROM gr WHERE rn <= $NdcgK)""".stripMargin

  private val annNdcgOracle = {
    val gainDefs = (1 to NdcgK).map(i =>
      s"CAST(sum(CASE WHEN rn = $i THEN rel ELSE 0 END) AS BIGINT) AS g$i")
      .mkString(",\n    ")
    s"""WITH $gradedOracleCtes,
       |rels AS (
       |  SELECT i.q_id, i.rn, coalesce(${NdcgK + 1} - e.ern, 0) AS rel
       |  FROM ivf i LEFT JOIN ex e
       |    ON i.q_id = e.q_id AND i.vec_id = e.vec_id),
       |g AS (
       |  SELECT q_id,
       |    $gainDefs,
       |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_overlap
       |  FROM rels GROUP BY q_id),
       |$qsCte,
       |per AS (
       |  SELECT qs.q_id,
       |    coalesce(n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
       |    floor(($dcgExpr)*1e6 + 0.5)/1e6 AS dcg,
       |    floor(($dcgExpr/$idcgExpr)*1e6 + 0.5)/1e6 AS ndcg
       |  FROM qs LEFT JOIN g ON qs.q_id = g.q_id)
       |SELECT q_id, n_overlap, dcg, ndcg FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS q_id,
       |  CAST(sum(n_overlap) AS BIGINT) AS n_overlap,
       |  floor(CAST(sum(CAST(floor(dcg*1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) + 0.5)/1e6 AS dcg,
       |  floor(CAST(sum(CAST(floor(ndcg*1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) + 0.5)/1e6 AS ndcg
       |FROM per
       |ORDER BY q_id""".stripMargin
  }

  // ---- llm_ann_mrr --------------------------------------------------
  // MRR@10 beside nDCG@10 (VERDICT r16 missing item 4): the
  // single-relevant-answer metric retrieval dashboards quote next to
  // the graded one. first_hit = the smallest IVF position whose
  // candidate is in the EXACT top-10 (0 = none of the 10 were);
  // rr = 1/first_hit — one double division of exact integers, bit-
  // identical on both engines, floored at 1e-6. Per-query rows plus
  // the q_id = −1 summary (first_hit = #queries with a hit, rr =
  // the corpus MRR as the exact micro-unit-sum mean — the nDCG
  // summary discipline). Driven from the query set so a query with
  // no overlap scores 0 instead of vanishing from the mean.

  /** MRR core over pre-built rankings (planted-ranking test seam) —
    * same inputs as [[ndcgFrom]]. */
  private[graft] def mrrFrom(queries: DataFrame, ivf: DataFrame,
      exact: DataFrame): DataFrame = {
    val hits = ivf.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(min(col("rn")).as("fh"))
    withSummaryRow(queries
      .join(hits, Seq("q_id"), "left")
      .selectExpr("q_id",
        "CAST(coalesce(fh, 0) AS BIGINT) AS first_hit",
        """CASE WHEN fh IS NULL THEN CAST(0 AS DOUBLE)
          |  ELSE floor((1.0E0/fh)*1e6 + 0.5)/1e6 END AS rr""".stripMargin),
      "first_hit", when(col("first_hit") > 0, 1L).otherwise(0L), "rr")
  }

  private def annMrr(s: SparkSession, dir: String): DataFrame = {
    val (queries, ivf, exact) = gradedInputs(s, dir)
    mrrFrom(queries, ivf, exact)
  }

  private val annMrrOracle =
    s"""WITH $gradedOracleCtes,
       |h AS (
       |  SELECT i.q_id, min(i.rn) AS fh
       |  FROM ivf i JOIN ex e
       |    ON i.q_id = e.q_id AND i.vec_id = e.vec_id
       |  GROUP BY 1),
       |$qsCte,
       |per AS (
       |  SELECT qs.q_id,
       |    CAST(coalesce(fh, 0) AS BIGINT) AS first_hit,
       |    CASE WHEN fh IS NULL THEN CAST(0 AS DOUBLE)
       |      ELSE floor((1.0E0/fh)*1e6 + 0.5)/1e6 END AS rr
       |  FROM qs LEFT JOIN h ON qs.q_id = h.q_id)
       |SELECT q_id, first_hit, rr FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS q_id,
       |  CAST(sum(CASE WHEN first_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS first_hit,
       |  floor(CAST(sum(CAST(floor(rr*1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) + 0.5)/1e6 AS rr
       |FROM per
       |ORDER BY q_id""".stripMargin

  // ---- llm_ann_map ----------------------------------------------------
  // MAP@10 completing the graded-retrieval trio (nDCG = graded gain,
  // MRR = first hit, AP = precision-weighted ALL hits): per query,
  // AP@10 = (Σ_{k hit} precision@k)/10 with hit = the IVF candidate
  // at position k is in the EXACT top-10 (R = 10 relevant by
  // construction, so the denominator is the fixed k). The per-query
  // hit flags pivot to ten fixed-order 0/1 columns (the DCG
  // discipline), so AP is ONE fixed-order expression over shared
  // text — bit-identical doubles on both engines; summary row (q_id
  // = −1) carries the hit total and the exact micro-unit-mean MAP.

  /** (h1·(h1)/1 + h2·(h1+h2)/2 + …)/10 — precision@k at each hit
    * position, fixed left-assoc order, shared by both replicas. */
  private val apExpr = (1 to NdcgK).map { k =>
    val cum = (1 to k).map(j => s"h$j").mkString("(", " + ", ")")
    s"h$k*$cum/$k.0E0"
  }.mkString("((", " + ", s") / $NdcgK.0E0)")

  /** AP core over pre-built rankings (planted-ranking test seam) —
    * same inputs as [[ndcgFrom]]/[[mrrFrom]]. */
  private[graft] def mapFrom(queries: DataFrame, ivf: DataFrame,
      exact: DataFrame): DataFrame = {
    val hits = ivf.join(exact, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rn"),
        when(col("ern").isNotNull, 1L).otherwise(0L).as("h"))
    val hitCols = (1 to NdcgK).map(k =>
      sum(when(col("rn") === k, col("h")).otherwise(0L))
        .cast("long").as(s"h$k")) :+
      sum(col("h")).cast("long").as("n_hits")
    val pivot = hits.groupBy(col("q_id")).agg(hitCols.head, hitCols.tail: _*)
    withSummaryRow(queries
      .join(pivot, Seq("q_id"), "left")
      .selectExpr(("q_id" +: "coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits" +:
        (1 to NdcgK).map(k => s"coalesce(h$k, CAST(0 AS BIGINT)) AS h$k")): _*)
      .selectExpr("q_id", "n_hits",
        s"floor(($apExpr)*1e6 + 0.5)/1e6 AS ap"),
      "n_hits", col("n_hits"), "ap")
  }

  private def annMap(s: SparkSession, dir: String): DataFrame = {
    val (queries, ivf, exact) = gradedInputs(s, dir)
    mapFrom(queries, ivf, exact)
  }

  private val annMapOracle = {
    val hitDefs = (1 to NdcgK).map(k =>
      s"CAST(sum(CASE WHEN rn = $k THEN h ELSE 0 END) AS BIGINT) AS h$k")
      .mkString(",\n    ")
    val coals = (1 to NdcgK).map(k =>
      s"coalesce(h$k, CAST(0 AS BIGINT)) AS h$k").mkString(",\n    ")
    s"""WITH $gradedOracleCtes,
       |hits AS (
       |  SELECT i.q_id, i.rn,
       |    CASE WHEN e.ern IS NOT NULL THEN 1 ELSE 0 END AS h
       |  FROM ivf i LEFT JOIN ex e
       |    ON i.q_id = e.q_id AND i.vec_id = e.vec_id),
       |pv AS (
       |  SELECT q_id,
       |    $hitDefs,
       |    CAST(sum(h) AS BIGINT) AS n_hits
       |  FROM hits GROUP BY q_id),
       |$qsCte,
       |filled AS (
       |  SELECT qs.q_id,
       |    coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits,
       |    $coals
       |  FROM qs LEFT JOIN pv ON qs.q_id = pv.q_id),
       |per AS (
       |  SELECT q_id, n_hits,
       |    floor(($apExpr)*1e6 + 0.5)/1e6 AS ap
       |  FROM filled)
       |SELECT q_id, n_hits, ap FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS q_id,
       |  CAST(sum(n_hits) AS BIGINT) AS n_hits,
       |  floor(CAST(sum(CAST(floor(ap*1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) + 0.5)/1e6 AS ap
       |FROM per
       |ORDER BY q_id""".stripMargin
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_ivf_recall" -> (ivfRecall _),
    "llm_ivf_nprobe_sweep" -> (nprobeSweep _),
    "llm_knn_recall" -> (knnRecall _),
    "llm_ann_ndcg" -> (annNdcg _),
    "llm_ann_mrr" -> (annMrr _),
    "llm_ann_map" -> (annMap _)
  )

  val oracle: Map[String, String] = Map(
    "llm_ivf_recall" -> ivfRecallOracle,
    "llm_ivf_nprobe_sweep" -> nprobeSweepOracle,
    "llm_knn_recall" -> knnRecallOracle,
    "llm_ann_ndcg" -> annNdcgOracle,
    "llm_ann_mrr" -> annMrrOracle,
    "llm_ann_map" -> annMapOracle
  )
}
