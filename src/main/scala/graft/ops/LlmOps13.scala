package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.27 — round-15 training-data operators: one PCA
  * power-iteration step over the embedding matrix, recall\@10
  * evaluation of the cluster-restricted ANN path against the
  * brute-force oracle, and per-source embedding centroids and their
  * similarity matrix.
  *
  * Scale shapes: the PCA step is explode → two hash aggregates →
  * one vec_id-keyed join (all linear in elements, output is
  * dim-bounded); the recall eval scores 20 pinned queries against
  * the corpus (linear fan-out, per-query top-k via windows over
  * 20-key partitions) — candidate restriction happens BEFORE the
  * expensive ranking, which is the point of IVF.
  *
  * Float determinism: cosines and projections are 6-dp rounded
  * before any ranking (kmeans discipline, ties → lowest id); double
  * Σs inherit the feature-scale drift-absorption argument.
  */
object LlmOps13 {

  // ---- llm_embed_pca_step ------------------------------------------
  // One power-iteration step toward the top principal direction of
  // the (uncentered) embedding second-moment matrix: v1 ∝ Σ_i (x_i·v0)
  // x_i with the deterministic start v0 = 1/√dim (all-ones
  // normalized — every corpus gets the same v0, no RNG). Projections
  // s_i reduce per vector, the update m_p reduces per dimension, and
  // the normalization constant is a 1-row broadcast — three hash
  // aggregates and one vec_id join, linear in elements, 64-row
  // output whatever the corpus size. Σs over doubles are 6-dp
  // rounded at the surface (feature-scale discipline).
  private def pcaStep(s: SparkSession, dir: String): DataFrame = {
    val x = load(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "f")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"),
        col("f").cast("double").as("v"))
    val proj = x.groupBy("vec_id")
      .agg((sum(col("v")) / lit(8.0)).as("s"))
    val m = x.join(proj, "vec_id")
      .groupBy("pos")
      .agg(sum(col("v") * col("s")).as("m"))
    val norm = broadcast(m.agg(sqrt(sum(col("m") * col("m"))).as("nrm")))
    m.crossJoin(norm)
      .select(col("pos"), round(col("m"), 6).as("m"),
        round(col("m") / col("nrm"), 6).as("v1"))
      .orderBy("pos")
  }

  private val pcaStepOracle =
    """WITH x AS (
      |  SELECT vec_id, CAST(r.range AS INT) AS pos,
      |    CAST(embedding[r.range] AS DOUBLE) AS v
      |  FROM embeddings CROSS JOIN range(1, 65) r),
      |proj AS (SELECT vec_id, sum(v) / 8.0 AS s FROM x GROUP BY vec_id),
      |m AS (
      |  SELECT pos, sum(x.v * proj.s) AS m
      |  FROM x JOIN proj ON x.vec_id = proj.vec_id
      |  GROUP BY pos),
      |nrm AS (SELECT sqrt(sum(m * m)) AS nrm FROM m)
      |SELECT pos, round(m, 6) AS m, round(m / nrm, 6) AS v1
      |FROM m CROSS JOIN nrm
      |ORDER BY pos""".stripMargin

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
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cos"), asc("cid"))
    val assign = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(graft.functions.CosineSim(col("embedding"), col("cvec")), 6)
          .as("cos"))
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val queries = assign.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("cid").as("qcid"))
    def top10(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc("qcos"), asc("vec_id"))
      scored.withColumn("qrn", row_number().over(w))
        .filter(col("qrn") <= 10)
        .select(col("qid"), col("vec_id"))
    }
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

  // ---- llm_source_centroid -----------------------------------------
  // Per-source embedding centroid, exploded to (source, pos, c) —
  // the domain-balancing primitive (which sources cluster where).
  // Documents join embeddings 1:1 on doc_id = vec_id (verified
  // corpus invariant), elements explode once, and the centroid is a
  // (source, pos) hash aggregate — linear in elements, sources×64
  // rows out whatever the corpus size. avg() drift absorbed by the
  // 6-dp rounding (feature-scale discipline).
  private[graft] def sourceCentroids(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(load(s, dir, "embeddings"),
        col("doc_id") === col("vec_id"))
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos0", "f")))
      .groupBy(col("source"), (col("pos0") + 1).as("pos"))
      .agg(round(avg(col("f").cast("double")), 6).as("c"))

  private def sourceCentroid(s: SparkSession, dir: String): DataFrame =
    sourceCentroids(s, dir).orderBy("source", "pos")

  private val sourceCentroidOracle =
    """WITH x AS (
      |  SELECT d.source, CAST(r.range AS INT) AS pos,
      |    CAST(e.embedding[r.range] AS DOUBLE) AS v
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  CROSS JOIN range(1, 65) r)
      |SELECT source, pos, round(avg(v), 6) AS c
      |FROM x GROUP BY source, pos
      |ORDER BY source, pos""".stripMargin

  // ---- llm_source_sim ----------------------------------------------
  // Cosine similarity between source centroids (the inter-domain
  // redundancy matrix, sources²/2 rows). Built FROM THE 6-dp ROUNDED
  // centroids — deterministic inputs on both engines, so the pair
  // sums (64 products each) land within the final 6-dp rounding.
  // Shape: the centroid aggregate (sources×64 rows) self-joins on
  // pos — trivially small at any corpus scale.
  private def sourceSim(s: SparkSession, dir: String): DataFrame = {
    val c = sourceCentroids(s, dir)
    val a = c.select(col("source").as("sa"), col("pos"), col("c").as("ca"))
    val b = c.select(col("source").as("sb"), col("pos"), col("c").as("cb"))
    a.join(b, Seq("pos"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("n2a"),
        sum(col("cb") * col("cb")).as("n2b"))
      .select(col("sa"), col("sb"),
        round(col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b"))), 6)
          .as("cos"))
      .orderBy("sa", "sb")
  }

  private val sourceSimOracle =
    """WITH x AS (
      |  SELECT d.source, CAST(r.range AS INT) AS pos,
      |    CAST(e.embedding[r.range] AS DOUBLE) AS v
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  CROSS JOIN range(1, 65) r),
      |c AS (
      |  SELECT source, pos, round(avg(v), 6) AS c
      |  FROM x GROUP BY source, pos),
      |p AS (
      |  SELECT a.source AS sa, b.source AS sb,
      |    sum(a.c * b.c) AS dot,
      |    sum(a.c * a.c) AS n2a, sum(b.c * b.c) AS n2b
      |  FROM c a JOIN c b ON a.pos = b.pos AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT sa, sb, round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS cos
      |FROM p ORDER BY sa, sb""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_embed_pca_step" -> (pcaStep _),
    "llm_knn_recall" -> (knnRecall _),
    "llm_source_centroid" -> (sourceCentroid _),
    "llm_source_sim" -> (sourceSim _)
  )

  val oracle: Map[String, String] = Map(
    "llm_embed_pca_step" -> pcaStepOracle,
    "llm_knn_recall" -> knnRecallOracle,
    "llm_source_centroid" -> sourceCentroidOracle,
    "llm_source_sim" -> sourceSimOracle
  )
}
