package graft.ops.retrieval

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSim
import graft.util.Tables._

/** The decisions every retrieval and embedding row shares, each made
  * here once:
  *
  *  - which vectors are queries ([[isQuery]], [[isPinned]]) and which
  *    seed the centroids ([[isSeed]], [[ivfCentroids]]);
  *  - the nearest-centroid rule ([[nearestCentroid]]) and the IVF
  *    probe step beside it ([[probeCells]]);
  *  - the per-query top-k ranking ([[topK]]);
  *  - the exact brute-force ground truth every approximate path is
  *    graded against ([[simsearchKnnK]], and its oracle text
  *    [[exactRankCtes]]).
  *
  * Determinism: cosines are 6-dp rounded before any argmax or rank,
  * and every order carries an id tie-break (ties go to the lowest
  * centroid or vector id).
  */
object Neighbors {

  /** The 1% query sample: every 100th vector. */
  def isQuery: Column = col("vec_id") % 100 === 0

  /** The 20 pinned queries of the label-aware and recall rows. */
  def isPinned: Column = col("vec_id") < 20

  /** The deterministic k-means seeds: the first 8 vectors (also the
    * blocking scheme the recall and purity rows evaluate). */
  def isSeed: Column = col("vec_id") < 8

  /** IVF coarse centroids (cent_id, cent_emb): the deterministic
    * `vec_id % every == 0` subsample — no RNG, no training loop. */
  def ivfCentroids(emb: DataFrame, every: Int = 97): DataFrame =
    centroidsWhere(emb, col("vec_id") % every === 0)

  /** The [[isSeed]] vectors as a (cent_id, cent_emb) centroid table. */
  def seedCentroids(emb: DataFrame): DataFrame = centroidsWhere(emb, isSeed)

  private def centroidsWhere(emb: DataFrame, keep: Column): DataFrame =
    emb.filter(keep)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))

  /** Nearest centroid per vector: (vec_id, cell, carry…) for vectors
    * (vec_id, embedding, …) against a broadcast (cent_id, cent_emb)
    * table. Cell = argmax of the 6-dp rounded cosine, ties to the
    * lowest cent_id (cent_ids must be integers spanning less than
    * 2^40, as vector ids do); a zero vector, whose every cosine is
    * null, lands in the lowest cent_id. The argmax is a max_by
    * AGGREGATE, not a window: the aggregate partially combines
    * map-side, so the shuffle carries one row per VECTOR — a window
    * would shuffle the corpus replicated ×|centroids| (n^1.5 bytes at
    * scale). Its buffer is two longs (the ordering is [[simIdKey]]),
    * so it plans as a hash aggregate; `carry` columns (vec_id must be
    * unique) are joined back on vec_id afterwards rather than carried
    * as first(), whose array buffer would force a sort aggregate over
    * every vector × centroid row. The 6-dp rounding keeps a near-tie
    * from flipping the argmax between engines over summation order
    * (the oracle replicas hash-compare the assignment transitively). */
  def nearestCentroid(vectors: DataFrame, centroids: DataFrame,
      carry: String*): DataFrame = {
    val cells = vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("cent_sim",
        round(CosineSim(col("embedding"), col("cent_emb")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), simIdKey).as("cell"))
    if (carry.isEmpty) cells
    else cells.join(vectors.select((col("vec_id") +: carry.map(col)): _*), "vec_id")
  }

  /** (cent_sim DESC, cent_id ASC) as one long, larger first: the 6-dp
    * sim is an exact integer count of 10⁻⁶ in [−10⁶, 10⁶] (a null sim
    * ranks below every real one), scaled by 2^40 so the id term never
    * crosses into the next sim step. A struct ordering says the same,
    * but a struct aggregation buffer cannot be hash-aggregated: it
    * plans as Sort + SortAggregate over every vector × centroid row. */
  private def simIdKey: Column =
    coalesce(round(col("cent_sim") * 1e6).cast("long"), lit(-1000001L)) *
      (1L << 40) - col("cent_id")

  /** The IVF probe step: each (q_id, q_emb, …) query row repeated for
    * its `nprobe` nearest cells by the same 6-dp cosine (ties to the
    * lowest cent_id), as (q_id, q_emb, …, cell). A rank-filter limit,
    * so WindowGroupLimit keeps the per-query heap bounded. */
  def probeCells(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("cent_sim"), asc("cent_id"))
    queries.crossJoin(broadcast(centroids))
      .withColumn("cent_sim",
        round(CosineSim(col("q_emb"), col("cent_emb")), 6))
      .withColumn("prn", row_number().over(w))
      .filter(col("prn") <= nprobe)
      .select(queries.columns.toSeq.map(col) :+ col("cent_id").as("cell"): _*)
  }

  /** Per-query top-k: rank each `query` partition by `score` DESC,
    * vec_id ASC into `rank` and keep ranks ≤ k. */
  def topK(scored: DataFrame, k: Int, query: String = "q_id",
      score: String = "cos_sim", rank: String = "rn"): DataFrame = {
    val w = Window.partitionBy(col(query)).orderBy(desc(score), asc("vec_id"))
    scored.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** Every (query, other vector) pair scored as (q_id, vec_id, score)
    * with the 6-dp cosine. The query side is broadcast so the corpus
    * scan never shuffles. */
  def queryScores(emb: DataFrame, score: String): DataFrame = {
    val q = emb.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    emb.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(CosineSim(col("q_emb"), col("embedding")), 6).as(score))
  }

  /** The exact brute-force k-NN ground truth (q_id, vec_id, cos_sim,
    * rn): `llm_simsearch_knn` is the k = 5 form, `llm_ivf_recall` and
    * the nprobe sweep grade against it, and the graded ANN metrics
    * read the k = 10 ranking. */
  private[graft] def simsearchKnnK(s: SparkSession, dir: String,
      k: Int): DataFrame =
    topK(queryScores(load(s, dir, "embeddings"), "cos_sim"), k)
      .orderBy("q_id", "rn")

  private[graft] def simsearchKnn(s: SparkSession, dir: String): DataFrame =
    simsearchKnnK(s, dir, 5)

  /** The exact ranking as oracle CTEs gq (queries), gc (scores) and gr
    * (ranks) — the llm_simsearch_knn definition, read by the recall,
    * sweep and graded-metric oracles. */
  private[retrieval] val exactRankCtes =
    """gq AS (SELECT vec_id AS q_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id % 100 = 0),
      |gc AS (SELECT q_id, vec_id,
      |  round(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
      |    CAST(embedding AS DOUBLE[])), 6) AS cos_sim
      |  FROM gq JOIN embeddings ON q_id <> vec_id),
      |gr AS (SELECT q_id, vec_id, row_number() OVER (
      |  PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn FROM gc)""".stripMargin
}
