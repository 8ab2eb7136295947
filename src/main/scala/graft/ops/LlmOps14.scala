package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.29 — round-15 label-aware embedding operators: hard-
  * negative mining, leave-one-out k-NN classification accuracy, and
  * intra/inter label margin — the eval loop behind contrastive
  * training and embedding-quality audits, over the corpus' `label`
  * column (10 balanced classes, verified).
  *
  * Scale shapes: hard negatives fan 20 pinned queries across the
  * corpus (linear); LOO k-NN scores each unordered pair once
  * (symmetric N²/2 — still the exact eval the oracle demands), with
  * the IVF-candidate variant [[knnClassifyIvf]] as the corpus-scale
  * path (spec-pinned equal to exact on clustered data; on this
  * near-uniform corpus candidate misses flip votes, so it cannot be
  * the oracle-checked query); label margins reduce to 10 centroids
  * and a 10×10 cosine matrix.
  *
  * Determinism: every ranking uses round(cos, 6) DESC, vec_id ASC
  * (kmeans discipline); majority votes tie to the smallest label;
  * margin arithmetic runs over 6-dp rounded centroids.
  */
object LlmOps14 {

  // ---- llm_hard_negatives ------------------------------------------
  // Top-5 most-similar DIFFERENT-label vectors per pinned query
  // (vec_id < 20) — the hard-negative mining step of contrastive
  // training (in-batch negatives are easy; these are the ones that
  // move the loss). The label filter applies BEFORE the ranking
  // window, so the top-k limit prunes the right set.
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), asc("vec_id"))
    emb.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(graft.functions.CosineSim(col("embedding"), col("qvec")), 6)
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
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

  // ---- llm_knn_classify --------------------------------------------
  // Leave-one-out 5-NN majority-vote accuracy per class — the
  // standard embedding-quality probe. Neighbor votes tie-break to
  // the smallest label; the per-class surface is (label, n,
  // n_correct, accuracy). The declared plan is EXACT (it must match
  // the brute-force LOO oracle) but scores each unordered pair ONCE
  // using cosine symmetry: the array-carrying half-join emits N²/2
  // rows, is checkpointed as bare scalars, and the mirrored copy is
  // a free projection — halving the dominant cost (materializing
  // embedding pairs). An IVF-candidate re-rank was built and
  // measured ([[knnClassifyIvf]], the documented scale path): on
  // this corpus' near-uniform embeddings candidate misses flip
  // majority votes at EVERY scale factor, so it cannot be the
  // declared (oracle-exact) query; LlmSpec asserts its equivalence
  // on a clustered fixture where IVF recall is exact.
  private def knnClassify(s: SparkSession, dir: String): DataFrame =
    knnClassifyExact(load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label")))

  /** Exact LOO 5-NN vote with symmetric halving: every unordered pair
    * scored exactly once, then mirrored. Two size-gated pair plans
    * (r19, VERDICT r18 item 7), identical output:
    *
    *  - Small regime: the r18 broadcast half-join (vec_id < nid over
    *    a broadcast copy) — fastest at bench SF (the block join
    *    measured 1.4-1.5 s vs 0.9 s solo).
    *  - Big regime: TRIANGULAR-BLOCK pair partitioning — the corpus
    *    is never broadcast. Rows land in B deterministic blocks
    *    (pmod of the id); block pair (i ≤ j) is one equi-join key,
    *    each row exploded into the block pairs its block joins (side
    *    A covers j ≥ own block, side B covers i ≤ own block), so
    *    every unordered pair meets in EXACTLY one key — the diagonal
    *    deduplicated by id order. Shuffle volume is (B+1)·N rows,
    *    bounded and skew-free (pmod spreads uniformly; B ≈ √(32·parts)
    *    gives ~16·parts keys — guide §2.5's many-more-keys-than-
    *    partitions rule); per-task state is one block pair's N/B
    *    build rows. The repartition counts are EXPLICIT because the
    *    pre-expansion shuffles are small and AQE would coalesce them
    *    to one task, blind to the ×(N/B) join fan-out.
    *
    * The regime gate is the PAIR count, not broadcastability (r19
    * session 2, found by the sf1 spot-check): at 10x the bench corpus
    * the build side still broadcast comfortably (20k rows), but the
    * N²/2 = 200M scored rows localCheckpointed as deserialized heap
    * blocks exhausted execution memory at 32 concurrent tasks
    * (SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY). The broadcast
    * half-join + eager checkpoint is only sane while the MATERIALIZED
    * PAIR TABLE is small, so the gate is n²/2 ≤ broadcastRowCap
    * (n ≤ ~2.8k; bench SF n=2k stays on the measured-faster small
    * plan), and the big regime persists the scored pairs DISK_ONLY —
    * compressed columnar batches, no heap pinning, both mirror
    * branches stream them back (§5: the driver/executor holds keys
    * and metadata, never an O(N²) relation on the heap). The big
    * regime votes eagerly and unpersists the pair table before it
    * returns the per-label result as a local relation.
    *
    * Pair orientation differs between the plans; the mirror union
    * erases it, so the voted output is identical (Round58Spec pins
    * block == broadcast on a real corpus). */
  private[graft] def knnClassifyExact(emb0: DataFrame): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"), col("label"))
    val n = emb.count()
    // n²/2 ≤ cap without n·n overflow: n ≤ √(2·cap)
    val smallPairs =
      n <= math.sqrt(2.0 * graft.util.Hints.broadcastRowCap).toLong
    val scored0 = (
      if (smallPairs) {
        val right = emb.select(col("vec_id").as("nid"),
          col("embedding").as("nvec"), col("label").as("nlabel"))
        // The streamed side arrives as ONE parquet split; spread it
        // across the full shuffle-partition count first (EXPLICIT —
        // AQE sees only the tiny pre-join shuffle and would coalesce
        // it back to one partition, blind to the ×N fan-out).
        emb.repartition(
            emb.sparkSession.sessionState.conf.numShufflePartitions,
            col("vec_id"))
          .join(broadcast(right), col("vec_id") < col("nid"))
      } else {
        val parts = emb.sparkSession.sessionState.conf.numShufflePartitions
        val nBlk = math.max(2L, math.ceil(math.sqrt(32.0 * parts)).toLong)
        val aSide = emb
          .withColumn("ba", pmod(col("vec_id"), lit(nBlk)))
          .select(col("vec_id"), col("embedding"), col("label"), col("ba"),
            explode(expr(s"sequence(ba, ${nBlk - 1}L)")).as("bb"))
          .repartition(parts, col("ba"), col("bb"))
        val bSide = emb
          .select(col("vec_id").as("nid"), col("embedding").as("nvec"),
            col("label").as("nlabel"),
            pmod(col("vec_id"), lit(nBlk)).as("bj"))
          .select(col("nid"), col("nvec"), col("nlabel"), col("bj"),
            explode(expr("sequence(CAST(0 AS BIGINT), bj)")).as("bi"))
          .repartition(parts, col("bi"), col("bj"))
        aSide.join(bSide.hint("shuffle_hash"),
          col("ba") === col("bi") && col("bb") === col("bj") &&
            (col("ba") =!= col("bj") || col("vec_id") < col("nid")))
      })
      .select(col("vec_id"), col("label"), col("nid"), col("nlabel"),
        round(graft.functions.CosineSim(col("embedding"), col("nvec")), 6)
          .as("cos"))
    // consumed twice (identity + mirror) — materialized as bare
    // scalars so the N²/2 array join runs once. (An explode-based
    // single-pass mirror measured ~1.6x SLOWER: the generate node
    // splits the codegen stage feeding the window's partial top-k.)
    // Small regime: eager localCheckpoint (row blocks, fastest at
    // bench SF). Big regime: DISK_ONLY columnar persist — the pair
    // table must never pin the heap (see scaladoc).
    val scored =
      if (smallPairs) scored0.localCheckpoint()
      else scored0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sym = scored.unionAll(scored.select(
      col("nid").as("vec_id"), col("nlabel").as("label"),
      col("vec_id").as("nid"), col("label").as("nlabel"), col("cos")))
    val voted = voteAccuracy(sym)
    if (smallPairs) voted
    else {
      // one row per label: collect it so the pair table can be released
      val rows = voted.collect()
      scored.unpersist()
      emb.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), voted.schema)
    }
  }

  /** (vec_id, label, nid, nlabel, cos) candidate rows → per-class
    * LOO 5-NN majority-vote accuracy (shared vote/tie/aggregate
    * tail of the exact and IVF plans). */
  private def voteAccuracy(cand: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cos"), asc("nid"))
    val votes = cand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(desc("v"), asc("nlabel"))
    val pred = votes.groupBy(col("vec_id"), col("label"), col("nlabel"))
      .agg(count(lit(1)).as("v"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") === 1)
    pred.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
        round(sum(when(col("nlabel") === col("label"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6).as("accuracy"))
      .orderBy("label")
  }

  /** IVF-candidate LOO 5-NN vote; `nprobe`/`centEvery` mirror
    * [[LlmOps3.ivfTopK]]'s defaults. Package-private so LlmSpec can
    * compare it against [[knnClassifyBrute]] directly. */
  private[graft] def knnClassifyIvf(emb: DataFrame, nprobe: Int = 2,
      centEvery: Int = 97): DataFrame = {
    val centroids = emb.filter(col("vec_id") % centEvery === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    // Corpus → nearest centroid, as a max_by AGGREGATE (shuffles one
    // row per vector; a window would replicate the corpus ×|cells|).
    val cells = emb.crossJoin(broadcast(centroids))
      .withColumn("cent_sim",
        graft.functions.CosineSim(col("embedding"), col("cent_emb")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
          struct(col("cent_sim"), -col("cent_id"))).as("cell"),
        first(col("embedding")).as("embedding"),
        first(col("label")).as("label"))
    // Every vector probes its nprobe nearest cells (rank-filter limit
    // — WindowGroupLimit keeps the per-vector heap bounded).
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cent_sim"), asc("cent_id"))
    val probes = emb.crossJoin(broadcast(centroids))
      .withColumn("cent_sim",
        graft.functions.CosineSim(col("embedding"), col("cent_emb")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"), col("cent_id").as("cell"))
    // In-cell scan: each vector lives in exactly ONE cell, so a
    // (qid, nid) pair can surface at most once — no dedup needed.
    voteAccuracy(cells
      .select(col("cell"), col("vec_id").as("nid"),
        col("embedding").as("nvec"), col("label").as("nlabel"))
      .join(probes, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid").as("vec_id"), col("qlabel").as("label"),
        col("nid"), col("nlabel"),
        round(graft.functions.CosineSim(col("qvec"), col("nvec")), 6)
          .as("cos")))
  }

  private val knnClassifyOracle =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      |  FROM embeddings),
      |nn AS (
      |  SELECT vec_id, label, nlabel FROM (
      |    SELECT a.vec_id, a.label, b.label AS nlabel,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC,
      |          b.vec_id) AS rn
      |    FROM emb a JOIN emb b ON a.vec_id <> b.vec_id) WHERE rn <= 5),
      |pred AS (
      |  SELECT vec_id, label, nlabel FROM (
      |    SELECT vec_id, label, nlabel, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY v DESC, nlabel) AS pr
      |    FROM (SELECT vec_id, label, nlabel, CAST(count(*) AS BIGINT) AS v
      |          FROM nn GROUP BY vec_id, label, nlabel))
      |  WHERE pr = 1)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  round(CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS accuracy
      |FROM pred GROUP BY label ORDER BY label""".stripMargin

  // ---- llm_label_margin --------------------------------------------
  // Embedding-space separation per class: cosine of each class
  // centroid to its nearest OTHER centroid (max inter-class cosine)
  // vs the mean cosine of members to their own centroid (intra
  // cohesion); margin = intra − max_inter. Everything downstream of
  // the 6-dp rounded centroid grid (source_sim discipline) — the
  // class count bounds all joins at 10×64 and 10×10.
  private def labelMargin(s: SparkSession, dir: String): DataFrame = {
    val x = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "f")))
      .select(col("vec_id"), col("label"), (col("pos0") + 1).as("pos"),
        col("f").cast("double").as("v"))
    val cent = x.groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 6).as("c"))
    // member→own-centroid cosine: join elements with the centroid on
    // (label, pos), reduce per vector, then per label
    val cn = cent.groupBy("label")
      .agg(sqrt(sum(col("c") * col("c"))).as("cnorm"))
    val member = x.join(cent, Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("v") * col("c")).as("dot"),
        sqrt(sum(col("v") * col("v"))).as("vnorm"))
      .join(broadcast(cn), "label")
      .select(col("label"),
        (col("dot") / (col("vnorm") * col("cnorm"))).as("cos"))
    val intra = member.groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg(col("cos")), 6).as("intra"))
    val a = cent.select(col("label").as("la"), col("pos"), col("c").as("ca"))
    val b = cent.select(col("label").as("lb"), col("pos"), col("c").as("cb"))
    val inter = a.join(b, Seq("pos"))
      .filter(col("la") =!= col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("n2a"),
        sum(col("cb") * col("cb")).as("n2b"))
      .select(col("la").as("label"),
        (col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b")))).as("icos"))
      .groupBy("label")
      .agg(round(max(col("icos")), 6).as("max_inter"))
    intra.join(inter, "label")
      .select(col("label"), col("n"), col("intra"), col("max_inter"),
        round(col("intra") - col("max_inter"), 6).as("margin"))
      .orderBy("label")
  }

  private val labelMarginOracle =
    """WITH x AS (
      |  SELECT vec_id, label, CAST(r.range AS INT) AS pos,
      |    CAST(embedding[r.range] AS DOUBLE) AS v
      |  FROM embeddings CROSS JOIN range(1, 65) r),
      |cent AS (
      |  SELECT label, pos, round(avg(v), 6) AS c
      |  FROM x GROUP BY label, pos),
      |cn AS (SELECT label, sqrt(sum(c * c)) AS cnorm FROM cent GROUP BY label),
      |member AS (
      |  SELECT m.label, m.dot / (m.vnorm * cn.cnorm) AS cos
      |  FROM (
      |    SELECT x.vec_id, x.label, sum(x.v * cent.c) AS dot,
      |      sqrt(sum(x.v * x.v)) AS vnorm
      |    FROM x JOIN cent ON x.label = cent.label AND x.pos = cent.pos
      |    GROUP BY x.vec_id, x.label) m
      |  JOIN cn ON m.label = cn.label),
      |intra AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n,
      |    round(avg(cos), 6) AS intra
      |  FROM member GROUP BY label),
      |inter AS (
      |  SELECT la AS label, round(max(dot / (sqrt(n2a) * sqrt(n2b))), 6)
      |    AS max_inter
      |  FROM (
      |    SELECT a.label AS la, b.label AS lb, sum(a.c * b.c) AS dot,
      |      sum(a.c * a.c) AS n2a, sum(b.c * b.c) AS n2b
      |    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
      |    GROUP BY a.label, b.label)
      |  GROUP BY la)
      |SELECT intra.label, n, intra, max_inter,
      |  round(intra - max_inter, 6) AS margin
      |FROM intra JOIN inter ON intra.label = inter.label
      |ORDER BY intra.label""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_hard_negatives" -> (hardNegatives _),
    "llm_knn_classify" -> (knnClassify _),
    "llm_label_margin" -> (labelMargin _)
  )

  val oracle: Map[String, String] = Map(
    "llm_hard_negatives" -> hardNegativesOracle,
    "llm_knn_classify" -> knnClassifyOracle,
    "llm_label_margin" -> labelMarginOracle
  )
}
