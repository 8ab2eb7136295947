package graft.ops.retrieval

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import Neighbors.{isSeed, ivfCentroids, nearestCentroid, probeCells, seedCentroids}

/** Embedding geometry: k-means, cluster purity and label-aware
  * neighbour votes, per-group centroids and their cosines, outliers
  * against a centroid, one PCA power-iteration step and int8
  * quantization.
  *
  * Two shapes recur and are defined once here: the 6-dp rounded
  * per-group centroid grid ([[centroidGrid]], grouped by source or by
  * label) and the cosine between centroid pairs of that grid
  * ([[centroidPairCos]]). Cluster assignment is
  * [[Neighbors.nearestCentroid]].
  *
  * Scale shapes: centroid tables are k-, source- or label-sized
  * broadcasts, so assignment is map-side; the grids are explode →
  * (group, pos) hash aggregate, linear in elements; LOO k-NN scores
  * each unordered pair once (symmetric N²/2, the exact eval the
  * oracle demands) with [[knnClassifyIvf]] as the corpus-scale path.
  *
  * Determinism: cosines are 6-dp rounded before any argmax or rank
  * (ties → lowest id); majority votes tie to the smallest label;
  * centroid arithmetic runs over the 6-dp rounded grid; double Σs
  * inherit the feature-scale drift-absorption argument.
  */
object Geometry {

  /** Per-group centroid grid (group, pos, c) over posexploded
    * (group, pos0, f) element rows: c = the 6-dp rounded element mean,
    * pos 1-based. */
  private def centroidGrid(elems: DataFrame, group: String): DataFrame =
    elems.groupBy(col(group), (col("pos0") + 1).as("pos"))
      .agg(round(avg(col("f").cast("double")), 6).as("c"))

  /** Cosine between centroid pairs of a (group, pos, c) grid, as
    * (a, b, cos) unrounded: `a`/`b` name the two groups of a pair and
    * `keep` (over those names) selects the pairs. Built FROM THE 6-dp
    * ROUNDED grid — deterministic inputs on both engines, so the pair
    * sums (64 products each) land within the final 6-dp rounding. */
  private def centroidPairCos(grid: DataFrame, group: String, a: String,
      b: String, keep: Column): DataFrame =
    grid.select(col(group).as(a), col("pos"), col("c").as("ca"))
      .join(grid.select(col(group).as(b), col("pos"), col("c").as("cb")),
        Seq("pos"))
      .filter(keep)
      .groupBy(col(a), col(b))
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("n2a"),
        sum(col("cb") * col("cb")).as("n2b"))
      .select(col(a), col(b),
        (col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b")))).as("cos"))

  // ---- llm_kmeans_step ---------------------------------------------
  /** One Lloyd iteration over (id, vector) against a (cid, cvec)
    * centroid table — the [[graft.Graft.kmeansStep]] facade and the
    * centroid-training step behind the IVF index. Assignment is
    * [[Neighbors.nearestCentroid]] (a k-row broadcast, map-side at any
    * scale); the update re-averages members per dimension in one
    * (cid, pos) hash aggregate and reassembles with the struct-sort
    * idiom. */
  private[graft] def kmeansStepOn(vectors: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    // Bind the centroid table by NAME (positional toDF would mis-bind
    // a (cvec, cid)-ordered frame) and cast both vector columns to
    // array<float> so array<double> inputs — including this
    // function's own centroid output fed back for the next iteration
    // — analyze cleanly against the float-typed cosine kernel.
    val emb = vectors.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<float>").as("embedding"))
    val cents = centroids.select(col("cid").as("cent_id"),
      col("cvec").cast("array<float>").as("cent_emb"))
    // the member counts and the re-average both read the assignment:
    // checkpoint it once (one row per vector)
    val best = nearestCentroid(emb, cents, "embedding")
      .select(col("vec_id"), col("embedding"), col("cell").as("cid"))
      .localCheckpoint()
    val x = best
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos0", "f")))
      .select(col("cid"), (col("pos0") + 1).as("pos"),
        col("f").cast("double").as("v"))
    val m = x.groupBy("cid", "pos")
      .agg(expr("round(sum(v) / count(*), 6)").as("mv"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        e => e.getField("mv")).as("centroid"))
    val counts = best.groupBy("cid").agg(count(lit(1)).as("n_members"))
    counts.join(m, "cid").orderBy("cid")
  }

  // k = 8 from the deterministic seeds. The query surface is exploded
  // (cid, n_members, pos, cv) rows — the driver's comparer cannot hash
  // the assembled array<double> centroid — but still routes through
  // the array-returning facade so the oracle proves it end to end.
  private def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    kmeansStepOn(emb, "vec_id", "embedding",
      emb.filter(isSeed)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      .select(col("cid"), col("n_members"),
        posexplode(col("centroid")).as(Seq("pos0", "cv")))
      .select(col("cid"), col("n_members"), (col("pos0") + 1).as("pos"),
        col("cv"))
      .orderBy("cid", "pos")
  }

  private val kmeansOracle =
    """WITH c AS (
      |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      |  FROM embeddings WHERE vec_id < 8),
      |a AS (
      |  SELECT e.vec_id, e.embedding, cid,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cvec), 6) AS cos
      |  FROM embeddings e CROSS JOIN c),
      |best AS (
      |  SELECT vec_id, embedding, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cid) AS rn FROM a) WHERE rn = 1),
      |x AS (
      |  SELECT cid, CAST(i AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS v FROM (
      |    SELECT cid, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM best)),
      |m AS (
      |  SELECT cid, pos, round(sum(v) / count(*), 6) AS cv
      |  FROM x GROUP BY cid, pos),
      |counts AS (SELECT cid, count(*) AS n_members FROM best GROUP BY cid)
      |SELECT cid, n_members, pos, cv
      |FROM counts JOIN m USING (cid)
      |ORDER BY cid, pos""".stripMargin

  // ---- llm_cluster_purity ------------------------------------------
  // Purity of the IVF blocking clusters against the label column:
  // assign every vector to its nearest seed centroid (vec_id < 8 —
  // exactly llm_simsearch_ivf's blocking scheme), then per cluster
  // surface the majority label (ties → smallest label) and its
  // share. Low purity here is WHY llm_knn_classify sits at chance on
  // this corpus — the labels are synthetic; the metric pipeline is
  // the deliverable.
  private def clusterPurity(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val cells = nearestCentroid(emb, seedCentroids(emb), "label")
      .groupBy(col("cell").as("cid"), col("label"))
      .agg(count(lit(1)).as("c"))
    val pw = Window.partitionBy(col("cid"))
      .orderBy(col("c").desc, col("label").asc)
    cells
      .withColumn("pr", row_number().over(pw))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("cid"))))
      .filter(col("pr") === 1)
      .select(col("cid"), col("n").cast("bigint").as("n"),
        col("label").as("top_label"), col("c").as("n_top"),
        round(col("c").cast("double") / col("n").cast("double"), 6)
          .as("purity"))
      .orderBy("cid")
  }

  private val clusterPurityOracle =
    """WITH emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cid, e AS cvec FROM emb WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, label, cid FROM (
      |    SELECT emb.vec_id, emb.label, cents.cid, row_number() OVER (
      |      PARTITION BY emb.vec_id
      |      ORDER BY round(list_cosine_similarity(emb.e, cents.cvec), 6)
      |        DESC, cents.cid) AS rn
      |    FROM emb CROSS JOIN cents) WHERE rn = 1),
      |cells AS (
      |  SELECT cid, label, CAST(count(*) AS BIGINT) AS c
      |  FROM assign GROUP BY cid, label),
      |top AS (
      |  SELECT cid, label, c, row_number() OVER (
      |      PARTITION BY cid ORDER BY c DESC, label) AS pr,
      |    CAST(sum(c) OVER (PARTITION BY cid) AS BIGINT) AS n
      |  FROM cells)
      |SELECT cid, n, label AS top_label, c AS n_top,
      |  round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity
      |FROM top WHERE pr = 1
      |ORDER BY cid""".stripMargin

  // ---- llm_knn_classify --------------------------------------------
  // Leave-one-out 5-NN majority-vote accuracy per class (label, n,
  // n_correct, accuracy) — the standard embedding-quality probe; votes
  // tie-break to the smallest label. The declared plan is EXACT: on
  // this corpus' near-uniform embeddings the IVF-candidate scale path
  // ([[knnClassifyIvf]]) flips majority votes at every scale factor,
  // so LlmSpec pins it equal to the exact vote on a clustered fixture.
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

  /** IVF-candidate LOO 5-NN vote: every vector is a query that probes
    * its `nprobe` nearest cells and votes over the members found
    * there. Cells and probes are [[Neighbors]]' single definitions,
    * so `nprobe`/`centEvery` mean what they mean in [[Ann.ivfTopK]].
    * Package-private so LlmSpec can compare it against
    * [[knnClassifyExact]] directly. */
  private[graft] def knnClassifyIvf(emb: DataFrame, nprobe: Int = 2,
      centEvery: Int = 97): DataFrame = {
    val centroids = ivfCentroids(emb, centEvery)
    val cells = nearestCentroid(emb, centroids, "embedding", "label")
    val probes = probeCells(emb.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("label").as("qlabel")),
      centroids, nprobe)
    // In-cell scan: each vector lives in exactly ONE cell, so a
    // (query, member) pair can surface at most once — no dedup needed.
    voteAccuracy(cells
      .select(col("cell"), col("vec_id").as("nid"),
        col("embedding").as("nvec"), col("label").as("nlabel"))
      .join(probes, "cell")
      .filter(col("q_id") =!= col("nid"))
      .select(col("q_id").as("vec_id"), col("qlabel").as("label"),
        col("nid"), col("nlabel"),
        round(graft.functions.CosineSim(col("q_emb"), col("nvec")), 6)
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
    val elems = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos0", "f")))
    val cent = centroidGrid(elems, "label")
    val x = elems.select(col("vec_id"), col("label"),
      (col("pos0") + 1).as("pos"), col("f").cast("double").as("v"))
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
    val inter = centroidPairCos(cent, "label", "la", "lb",
        col("la") =!= col("lb"))
      .groupBy(col("la").as("label"))
      .agg(round(max(col("cos")), 6).as("max_inter"))
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

  // ---- llm_source_centroid -----------------------------------------
  // Per-source embedding centroid, exploded to (source, pos, c) —
  // the domain-balancing primitive (which sources cluster where).
  // Documents join embeddings 1:1 on doc_id = vec_id (verified
  // corpus invariant), elements explode once, and the centroid is a
  // (source, pos) hash aggregate — linear in elements, sources×64
  // rows out whatever the corpus size. avg() drift absorbed by the
  // 6-dp rounding (feature-scale discipline).
  private[graft] def sourceCentroids(s: SparkSession, dir: String): DataFrame =
    centroidGrid(load(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(load(s, dir, "embeddings"),
        col("doc_id") === col("vec_id"))
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos0", "f"))),
      "source")

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
  private def sourceSim(s: SparkSession, dir: String): DataFrame =
    centroidPairCos(sourceCentroids(s, dir), "source", "sa", "sb",
        col("sa") < col("sb"))
      .select(col("sa"), col("sb"), round(col("cos"), 6).as("cos"))
      .orderBy("sa", "sb")

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

  // ---- llm_centroid_outliers ---------------------------------------
  // The 10 documents farthest (lowest cosine) from their own
  // source's centroid — the curation queue for mislabeled or
  // contaminated docs. Distances build on the 6-dp rounded
  // (source, pos) centroid grid (llm_source_centroid's surface), so
  // both engines rank identical values; top-k per corpus via one
  // (cos ASC, doc) TakeOrdered.
  private def centroidOutliers(s: SparkSession, dir: String): DataFrame = {
    val cents = sourceCentroids(s, dir)
    val x = load(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(load(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"),
        posexplode(col("embedding")).as(Seq("pos0", "f")))
      .select(col("doc_id"), col("source"), (col("pos0") + 1).as("pos"),
        col("f").cast("double").as("v"))
    x.join(cents, Seq("source", "pos"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("v") * col("c")).as("dot"),
        sqrt(sum(col("v") * col("v"))).as("vn"),
        sqrt(sum(col("c") * col("c"))).as("cn"))
      .select(col("doc_id"), col("source"),
        round(col("dot") / (col("vn") * col("cn")), 6).as("cos"))
      .orderBy(asc("cos"), asc("doc_id"))
      .limit(10)
  }

  private val centroidOutliersOracle =
    """WITH x AS (
      |  SELECT d.doc_id, d.source, CAST(r.range AS INT) AS pos,
      |    CAST(e.embedding[r.range] AS DOUBLE) AS v
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  CROSS JOIN range(1, 65) r),
      |c AS (
      |  SELECT source, pos, round(avg(v), 6) AS c
      |  FROM x GROUP BY source, pos),
      |m AS (
      |  SELECT x.doc_id, x.source,
      |    sum(x.v * c.c) AS dot, sqrt(sum(x.v * x.v)) AS vn,
      |    sqrt(sum(c.c * c.c)) AS cn
      |  FROM x JOIN c ON x.source = c.source AND x.pos = c.pos
      |  GROUP BY x.doc_id, x.source)
      |SELECT doc_id, source, round(dot / (vn * cn), 6) AS cos
      |FROM m ORDER BY cos, doc_id LIMIT 10""".stripMargin

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

  // ---- llm_embed_quantize ------------------------------------------
  // Int8 symmetric quantization (the compression step before ANN
  // index shipping): per-vector scale = 127/max|x|, reconstruction
  // MAE after dequantization. Per-row HOF math on a 64-wide array,
  // all double with floor(x + 0.5) rounding — not round(): Spark
  // HALF_UPs doubles, DuckDB banker-rounds — so the oracle is
  // bit-identical.
  private def embedQuantize(s: SparkSession, dir: String): DataFrame =
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
      .orderBy("vec_id")

  private val embedQuantizeOracle =
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
      |FROM q ORDER BY vec_id""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_kmeans_step" -> (kmeansStep _),
    "llm_cluster_purity" -> (clusterPurity _),
    "llm_knn_classify" -> (knnClassify _),
    "llm_label_margin" -> (labelMargin _),
    "llm_source_centroid" -> (sourceCentroid _),
    "llm_source_sim" -> (sourceSim _),
    "llm_centroid_outliers" -> (centroidOutliers _),
    "llm_embed_pca_step" -> (pcaStep _),
    "llm_embed_quantize" -> (embedQuantize _)
  )

  val oracle: Map[String, String] = Map(
    "llm_kmeans_step" -> kmeansOracle,
    "llm_cluster_purity" -> clusterPurityOracle,
    "llm_knn_classify" -> knnClassifyOracle,
    "llm_label_margin" -> labelMarginOracle,
    "llm_source_centroid" -> sourceCentroidOracle,
    "llm_source_sim" -> sourceSimOracle,
    "llm_centroid_outliers" -> centroidOutliersOracle,
    "llm_embed_pca_step" -> pcaStepOracle,
    "llm_embed_quantize" -> embedQuantizeOracle
  )
}
