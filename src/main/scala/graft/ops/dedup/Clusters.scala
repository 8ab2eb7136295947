package graft.ops.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CosineSim
import graft.ops.graph.Community.{connectedComponents, hashMinJumpRounds}
import graft.util.Tables._

/** From duplicate pairs to duplicate clusters (SURVEY.md §2.11):
  * near-duplicate PAIRS are only half the dedup story — production
  * dedup maps every document to a cluster representative.
  *
  *  - `llm_dedup_minhash_cluster`: MinHash-LSH pairs
  *    ([[NearDup.nearDupPairs]]) resolved by the convergence-detected
  *    min-label loop ([[graft.ops.graph.Community.connectedComponents]]);
  *  - `llm_dedup_cluster`: exact-duplicate stars contracted first,
  *    then bigram-Jaccard pairs ([[NearDup.ngramPairs]]) resolved on
  *    the contracted graph;
  *  - [[semDedup]] (`llm_semdedup`): cluster-blocked cosine pairs in
  *    embedding space resolved to components;
  *  - `llm_embed_neardup`: the embedding-space pairs alone, blocked on
  *    the label (an IVF-style coarse bucket).
  *
  * Scale shapes: every pair join is blocked (LSH bands, language and
  * size buckets, label cells) — never all-pairs; the component loop
  * pays one node-keyed exchange per round and O(log diameter) rounds.
  * Determinism: cluster ids are min member ids; cosines are 6-dp
  * rounded before any threshold compare.
  */
object Clusters {

  /** Exact-duplicate edges: every doc links to the min doc_id sharing
    * its [[Keys.exact]] key. The survivor aggregate is THE canonical
    * [[Keys.exactSurvivorsByHash]] definition — `llm_dedup_exact`,
    * the facade, and these edges cannot drift apart. (A one-scan
    * collect_set formulation was considered in r19 and rejected: the
    * per-hash id array is unbounded in the duplicate-group size,
    * exactly the column this operator exists to shrink.) */
  private def exactDupEdges(docs: DataFrame): DataFrame = {
    val mins = Keys.exactSurvivorsByHash(docs, col("doc_id"), col("text"))
      .withColumnRenamed("survivor_key", "a")
    docs.select(col("doc_id"), Keys.exact().as("h"))
      .join(mins, "h")
      .filter(col("doc_id") > col("a"))
      .select(col("a"), col("doc_id").as("b"))
  }

  /** SemDeDup (arXiv:2303.09540): semantic dedup in embedding space.
    * Cosine pairs at/above `threshold` WITHIN a cluster (`clusterCol`
    * plays the k-means cell — blocked, never all-pairs) are resolved
    * to components; each row surfaces with its min-id representative
    * `rep` and a `survivor` flag. Similarity is rounded to 6 dp
    * before the threshold compare so the keep-set is float-stable. */
  def semDedup(vectors: DataFrame, idCol: String, clusterCol: String,
      embCol: String, threshold: Double): DataFrame = {
    val pairs = vectors.as("a").join(vectors.as("b"),
        col(s"a.$clusterCol") === col(s"b.$clusterCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(round(CosineSim(
        col(s"a.$embCol"), col(s"b.$embCol")), 6) >= threshold)
      .select(col(s"a.$idCol").as("a"), col(s"b.$idCol").as("b"))
    vectors.select(col(idCol), col(clusterCol))
      .join(connectedComponents(pairs), col(idCol) === col("node"), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("cluster_id"), col(idCol)).as("rep"))
      .withColumn("survivor", col("rep") === col(idCol))
  }

  // ---- llm_dedup_cluster -------------------------------------------
  // Duplicate-cluster resolution: edges = exact-dup links UNION
  // bigram-Jaccard >= 0.5 near-dup pairs, components solved by
  // min-label propagation. Output: every clustered doc with its
  // cluster representative (min doc_id).
  private def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    // ngramPairs checkpoints its bigram-set build internally and
    // skips llm_dedup_ngram's presentation sort — edges don't need it.
    // localCheckpoint: `near` feeds the contraction AND two node-set
    // union branches — the Jaccard verify join must run once, not
    // per reference (the same multi-reference trap documented in
    // connectedComponents).
    val near = NearDup.ngramPairs(s, dir, 0.5)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint()
    // Exact tier contracted BEFORE the label loop (VERDICT r9 item
    // 1, the deferred r8 seeding idea): every md5 group is a star
    // around its min doc_id, so the dominant edge class needs no
    // propagation at all. Map each near-dup endpoint through its
    // exact representative and run connectedComponents on the
    // CONTRACTED graph only — |near-pair| edges instead of
    // |exact ∪ near|, and star-merge rounds vanish. cluster_id is
    // unchanged: reps are per-star minima, so the min rep of a
    // contracted component == the min doc_id of the merged
    // component. localCheckpoint: `exact` feeds four consumers
    // (rep map ×2, node set ×2) — materialize the md5 aggregate
    // once instead of per-broadcast-build.
    val exact = exactDupEdges(load(s, dir, "documents")).localCheckpoint()
    val rep = exact.select(col("b").as("doc"), col("a").as("rep"))
    // Size-gate the broadcast hints (ADVICE r10, now the shared
    // graft.util.Hints discipline): Spark honors an explicit
    // broadcast() REGARDLESS of relation size (8 GB hard cap /
    // driver OOM on a corpus-scale exact tier), so the earlier
    // "degrades gracefully to a shuffle join" claim did not hold
    // for hinted joins. Both build sides are localCheckpointed
    // above, so counting them is a cheap cached-block scan; under
    // the gate the hint skips AQE's estimate round-trip, above it
    // the joins run un-hinted and AQE still broadcasts at runtime
    // if the actual bytes allow — now genuinely graceful.
    // ONE action sizes both gates (r19): the counts of the two
    // checkpointed tables ride a single union aggregate over their
    // cached blocks instead of two count jobs.
    val cRow = exact.select(lit(1L).as("t"))
      .unionAll(near.select(lit(0L).as("t")))
      .agg(coalesce(sum(col("t")), lit(0L)), count(lit(1))).first()
    val exactCnt = cRow.getLong(0)
    val repHint = graft.util.Hints.maybeBroadcast(exactCnt)
    // cc's node set is bounded by the contracted edge endpoints,
    // i.e. by 2x the near-pair count — gate its hint on that bound.
    val ccHint = graft.util.Hints.maybeBroadcast(
      2L * (cRow.getLong(1) - exactCnt))
    val contracted = near
      .join(repHint(rep.select(col("doc").as("a"), col("rep").as("ra"))),
        Seq("a"), "left")
      .join(repHint(rep.select(col("doc").as("b"), col("rep").as("rb"))),
        Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("x"),
        coalesce(col("rb"), col("b")).as("y"))
      .filter(col("x") =!= col("y"))
      // duplicate contracted edges are harmless to min-label
      // propagation — a distinct here would buy nothing but a shuffle
      .select(col("x").as("a"), col("y").as("b"))
    // contracted is two broadcast probes over checkpointed near
    // blocks, but skipping CC's internal edge checkpoint for it
    // measured SLOWER (r19 A/B: 3.3 → 4.3+ s at sf0.1 — the und
    // union re-runs the probe subtree per branch and the broadcast
    // reuse does not survive the persist boundary), so the default
    // eager checkpoint stays.
    val cc = connectedComponents(contracted)
    // Output rows = every node of the ORIGINAL exact ∪ near edge
    // union (identical set to the un-seeded plan), labelled through
    // rep -> contracted component, defaulting to the rep itself for
    // stars no near edge touches.
    val nodes = exact.select(col("a")).union(exact.select(col("b").as("a")))
      .union(near.select(col("a"))).union(near.select(col("b").as("a")))
      .distinct()
    nodes
      .join(repHint(rep.select(col("doc").as("a"), col("rep"))),
        Seq("a"), "left")
      .withColumn("r", coalesce(col("rep"), col("a")))
      .join(ccHint(cc.select(col("node").as("r"), col("cluster_id"))),
        Seq("r"), "left")
      .select(col("a").as("doc_id"),
        coalesce(col("cluster_id"), col("r")).as("cluster_id"))
      .orderBy("doc_id")
  }

  // Exact all-pairs Jaccard >= 0.8 edges (the llm_dedup_near_verified
  // CTEs) -> symmetric closure -> 10 unrolled HashMin+jump rounds
  // ([[hashMinJumpRounds]]) -> (doc, min-label) map, with a
  // convergence sentinel comparing the last two rounds' label sums.
  // Depth budget: the oracle's 10 jumped rounds resolve depth ~2^10,
  // matching the Spark side's maxIter=10 pointer-jumping loop — the
  // sentinel reds only for component depth > 2^10, i.e. effectively
  // never on a corpus either engine can hold (ADVICE r10 closed the
  // budget gap the r9 alignment comment had claimed prematurely).
  private val minhashClusterOracle = {
    val rounds = hashMinJumpRounds(10)
    s"""WITH ${NearDup.shingleOverlapCtes},
       |j AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN n na ON na.doc_id = doc_a
       |             JOIN n nb ON nb.doc_id = doc_b
       |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.8),
       |e AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM j
       |  UNION ALL SELECT doc_b, doc_a FROM j),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS l FROM e),
       |$rounds
       |SELECT node AS doc_id, l AS cluster_id FROM l10
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |WHERE (SELECT sum(CAST(l AS HUGEINT)) FROM l9)
       |   <> (SELECT sum(CAST(l AS HUGEINT)) FROM l10)
       |ORDER BY 1""".stripMargin
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // End-to-end oracle twin of the MinHash->cluster pipeline
    // (VERDICT r8 item 8): LSH-banded near-dup pairs (the
    // llm_dedup_near_verified plan, whose recall the driver already
    // hash-checks) resolved to components by the convergence-detected
    // min-label loop, hash-compared against DuckDB's exact all-pairs
    // Jaccard >= 0.8 edges run through 10 unrolled HashMin rounds with
    // an l9-vs-l10 convergence sentinel (near-dup clusters are
    // shallow; a deeper corpus reds the row with a (-1,-1) pointer
    // instead of silent drift, the conv-CC discipline).
    "llm_dedup_minhash_cluster" -> ((s: SparkSession, dir: String) =>
      connectedComponents(
          NearDup.nearDupPairs(load(s, dir, "documents"))
            .select(col("doc_a").as("a"), col("doc_b").as("b")),
          maxIter = 10)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")),

    "llm_dedup_cluster" -> (dedupCluster _),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    // in embedding space — pairs above the cosine threshold WITHIN a
    // cluster (the `label` column plays the k-means cell) resolved to
    // components; survivor = min-id representative. The pair join is
    // cluster-blocked (never all-pairs across the corpus), the
    // component pass reuses [[connectedComponents]], and every vector
    // surfaces with its representative + survivor flag, so downstream
    // filtering is a join, not a recompute.
    "llm_semdedup" -> ((s: SparkSession, dir: String) =>
      semDedup(load(s, dir, "embeddings"), "vec_id", "label", "embedding",
        threshold = 0.4)
        .orderBy("vec_id")),

    // Embedding-space near-dup: label = IVF-style coarse bucket; pairs
    // only within a bucket, compared with the fused cosine kernel.
    "llm_embed_neardup" -> ((s: SparkSession, dir: String) => {
      val e = load(s, dir, "embeddings")
      e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.label").as("label"),
          round(CosineSim(col("a.embedding"), col("b.embedding")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.2)
        .orderBy("vec_a", "vec_b")
    })
  )

  val oracle: Map[String, String] = Map(
    "llm_dedup_minhash_cluster" -> minhashClusterOracle,

    "llm_dedup_cluster" ->
      s"""WITH RECURSIVE ${NearDup.bigramBlockCtes},
        |np AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM g a JOIN g b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(a.bg, b.bg))) AS DOUBLE), 6)
        |    >= 0.5),
        |eh AS (SELECT doc_id, md5(text) AS h FROM documents),
        |em AS (SELECT h, min(doc_id) AS a FROM eh GROUP BY h),
        |ee AS (SELECT em.a, eh.doc_id AS b FROM eh JOIN em ON eh.h = em.h
        |  WHERE eh.doc_id > em.a),
        |e AS (SELECT a, b FROM np UNION SELECT a, b FROM ee),
        |u AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        |reach(x, r) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, reach.r FROM u JOIN reach ON u.b = reach.x)
        |SELECT x AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin,

    "llm_semdedup" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) >= 0.4),
        |u AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |reach(x, r) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, reach.r FROM u JOIN reach ON u.b = reach.x),
        |c AS (SELECT x AS node, min(r) AS rep FROM reach GROUP BY x)
        |SELECT vec_id, label, coalesce(c.rep, vec_id) AS rep,
        |  coalesce(c.rep, vec_id) = vec_id AS survivor
        |FROM embeddings LEFT JOIN c ON vec_id = c.node
        |ORDER BY vec_id""".stripMargin,

    "llm_embed_neardup" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])), 6) >= 0.2
        |ORDER BY vec_a, vec_b""".stripMargin
  )
}
