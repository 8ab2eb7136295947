package graft.ops.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{GraphBfs, TriCore}
import CoPurchase.coPurchaseEdges

/** Node centrality over the co-purchase graph (SURVEY.md §2.18,
  * §2.52, §2.57, §2.70, §2.81, §2.88):
  *
  *  - [[pageRank]] / [[pagerankPersonalized]]: PageRank and
  *    personalized PageRank — one loop, [[pprOn]] (plain PageRank is
  *    the all-seed case);
  *  - [[eigenvectorCentrality]]: L1-normalized power iteration;
  *  - [[katzCentrality]]: hop-≤3 truncated Katz with dyadic α = 1/8;
  *  - [[harmonicCentrality]] / [[betweennessApprox]]: hop-≤3 harmonic
  *    closeness and seed-sampled Brandes betweenness of the 3
  *    top-degree hubs, both over the shared σ-BFS levels
  *    ([[GraphBfs.sharedLevels]]).
  *
  * Scale shape (every row): a node-sized score table size-gated-
  * broadcast into the edge scan (graft.util.Hints), one node-keyed
  * exchange per round; past the cap the same algebra plans keyed
  * shuffles. Determinism: walk and path counts are exact BIGINTs;
  * the double recursions round to 12 dp every round.
  */
object Centrality {

  // ---- graph_pagerank, graph_pagerank_personalized ------------------
  // PageRank (5 iterations, d=0.85) over the part co-purchase graph,
  // and its personalized form, whose teleport mass restarts at the
  // seed set (partkey % 100 == 0) instead of uniformly — rank then
  // measures proximity TO THE SEEDS, the recommendation/similarity
  // primitive. Both are the ONE loop [[pprOn]]: plain PageRank is the
  // all-seed case (every node a seed, so the teleport term is the
  // uniform (1−d)/|V|).
  //
  // The edge list is materialized ONCE (localCheckpoint) with its
  // out-degree column attached. The rank table is |parts|-sized —
  // vocabulary-small next to the edge table — so each iteration
  // broadcasts it into a map-side-combined contribution aggregate:
  // NO per-iteration shuffle of the edges, and the 5 iterations chain
  // lazily into one job. The hint is size-gated on the node count
  // (graft.util.Hints): past the cap the same algebra re-plans as
  // co-partitioned shuffle joins (the llm_dedup_cluster shape), no
  // other change; Round7Spec asserts both plans. The co-purchase graph
  // is symmetric, so there are no dangling nodes and rank mass is
  // conserved (asserted in Round7Spec).
  //
  // Float determinism: per-iteration ranks are rounded to 12 dp —
  // each engine's sum-order drift is ~1e-15 while rank values are
  // ~1e-3, so both engines round to the same grid point every
  // iteration and stay in exact lockstep.

  /** Personalized PageRank over an edge list (src, dst); `seed` marks
    * the teleport set — `_ => lit(true)` is plain PageRank (the
    * [[graft.Graft.pageRank]] facade surface). The node set is
    * src ∪ dst, so sink nodes (dst-only) receive rank; their mass is
    * NOT redistributed (the standard un-patched dangling behavior —
    * on a symmetric graph there are no sinks and mass is conserved
    * exactly). */
  private[graft] def pprOn(edgeList: DataFrame, seed: Column => Column,
      iterations: Int, damping: Double): DataFrame = {
    // ONE materialization of the (possibly expensive) upstream edge
    // build: out-degree rides along via a window over src.
    val edgesD = edgeList
      .withColumn("d", count(lit(1)).over(Window.partitionBy("src")))
      .localCheckpoint()
    // nodes derive from the checkpointed edges (cheap union+distinct);
    // the seed count stays folded into the plan as a 1-row broadcast
    // (the oracle's ns CTE, same algebra) — the count() below only
    // feeds the hint gate, never the arithmetic.
    val nodes = edgesD.select(col("src").as("node"))
      .union(edgesD.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val ns = broadcast(nodes.filter(seed(col("node")))
      .agg(count(lit(1)).cast("double").as("ns")))
    var ranks = nodes.crossJoin(ns)
      .select(col("node"),
        when(seed(col("node")), lit(1.0) / col("ns"))
          .otherwise(lit(0.0)).as("r"))
    // Rank/contrib tables are node-sized: hint only under the size
    // gate (graft.util.Hints) — a bare hint would hard-fail past the
    // 8 GB broadcast cap rather than re-plan. The gate count is a
    // cached-block scan over the checkpointed node set.
    val hint = graft.util.Hints.maybeBroadcast(nodes.count())
    for (_ <- 1 to iterations) {
      val contrib = edgesD.join(hint(ranks), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("r") / col("d")).as("contrib"))
      ranks = nodes.crossJoin(ns)
        .join(hint(contrib), col("node") === col("dst"), "left")
        .select(col("node"),
          round(when(seed(col("node")), lit(1.0 - damping) / col("ns"))
              .otherwise(lit(0.0))
            + lit(damping) * coalesce(col("contrib"), lit(0.0)), 12).as("r"))
    }
    ranks.orderBy("node")
  }

  private def pageRank(s: SparkSession, dir: String): DataFrame =
    pprOn(coPurchaseEdges(s, dir), _ => lit(true),
      iterations = 5, damping = 0.85)

  /** Oracle: the same 5 iterations unrolled as chained CTEs (DuckDB
    * has no iterative DataFrame loop; WITH RECURSIVE cannot re-round
    * per step). Constants go through CAST(... AS DOUBLE) so DuckDB's
    * decimal literals do not change the arithmetic type.
    */
  private def pageRankOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n2.node,
         |    round(CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) * coalesce(c.contrib, CAST(0 AS DOUBLE)), 12) AS r
         |  FROM nodes n2 CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r / deg.d) AS contrib
         |    FROM edges e JOIN r${i - 1} p ON e.src = p.node
         |    JOIN deg ON e.src = deg.src
         |    GROUP BY e.dst) c ON n2.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT node, r FROM r5 ORDER BY node""".stripMargin
  }

  private def pagerankPersonalized(s: SparkSession, dir: String): DataFrame =
    pprOn(coPurchaseEdges(s, dir).localCheckpoint(),
      n => n % 100 === 0, iterations = 5, damping = 0.85)

  private val pagerankPersonalizedOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n2.node,
         |    round(CASE WHEN n2.node % 100 = 0
         |        THEN CAST(0.15 AS DOUBLE) / ns.ns
         |        ELSE CAST(0 AS DOUBLE) END
         |      + CAST(0.85 AS DOUBLE) * coalesce(c.contrib, CAST(0 AS DOUBLE)), 12) AS r
         |  FROM nodes n2 CROSS JOIN ns LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r / deg.d) AS contrib
         |    FROM edges e JOIN r${i - 1} p ON e.src = p.node
         |    JOIN deg ON e.src = deg.src
         |    GROUP BY e.dst) c ON n2.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes
       |       WHERE node % 100 = 0),
       |r0 AS (SELECT node,
       |  CASE WHEN node % 100 = 0 THEN CAST(1 AS DOUBLE) / ns.ns
       |       ELSE CAST(0 AS DOUBLE) END AS r
       |  FROM nodes CROSS JOIN ns),
       |$iters
       |SELECT node, r FROM r5 ORDER BY node""".stripMargin
  }

  // ---- graph_eigenvector_centrality -----------------------------------
  // Plain (undamped) eigenvector centrality by L1-normalized power
  // iteration — the textbook member of the centrality family next to
  // `graph_pagerank` (damped, degree-normalized),
  // `graph_harmonic_centrality` (distance), `graph_betweenness_approx`
  // (paths) and `graph_kcore` (density): x ← A·x / ‖A·x‖₁, 5 fixed
  // iterations from the uniform vector. On the symmetric connected
  // co-purchase graph the iterate converges toward the Perron vector;
  // surfacing the fixed-iteration state (not a convergence loop) is
  // the pagerank discipline — identical whether or not converged.
  //
  // Scale shape: the edge table is built ONCE (localCheckpoint) with
  // the score table |nodes|-sized — vocabulary-small next to edges —
  // so each iteration is ONE map-side-combined contribution
  // aggregate with the score table size-gate-broadcast into the edge
  // scan (graft.util.Hints; past the cap the same algebra re-plans
  // as keyed shuffle joins). Unlike pagerank — whose normalizer |V|
  // is round-invariant — the L1 norm is recomputed per round, and its
  // shape is GATED on the same node-count bound the broadcast hint
  // uses (VERDICT r15 item 2):
  //
  //  - UNDER the cap, the norm is a global window over the
  //    |nodes|-bounded score relation, fusing all 5 rounds into one
  //    lazy job. A two-consumer norm (aggregate + next-round join)
  //    here would either double the lineage per round (2^5 plan
  //    blowup) or force a per-round localCheckpoint — measured
  //    +2.3 s over the whole-chain-lazy form at sf0.1 (5
  //    materialized rounds vs pagerank's one fused job). The
  //    single-partition window is safe exactly BECAUSE the gate
  //    holds: under the broadcast row cap the score table fits one
  //    window partition (the chi-square-margins / topk_global
  //    class).
  //
  //  - PAST the cap — node ids here are partkeys, which grow with
  //    the corpus, not an alphabet — a single-partition window over
  //    |nodes| is the row's scale-killer (5 full-vector funnels
  //    through one task). The norm instead becomes a 1-row
  //    sum aggregate broadcast back via crossJoin (always
  //    broadcast-safe at any |V|) over a per-round localCheckpoint
  //    of the coalesced score relation — the pagerank `nn`
  //    discipline: the checkpoint pins the two-consumer relation
  //    (norm aggregate + next round's join) so lineage stays linear,
  //    trading 5 materialized rounds for per-round full parallelism.
  //
  // Both paths compute the identical rounded grid (HintsSpec
  // drives them against each other through the rowCap override).
  //
  // Float determinism: per-iteration scores round to 12 dp — each
  // engine's contribution/norm sum-order drift is ~1e-15 relative
  // while scores are ~1e-3 on a ~1e-12 grid, so both engines land on
  // the same grid point every round and stay in exact lockstep (the
  // pagerank argument, VERDICT r3-verified for that row).

  private val EvIters = 5

  /** Power-iteration core over a directed edge list (src, dst) —
    * symmetric input ⇒ the undirected eigenvector. Test seam for the
    * planted-graph spec. */
  private[graft] def eigenvectorOn(edgeList: DataFrame,
      iterations: Int = EvIters): DataFrame = {
    val edgesD = edgeList.localCheckpoint()
    val nodes = edgesD.select(col("src").as("node"))
      .union(edgesD.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    // One size gate per invocation (node count is round-invariant;
    // cached-block scan) reused by every per-round hint AND by the
    // norm-shape choice below.
    val nodeCount = nodes.count()
    val hint = graft.util.Hints.maybeBroadcast(nodeCount)
    val fusedNorm = nodeCount <= graft.util.Hints.broadcastRowCap
    val nn = broadcast(nodes.agg(count(lit(1)).cast("double").as("n")))
    var scores = nodes.crossJoin(nn)
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    for (_ <- 1 to iterations) {
      val contrib = edgesD.join(hint(scores), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("r")).as("cr"))
      // Left join + coalesce(0): isolated dst-only nodes keep a 0
      // score rather than dropping out of the vector.
      val coalesced = nodes
        .join(hint(contrib), col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("cr"), lit(0.0)).as("cr"))
      scores =
        if (fusedNorm)
          // Under the cap: the global window reads the SAME relation
          // it normalizes, so the whole 5-round chain stays one lazy
          // job (see scale note above).
          coalesced.select(col("node"),
            round(col("cr") / sum(col("cr")).over(wAll), 12).as("r"))
        else {
          // Past the cap: pin the two-consumer relation, then
          // normalize by a 1-row aggregate broadcast back — no
          // single-partition funnel at any |V|.
          val pinned = coalesced.localCheckpoint()
          val norm = broadcast(pinned.agg(sum(col("cr")).as("l1")))
          pinned.crossJoin(norm)
            .select(col("node"), round(col("cr") / col("l1"), 12).as("r"))
        }
    }
    scores.orderBy("node")
  }

  private def eigenvectorCentrality(s: SparkSession, dir: String): DataFrame =
    eigenvectorOn(coPurchaseEdges(s, dir))

  /** Oracle: the same 5 iterations unrolled as chained CTEs (DuckDB
    * has no iterative loop; WITH RECURSIVE cannot re-normalize per
    * step). The per-round L1 norm is a `sum() OVER ()` window on the
    * coalesced score relation — NOT a separate CTE: DuckDB inlines a
    * non-recursive CTE PER REFERENCE, so a contrib CTE consumed by
    * both a norm aggregate and the node join re-expands its whole
    * upstream chain twice per round (2^5 plan blowup — observed as
    * an 80 GB temp spill at sf0.1). The window form keeps every CTE
    * single-reference, i.e. the strictly linear chain
    * `graph_pagerank`'s oracle already proved out. The left join +
    * coalesce(0) keeps sink-only nodes in the vector exactly as the
    * Spark side does; summing the coalesced zeros cannot move an
    * IEEE sum. */
  private def eigenvectorOracle: String = {
    val iters = (1 to EvIters).map { i =>
      s"""r$i AS (
         |  SELECT node, round(cr / sum(cr) OVER (), 12) AS r FROM (
         |    SELECT n2.node, coalesce(c.cr, CAST(0 AS DOUBLE)) AS cr
         |    FROM nodes n2 LEFT JOIN (
         |      SELECT e.dst AS node, sum(p.r) AS cr
         |      FROM edges e JOIN r${i - 1} p ON e.src = p.node
         |      GROUP BY e.dst) c ON n2.node = c.node))""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS r
       |  FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT node, r FROM r$EvIters ORDER BY node""".stripMargin
  }

  // ---- graph_katz_centrality -----------------------------------------------
  // Hop-≤3 truncated Katz centrality with DYADIC attenuation α = 1/8 —
  // the walk-count centrality between degree (k=1 only) and
  // eigenvector (k→∞): katz(v) = Σ_{k=1..3} α^k · walks_k(v) with
  // walks_k the EXACT BIGINT count of length-k walks ending at v. The
  // dyadic α makes the whole statistic exact: katz·8³ = 64·w₁ + 8·w₂
  // + w₃ is an integer, and /512 is a power-of-two division — the
  // surfaced double is bit-exact on any engine (the win_ewma_backtest
  // integer-dot-product discipline applied to a graph row; no
  // per-round float normalization to round, unlike eigenvector's L1
  // path).
  //
  // Scale shape: three map-side-combined contribution aggregates over
  // the once-checkpointed edge list with the |nodes|-bounded walk
  // tables riding the broadcast size gate (graft.util.Hints — the
  // pagerank loop shape, minus the per-round normalization).

  private[graft] def katzOn(edgeList: DataFrame,
      degOpt: Option[DataFrame] = None): DataFrame = {
    val edges = edgeList.localCheckpoint()
    // r19: on the corpus path the node universe AND walks₁ both come
    // from the shared degree view — the symmetric edge list makes
    // in-degree == degree, so w₁ IS TriCore.sharedDeg and the first
    // walk round (edge scan + aggregate + checkpoint) plus the node
    // distinct + checkpoint + count gate all collapse into parquet
    // reads of the view (guide §2.4). Planted callers keep the
    // self-contained build.
    val (nodes, w1, hint) = degOpt match {
      case Some(deg) =>
        (deg.select(col("n").as("node")),
          deg.select(col("n").as("node"), col("deg").as("w")),
          graft.util.Hints.maybeBroadcast(deg.count()))
      case None =>
        val n = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node")))
          .distinct().localCheckpoint()
        val hint = graft.util.Hints.maybeBroadcast(n.count())
        // walks_k(v) = Σ_{(u,v) ∈ E} walks_{k−1}(u); w₀ ≡ 1 so w₁ is
        // the in-degree. Sparse by construction (nodes with no
        // in-walks are absent until the final left joins coalesce
        // them to 0).
        val w1 = edges
          .join(hint(n.select(col("node").as("src"), lit(1L).as("pw"))),
            "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("pw")).as("w"))
          .localCheckpoint()
        (n, w1, hint)
    }
    var walks = w1
    val levels = w1 +: (2 to 3).map { _ =>
      walks = edges
        .join(hint(walks.select(col("node").as("src"), col("w").as("pw"))),
          "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pw")).as("w"))
        .localCheckpoint() // feeds both the next round and the output
      walks
    }
    nodes
      .join(hint(levels(0).select(col("node"), col("w").as("w1"))),
        Seq("node"), "left")
      .join(hint(levels(1).select(col("node"), col("w").as("w2"))),
        Seq("node"), "left")
      .join(hint(levels(2).select(col("node"), col("w").as("w3"))),
        Seq("node"), "left")
      .selectExpr("node",
        "coalesce(w1, CAST(0 AS BIGINT)) AS walks1",
        "coalesce(w2, CAST(0 AS BIGINT)) AS walks2",
        "coalesce(w3, CAST(0 AS BIGINT)) AS walks3",
        """CAST(64*coalesce(w1, CAST(0 AS BIGINT))
          | + 8*coalesce(w2, CAST(0 AS BIGINT))
          | + coalesce(w3, CAST(0 AS BIGINT)) AS DOUBLE)/512 AS katz"""
          .stripMargin)
      .orderBy("node")
  }

  private def katzCentrality(s: SparkSession, dir: String): DataFrame =
    katzOn(coPurchaseEdges(s, dir),
      degOpt = Some(TriCore.sharedDeg(s, dir)))

  private val katzOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |w1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS w
      |  FROM edges GROUP BY 1),
      |w2 AS (SELECT e.dst AS node, CAST(sum(p.w) AS BIGINT) AS w
      |  FROM edges e JOIN w1 p ON e.src = p.node GROUP BY 1),
      |w3 AS (SELECT e.dst AS node, CAST(sum(p.w) AS BIGINT) AS w
      |  FROM edges e JOIN w2 p ON e.src = p.node GROUP BY 1)
      |SELECT n.node,
      |  coalesce(a.w, CAST(0 AS BIGINT)) AS walks1,
      |  coalesce(b.w, CAST(0 AS BIGINT)) AS walks2,
      |  coalesce(c.w, CAST(0 AS BIGINT)) AS walks3,
      |  CAST(64*coalesce(a.w, CAST(0 AS BIGINT))
      |   + 8*coalesce(b.w, CAST(0 AS BIGINT))
      |   + coalesce(c.w, CAST(0 AS BIGINT)) AS DOUBLE)/512 AS katz
      |FROM nodes n
      |LEFT JOIN w1 a ON n.node = a.node
      |LEFT JOIN w2 b ON n.node = b.node
      |LEFT JOIN w3 c ON n.node = c.node
      |ORDER BY n.node""".stripMargin

  // ---- graph_harmonic_centrality ---------------------------------------
  // Seeds = the 3 highest-degree nodes (ties by node id — an exact
  // integer TakeOrdered, never a sample). Since round 16 the
  // traversal is GraphBfs' shared σ-BFS (identical seed rule and
  // hop-≤3 levels to graph_betweenness_approx — VERDICT r15 item 3):
  // each reached (seed, node) sits in exactly one level = its hop
  // distance, so the distance histogram is a level-count aggregate —
  // the old dense (seeds × nodes) Bellman-Ford table is gone.
  // Harmonic mass stays integral as Σ 6 DIV d until the single
  // double assembly.
  private[graft] def harmonicOn(edges: DataFrame, seeds: Int, k: Int): DataFrame = {
    val (seedRows, levels) = GraphBfs.levelsOn(edges, seeds, k)
    harmonicFrom(seedRows, levels)
  }

  /** Distance-histogram assembly over pre-built BFS levels
    * (levels(d) = depth-d frontier from [[GraphBfs]]; depth IS the
    * hop distance). k = 3 shaped, like the row it feeds: the 6 DIV d
    * integral mass is exact for d ∈ 1..3. */
  private[graft] def harmonicFrom(seedRows: DataFrame,
      levels: IndexedSeq[DataFrame]): DataFrame = {
    val reach = (1 until levels.length).map { d =>
        levels(d).select(col("seed"), lit(d.toLong).as("d"))
      }.reduce(_ unionAll _)
      .groupBy(col("seed"))
      .agg(sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_d1"),
        sum(when(col("d") === 2, 1L).otherwise(0L)).as("n_d2"),
        sum(when(col("d") === 3, 1L).otherwise(0L)).as("n_d3"),
        sum(expr("CAST(6 AS BIGINT) DIV d")).as("harmonic_x6"))
    seedRows.join(reach, Seq("seed"), "left")
      .selectExpr("seed", "seed_degree",
        "coalesce(n_d1, CAST(0 AS BIGINT)) AS n_d1",
        "coalesce(n_d2, CAST(0 AS BIGINT)) AS n_d2",
        "coalesce(n_d3, CAST(0 AS BIGINT)) AS n_d3",
        "coalesce(harmonic_x6, CAST(0 AS BIGINT)) AS harmonic_x6",
        """floor((CAST(coalesce(harmonic_x6, 0) AS DOUBLE)/6)*1e6
          | + 0.5)/1e6 AS harmonic""".stripMargin)
      .orderBy("seed")
  }

  private def harmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    // Shared forward pass (GraphBfs.sharedLevels — parquet memo fed
    // to this row AND graph_betweenness_approx); the histogram tail
    // never touches the edge list at all.
    val (seedRows, levels) = GraphBfs.sharedLevels(s, dir)
    harmonicFrom(seedRows, levels)
  }

  private val harmonicOracle = {
    val rounds = (1 to 3).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT p.seed, p.node,
         |    least(coalesce(p.d, m.nd), coalesce(m.nd, p.d)) AS d
         |  FROM d${i - 1} p LEFT JOIN (
         |    SELECT q.seed, e.src AS node, min(q.d + 1) AS nd
         |    FROM e JOIN d${i - 1} q ON e.dst = q.node
         |    WHERE q.d IS NOT NULL
         |    GROUP BY 1, 2) m ON p.seed = m.seed AND p.node = m.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |s AS MATERIALIZED (
       |  SELECT n AS seed, deg AS seed_degree FROM deg
       |  ORDER BY deg DESC, n LIMIT 3),
       |d0 AS MATERIALIZED (
       |  SELECT seed, node,
       |    CASE WHEN node = seed THEN CAST(0 AS BIGINT) END AS d
       |  FROM (SELECT DISTINCT src AS node FROM e) CROSS JOIN s),
       |$rounds,
       |r AS (
       |  SELECT seed,
       |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
       |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
       |    CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
       |    CAST(sum(CASE WHEN d >= 1 THEN 6 // d ELSE 0 END) AS BIGINT)
       |      AS harmonic_x6
       |  FROM d3 GROUP BY 1)
       |SELECT s.seed, s.seed_degree,
       |  coalesce(n_d1, CAST(0 AS BIGINT)) AS n_d1,
       |  coalesce(n_d2, CAST(0 AS BIGINT)) AS n_d2,
       |  coalesce(n_d3, CAST(0 AS BIGINT)) AS n_d3,
       |  coalesce(harmonic_x6, CAST(0 AS BIGINT)) AS harmonic_x6,
       |  floor((CAST(coalesce(harmonic_x6, 0) AS DOUBLE)/6)*1e6
       |   + 0.5)/1e6 AS harmonic
       |FROM s LEFT JOIN r USING (seed) ORDER BY seed""".stripMargin
  }

  // ---- graph_betweenness_approx -----------------------------------------
  // Seed-sampled Brandes betweenness — the broker/bottleneck
  // centrality (degree = volume, pagerank = endorsement mass,
  // harmonic = reach; betweenness = "how much shortest-path traffic
  // TRANSITS this node"). Exact Brandes is one BFS per node (O(V·E) —
  // off the table at any scale), so this row pins the standard
  // approximation: the SAME 3 deterministic top-degree seeds
  // harmonicOn samples (ties by node id), hop-≤3 BFS with EXACT
  // BIGINT shortest-path counts σ, then Brandes' backward dependency
  // accumulation δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ(w)) over the
  // BFS DAG (succ = edge + depth(w) = depth(v)+1), summed over seeds.
  // Hop truncation means only ≤3-hop geodesics count — the same
  // documented bound harmonic carries.
  //
  // Scale shape: the shortest-path loop discipline — per forward
  // round ONE (seed, node)-keyed σ-sum exchange with the frontier
  // size-gated-broadcast into the edge scan (graft.util.Hints; the
  // gate is one cached-block count of the checkpointed degree table,
  // bound seeds·|nodes|); per backward round one (seed, node)-keyed
  // δ-sum exchange with the two level tables riding the same gate.
  // Every level is localCheckpoint'd (each feeds 2-3 consumers:
  // the next frontier's anti-join, the backward pass, the union).
  // Since round 16 the forward pass lives in [[GraphBfs]]: the seed
  // rule and hop-≤3 σ-BFS are IDENTICAL to harmonic centrality's, so
  // the corpus-facing query reads the per-JVM parquet-materialized
  // levels ([[GraphBfs.sharedLevels]] — built once, fed to both
  // rows) and runs only the backward pass here; the backward gate
  // re-derives from the ACTUAL level sizes (Σ level rows ≤
  // seeds·|nodes|, parquet-metadata counts).
  //
  // Determinism: σ are exact BIGINTs (sums of path counts); δ is the
  // one double recursion, so every per-round δ rounds to 12 dp (the
  // pagerank grid discipline: engine sum-order drift ~1e-15 against
  // values ≥1e-3 rounds to the same grid point), the cross-seed sum
  // re-rounds to 12 dp, ordering uses that 12-dp value (ties by node
  // id), and the surfaced score takes the 6-dp floor.

  private[graft] def betweennessOn(edges: DataFrame, seeds: Int,
      k: Int): DataFrame = {
    val (_, levels) = GraphBfs.levelsOn(edges, seeds, k)
    betweennessFrom(edges, levels)
  }

  /** Backward Brandes accumulation over pre-built BFS levels
    * (levels(d) = depth-d frontier (seed, node, sigma) from
    * [[GraphBfs]]). Gate re-derived from the actual level sizes:
    * every build side below is a level or delta table, bounded by
    * Σ level rows. */
  private[graft] def betweennessFrom(edges: DataFrame,
      levels: IndexedSeq[DataFrame], boundRows: Option[Long] = None): DataFrame = {
    val k = levels.length - 1
    // Gate bound: Σ level rows ≤ seeds·|nodes|. The corpus path passes
    // the bound from ONE parquet-metadata count of the shared degree
    // view (r19) instead of counting every level table — same bound,
    // k+1 fewer gate jobs per invocation.
    val hint = graft.util.Hints.maybeBroadcast(
      boundRows.getOrElse(levels.map(_.count()).sum))
    // Backward: δ(depth k) = 0; for d = k−1 .. 1 accumulate over the
    // DAG edges (v at depth d) → (w at depth d+1).
    var delta: DataFrame = null
    val deltas = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (d <- (k - 1) to 1 by -1) {
      val down = levels(d + 1)
      val cur = levels(d)
      val downD =
        if (delta == null)
          down.select(col("seed"), col("node"), col("sigma"),
            lit(0.0).as("dl"))
        else
          down.join(hint(delta), Seq("seed", "node"), "left")
            .select(col("seed"), col("node"), col("sigma"),
              coalesce(col("delta"), lit(0.0)).as("dl"))
      delta = {
        val agg = edges
          .join(hint(downD.select(col("seed"), col("node").as("dst"),
            col("sigma").as("sw"), col("dl"))), "dst")
          .join(hint(cur.select(col("seed"), col("node").as("src"),
            col("sigma").as("sv"))), Seq("seed", "src"))
          .groupBy(col("seed"), col("src").as("node"))
          .agg(expr("round(sum(CAST(sv AS DOUBLE)/sw * (1 + dl)), 12)")
            .as("delta"))
        // r19: the two DEEPEST rounds fuse into one action — δ(k−1)
        // feeds δ(k−2)'s join and the final union, and its aggregate
        // exchange is an identical subtree in both, which
        // ReuseExchange dedups (verified in the after-plan), so the
        // per-round checkpoint job bought nothing for them. Shallower
        // rounds (k > 3) still checkpoint: un-pinned, the plan would
        // double per round (guide §1.2 / VERDICT r18 item 1).
        if (d > 2) agg.localCheckpoint() else agg
      }
      deltas += delta
    }
    deltas.reduce(_ unionAll _)
      .groupBy(col("node"))
      .agg(expr("round(sum(delta), 12)").as("b"))
      .filter(col("b") > 0)
      .orderBy(desc("b"), col("node"))
      .limit(10)
      .selectExpr("node", "floor(b*1e6 + 0.5)/1e6 AS betweenness")
  }

  private def betweennessApprox(s: SparkSession, dir: String): DataFrame = {
    // Shared forward pass (GraphBfs.sharedLevels — parquet memo fed
    // to this row AND graph_harmonic_centrality); only the backward
    // pass needs the edge list. r19: the edge list is two 2-column
    // scans of the copurchase_half parquet view — re-reading it in
    // the two backward rounds is cheaper than a checkpoint job that
    // re-materializes 2E rows into block storage (guide §1.2), and
    // the gate bound comes from ONE metadata count of the shared
    // degree view (levels ≤ seeds·|nodes|) instead of 4 level counts.
    val (_, levels) = GraphBfs.sharedLevels(s, dir)
    betweennessFrom(
      coPurchaseEdges(s, dir), levels,
      boundRows = Some(3L * TriCore.sharedDeg(s, dir).count()))
  }

  private val betweennessOracle = {
    // fℓ = the depth-ℓ frontier with exact σ; exclusion via
    // NOT EXISTS against every earlier level.
    def frontier(lvl: Int): String = {
      val excl = (0 until lvl).map(j =>
        s"""NOT EXISTS (SELECT 1 FROM f$j v
           |      WHERE v.seed = c.seed AND v.node = c.node)""".stripMargin)
        .mkString("\n    AND ")
      s"""f$lvl AS MATERIALIZED (
         |  SELECT c.seed, c.node, c.sigma FROM (
         |    SELECT p.seed, e.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
         |    FROM e JOIN f${lvl - 1} p ON e.src = p.node
         |    GROUP BY 1, 2) c
         |  WHERE $excl)""".stripMargin
    }
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |s AS MATERIALIZED (
       |  SELECT n AS seed FROM deg ORDER BY deg DESC, n LIMIT 3),
       |f0 AS MATERIALIZED (
       |  SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma FROM s),
       |${frontier(1)},
       |${frontier(2)},
       |${frontier(3)},
       |b2 AS MATERIALIZED (
       |  SELECT f2.seed, f2.node,
       |    round(sum(CAST(f2.sigma AS DOUBLE)/f3.sigma * (1 + 0)), 12)
       |      AS delta
       |  FROM f2 JOIN e ON e.src = f2.node
       |    JOIN f3 ON f3.seed = f2.seed AND f3.node = e.dst
       |  GROUP BY 1, 2),
       |b1 AS MATERIALIZED (
       |  SELECT f1.seed, f1.node,
       |    round(sum(CAST(f1.sigma AS DOUBLE)/f2.sigma
       |      * (1 + coalesce(b2.delta, 0))), 12) AS delta
       |  FROM f1 JOIN e ON e.src = f1.node
       |    JOIN f2 ON f2.seed = f1.seed AND f2.node = e.dst
       |    LEFT JOIN b2 ON b2.seed = f2.seed AND b2.node = f2.node
       |  GROUP BY 1, 2),
       |bc AS (
       |  SELECT node, round(sum(delta), 12) AS b
       |  FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
       |  GROUP BY 1)
       |SELECT node, floor(b*1e6 + 0.5)/1e6 AS betweenness
       |FROM bc WHERE b > 0
       |ORDER BY b DESC, node LIMIT 10""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (pageRank _),
    "graph_pagerank_personalized" -> (pagerankPersonalized _),
    "graph_eigenvector_centrality" -> (eigenvectorCentrality _),
    "graph_katz_centrality" -> (katzCentrality _),
    "graph_harmonic_centrality" -> (harmonicCentrality _),
    "graph_betweenness_approx" -> (betweennessApprox _)
  )

  val oracle: Map[String, String] = Map(
    "graph_pagerank" -> pageRankOracle,
    "graph_pagerank_personalized" -> pagerankPersonalizedOracle,
    "graph_eigenvector_centrality" -> eigenvectorOracle,
    "graph_katz_centrality" -> katzOracle,
    "graph_harmonic_centrality" -> harmonicOracle,
    "graph_betweenness_approx" -> betweennessOracle
  )
}
