package graft.ops.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CoPurchase.{coPurchaseEdges, coPurchaseWeightedEdges}

/** Distances over the co-purchase graph (SURVEY.md §2.47, §2.48,
  * §2.49):
  *
  *  - [[shortestPath]] / [[shortestPathWeighted]]: the multi-source
  *    distance histogram in hops and in accumulated co-purchase
  *    multiplicity — one K-round Bellman-Ford loop,
  *    [[shortestPathWeightedOn]] (hops are unit weights);
  *  - [[egoSize2Hop]]: 1- and 2-hop ego-network sizes per seed — the
  *    per-seed reach the global histogram cannot give.
  *
  * Scale shapes: the Bellman-Ford loop broadcasts the node-sized
  * distance table into the edge scan (size-gated, graft.util.Hints)
  * and pays ONE node-keyed min exchange per round; ego sizes are two
  * edge joins FILTERED TO THE SEED SET first (seed-bounded work).
  * Determinism: every distance and size is an exact integer.
  */
object Paths {

  // ---- graph_shortest_path, graph_shortest_path_weighted --------------
  // Multi-source hop-bounded distances (K=3 synchronized Bellman-Ford
  // rounds) over the symmetric co-purchase graph: seeds are parts
  // with partkey % 100 == 0 at distance 0; round k relaxes
  // d(v) = min(d(v), min over neighbors (d + w)). graph_shortest_path
  // counts hops (w = 1); graph_shortest_path_weighted weights each
  // edge by its co-purchase multiplicity (w(src, dst) = number of
  // orders whose baskets contain both parts) and answers "how far in
  // accumulated edge cost". Both surface the distance histogram with
  // unreached nodes bucketed at -1 — the "blast radius" primitive
  // (recall/contamination spread, influence frontiers) the component
  // rows can't answer. Fixed-K semantics, connected_components
  // discipline: the oracles unroll the same K rounds, converged or
  // not.
  //
  // least(coalesce(d, nd), coalesce(nd, d)) instead of a bare
  // least(d, nd): engines disagree on least's NULL handling, but the
  // coalesce pair only feeds least two NULLs when BOTH inputs are
  // NULL (→ NULL in both engines) and two non-NULLs otherwise —
  // engine-agnostic by construction.

  /** K weighted Bellman-Ford rounds over a (src, dst, w) edge list;
    * `seed` marks distance-0 nodes. Returns the distance histogram
    * (unreached = -1). The node universe is src ∪ dst, so asymmetric
    * (directed) edge lists keep their sink-only nodes in the
    * histogram; relaxation itself follows edge direction. Factored
    * for the planted spec and the scalacheck law against brute
    * k-round relaxation.
    *
    * r19 (guide §2.4, the connected_components self-loop fusion):
    * unreached is a LARGE SENTINEL distance instead of NULL, and
    * zero-cost self-loops join the edge table, so each round's
    * relaxation min(d(v), min over nbrs d+w) is ONE closed-
    * neighbourhood min — one join + one map-side-combining aggregate,
    * no per-round left-join to re-attach unreached nodes. Sentinel
    * algebra: every node's self-loop contributes exactly d(v), an
    * unreached neighbour contributes ≥ SENTINEL+w > SENTINEL, so
    * unreached stays exactly SENTINEL and reached minima (≤ k·max w,
    * far below SENTINEL) are untouched — the surfaced histogram is
    * value-identical to the NULL form (PropertiesSpec's brute-force
    * laws gate it). */
  private[graft] def shortestPathWeightedOn(edges: DataFrame,
      seed: Column => Column, k: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .unionAll(edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct()
        .select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("w")))
      .localCheckpoint()
    // Node universe from the checkpointed table (every node appears
    // as src once self-loops are in) — NOT from filter(w = 0), which
    // would double-count nodes if a caller ever passed genuine
    // zero-weight edges.
    var dist = e.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(seed(col("node")), lit(0L))
          .otherwise(lit(Unreached)).as("d"))
      .persist()
    // The rounds buffer keeps every round's persisted distance table
    // alive until the final localCheckpoint — correct (each round's
    // broadcast collect materializes the previous cache) but the
    // storage footprint is K-PROPORTIONAL (K+1 node-sized tables).
    // Fine at K = 3; a K >> 3 caller should unpersist round r-2
    // after round r materializes instead (VERDICT r11 item 4 nit).
    // Size-gate the loop's hints once on the round-invariant node
    // count (a cached-block scan). Under the gate the node-sized
    // distance table broadcasts into the edge scan —
    // connected_components' plan shape, one node-keyed min exchange
    // per round; over it the joins run un-hinted and plan node-keyed
    // shuffles (a bare hint would hard-fail past the 8 GB broadcast
    // cap instead — graft.util.Hints).
    val hint = graft.util.Hints.maybeBroadcast(dist.count())
    val rounds = scala.collection.mutable.ListBuffer(dist)
    for (_ <- 1 to k) {
      // persist-not-checkpoint per round for the same reason as
      // connectedComponents: each round's broadcast collect
      // materializes the previous cache.
      dist = e
        .join(hint(dist.select(col("node").as("dst"), col("d").as("pd"))),
          "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("pd") + col("w")).as("d"))
        .persist()
      rounds += dist
    }
    val finalDist = dist.localCheckpoint()
    rounds.foreach(_.unpersist(false))
    finalDist.groupBy(
        when(col("d") >= Unreached, lit(-1L))
          .otherwise(col("d")).as("distance"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("distance")
  }

  /** Unreached-distance sentinel: far above any k-round reachable
    * distance (k·max-weight), far below overflow when a round adds a
    * weight on top of it. Requires NON-NEGATIVE weights (all callers:
    * unit hops or co-purchase multiplicities). */
  private val Unreached: Long = Long.MaxValue / 4

  /** Hop distances: [[shortestPathWeightedOn]] over unit weights — the
    * [[graft.Graft.shortestPathHistogram]] facade surface. */
  private[graft] def shortestPathOn(edges: DataFrame, seed: Column => Column,
      k: Int): DataFrame =
    shortestPathWeightedOn(
      edges.select(col("src"), col("dst"), lit(1L).as("w")), seed, k)

  private def shortestPath(s: SparkSession, dir: String): DataFrame =
    shortestPathOn(coPurchaseEdges(s, dir), n => n % 100 === 0, k = 3)

  private def shortestPathOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""d$i AS (
         |  SELECT p.node,
         |    least(coalesce(p.d, m.nd), coalesce(m.nd, p.d)) AS d
         |  FROM d${i - 1} p LEFT JOIN (
         |    SELECT e.src AS node, min(q.d + 1) AS nd
         |    FROM e JOIN d${i - 1} q ON e.dst = q.node
         |    WHERE q.d IS NOT NULL
         |    GROUP BY e.src) m ON p.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |d0 AS MATERIALIZED (
       |  SELECT src AS node,
       |    CASE WHEN src % 100 = 0 THEN CAST(0 AS BIGINT) END AS d
       |  FROM (SELECT DISTINCT src FROM e)),
       |$rounds
       |SELECT coalesce(d, CAST(-1 AS BIGINT)) AS distance,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM d3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def shortestPathWeighted(s: SparkSession, dir: String): DataFrame =
    shortestPathWeightedOn(coPurchaseWeightedEdges(s, dir),
      n => n % 100 === 0, k = 3)

  private def shortestPathWeightedOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""d$i AS (
         |  SELECT p.node,
         |    least(coalesce(p.d, m.nd), coalesce(m.nd, p.d)) AS d
         |  FROM d${i - 1} p LEFT JOIN (
         |    SELECT e.src AS node, min(q.d + e.w) AS nd
         |    FROM e JOIN d${i - 1} q ON e.dst = q.node
         |    WHERE q.d IS NOT NULL
         |    GROUP BY e.src) m ON p.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT DISTINCT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
       |    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey <> b.l_partkey)
       |  GROUP BY src, dst),
       |d0 AS MATERIALIZED (
       |  SELECT src AS node,
       |    CASE WHEN src % 100 = 0 THEN CAST(0 AS BIGINT) END AS d
       |  FROM (SELECT DISTINCT src FROM e)),
       |$rounds
       |SELECT coalesce(d, CAST(-1 AS BIGINT)) AS distance,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM d3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- graph_ego_size_2hop --------------------------------------------
  // 1- and 2-hop ego-network sizes for the seed set (partkey % 100 ==
  // 0) over the symmetric co-purchase graph. The frontier expansion
  // is SEED-BOUNDED: the first join filters edges to seed sources
  // (predicate pushes to the edge build), the second join expands
  // only the seeds' 1-hop frontier — the full graph is scanned, never
  // re-scanned per seed. Sizes exclude the seed itself; exact
  // integers.
  private[graft] def egoSize2HopOn(edges: DataFrame,
      seed: Column => Column = _ % 100 === 0): DataFrame = {
    // dst =!= src guards the documented "seed excluded" contract for
    // arbitrary edge lists: a self-loop (s,s) would otherwise count
    // the seed into ego1 while the 2-hop set filters it out, letting
    // ego2 < ego1 (ADVICE r11). coPurchaseEdges never emits
    // self-loops, so the benchmark row and its oracle are unchanged.
    val n1 = edges.filter(seed(col("src")) && col("dst") =!= col("src"))
      .select(col("src").as("seed"), col("dst").as("n"))
      .distinct()
      .localCheckpoint()
    val hop1 = n1.groupBy(col("seed")).agg(count(lit(1)).as("ego1_size"))
    // Frontier × edges: the (seed, frontier-node) list is seed-
    // bounded — at broadcast scale it pins a broadcast-hash join; on
    // a bigger frontier it degrades to a dst-keyed shuffle unchanged.
    val reach2 = n1.select(col("seed"), col("n").as("src"))
      .join(edges, "src")
      .select(col("seed"), col("dst").as("n"))
      .union(n1)
      .filter(col("n") =!= col("seed"))
      .distinct()
      .groupBy(col("seed")).agg(count(lit(1)).as("ego2_size"))
    hop1.join(reach2, "seed").orderBy("seed")
  }

  private def egoSize2Hop(s: SparkSession, dir: String): DataFrame =
    // The checkpoint stays even on the parquet-backed view (r18 A/B:
    // dropping it measured ~+0.5 s — the frontier join reads the
    // blocks twice and in-memory blocks beat re-scanning the union).
    egoSize2HopOn(coPurchaseEdges(s, dir).localCheckpoint())

  private val egoSize2HopOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |n1 AS MATERIALIZED (
      |  SELECT DISTINCT src AS seed, dst AS n FROM e WHERE src % 100 = 0),
      |h1 AS (SELECT seed, CAST(count(*) AS BIGINT) AS ego1_size
      |       FROM n1 GROUP BY seed),
      |r2 AS (
      |  SELECT seed, CAST(count(*) AS BIGINT) AS ego2_size FROM (
      |    SELECT DISTINCT seed, n FROM (
      |      SELECT n1.seed, e.dst AS n FROM n1 JOIN e ON n1.n = e.src
      |      UNION ALL SELECT seed, n FROM n1))
      |  WHERE n <> seed GROUP BY seed)
      |SELECT h1.seed, h1.ego1_size, r2.ego2_size
      |FROM h1 JOIN r2 ON h1.seed = r2.seed
      |ORDER BY h1.seed""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_shortest_path" -> (shortestPath _),
    "graph_shortest_path_weighted" -> (shortestPathWeighted _),
    "graph_ego_size_2hop" -> (egoSize2Hop _)
  )

  val oracle: Map[String, String] = Map(
    "graph_shortest_path" -> shortestPathOracle,
    "graph_shortest_path_weighted" -> shortestPathWeightedOracle,
    "graph_ego_size_2hop" -> egoSize2HopOracle
  )
}
