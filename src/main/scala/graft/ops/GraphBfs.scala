package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared seed/BFS level builder (VERDICT r15 item 3).
  *
  * `graph_betweenness_approx` and `graph_harmonic_centrality`
  * ([[graph.Centrality]]) sample the SAME 3 deterministic top-degree
  * seeds (ties by node id) and run the SAME hop-≤3 BFS over the
  * symmetric co-purchase graph; until round 16 each row rebuilt its
  * own levels — together the suite's two heaviest graph rows. This
  * object computes the levels ONCE per corpus and feeds both rows:
  *
  *  - [[levelsOn]] — the pure forward σ-BFS over a caller-supplied
  *    edge list (the planted-graph test seam; no disk, no memo).
  *    Level d is the depth-d frontier (seed, node, sigma) with EXACT
  *    BIGINT shortest-path counts σ; the anti-join against the
  *    visited union means every reached (seed, node) appears in
  *    exactly ONE level — its BFS depth, i.e. its hop distance. The
  *    same relation therefore serves Brandes' σ (betweenness) and
  *    the distance histogram (harmonic) — no second traversal.
  *
  *  - [[sharedLevels]] — the corpus-facing memo: the seed table and
  *    each level are [[DiskMemo]] parquet views, one tag each, so
  *    the first caller in the JVM builds them and every later caller
  *    reads the parquet back. The materialized-view shape is
  *    deliberate: a shared intermediate this expensive (3 keyed
  *    exchanges over the full edge list) is written once to storage
  *    and fanned out to every centrality consumer, NOT re-derived per
  *    query and NOT pinned in executor memory (see DiskMemo). σ
  *    (BIGINT) and node ids roundtrip parquet exactly, so consumers
  *    of the memo and of a fresh build compute cell-identical
  *    results. Concurrent first callers wait on DiskMemo's per-table
  *    future instead of racing two writes to one path.
  */
object GraphBfs {

  /** The corpus rows' sample: the top-[[Seeds]] degree nodes, BFS to
    * depth [[K]]. */
  private val Seeds = 3
  private val K = 3

  /** DiskMemo tags: the seed table, then levels 1..K. */
  private val tags = ("seeds" +: (1 to K).map(d => s"level$d"))
    .map(t => s"bfslevels_${Seeds}_${K}_$t")

  /** Forget the memoized seed table and levels so the next caller
    * rebuilds them (the parquet paths are overwrite-mode). Bench uses
    * this to time a TRUE forward-σ-BFS build as its own entry
    * (VERDICT r16 item 2). */
  private[graft] def reset(): Unit = tags.foreach(DiskMemo.reset)

  /** Forward σ-BFS: returns (seedRows(seed, seed_degree),
    * levels(0..k)) where levels(d) = (seed, node, sigma) at depth d.
    * Every level is localCheckpoint'd (each feeds 2-3 consumers: the
    * next frontier's anti-join, the backward pass, the union); the
    * per-round build sides ride the seeds·|nodes| size gate
    * (graft.util.Hints — past the cap the joins re-plan as keyed
    * shuffles instead of hard-failing at the broadcast limit). */
  private[graft] def levelsOn(edges: DataFrame, seeds: Int,
      k: Int): (DataFrame, IndexedSeq[DataFrame]) = {
    val deg = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // Every per-round build side is ≤ seeds·|nodes| rows.
    val hint = graft.util.Hints.maybeBroadcast(seeds.toLong * deg.count())
    val seedRows = deg.orderBy(col("deg").desc, col("n")).limit(seeds)
      .select(col("n").as("seed"), col("deg").as("seed_degree"))
      .localCheckpoint()
    var levels = List(seedRows
      .select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))
      .localCheckpoint())
    // visited = union of checkpointed levels — cheap lineage, no
    // recompute (every branch reads materialized blocks).
    var visited = levels.head.select(col("seed"), col("node"))
    for (_ <- 1 to k) {
      val frontier = edges
        .join(hint(levels.head.select(col("seed"), col("node").as("src"),
          col("sigma").as("ps"))), "src")
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(sum(col("ps")).as("sigma"))
        .join(hint(visited), Seq("seed", "node"), "left_anti")
        .localCheckpoint()
      visited = visited.unionAll(frontier.select(col("seed"), col("node")))
      levels = frontier :: levels
    }
    (seedRows, levels.reverse.toIndexedSeq)
  }

  /** Disk-memoized corpus levels over [[graph.CoPurchase.coPurchaseEdges]]
    * (see object doc for why disk, not memory).
    *
    * r19 (guide §1.2 — remove passes): each frontier is WRITTEN
    * straight to its parquet view and read back for the next round,
    * instead of the r18 shape (localCheckpoint every level, then
    * re-write all of them — two materializations per level plus a
    * count-gated broadcast hint). The parquet read-backs carry
    * accurate file statistics, so the planner broadcasts the
    * frontier/visited sides on its own and plans keyed shuffles once
    * they outgrow the threshold — the TriCore r18 stats-over-hand-gate
    * discipline. Level content is IDENTICAL to [[levelsOn]]'s (same
    * plan subtree per level, exact BIGINT σ; Round58Spec pins the
    * equality). */
  private[graft] def sharedLevels(s: SparkSession,
      dir: String): (DataFrame, IndexedSeq[DataFrame]) = {
    // Read only by a build: a memo hit is parquet reads alone.
    lazy val edges = graph.CoPurchase.coPurchaseEdges(s, dir)
    // Seed table and depth-0 level fused into ONE seeds-wide view
    // (node == seed, σ == 1 at depth 0 are projections of the seed
    // rows): one write instead of two; the two shapes project out.
    val seeds = DiskMemo.table(s, dir, tags(0))(
      TriCore.sharedDeg(s, dir)
        .orderBy(col("deg").desc, col("n")).limit(Seeds)
        .select(col("n").as("seed"), col("deg").as("seed_degree"),
          col("n").as("node"), lit(1L).as("sigma")))
    var levels = List(seeds.select(col("seed"), col("node"), col("sigma")))
    var visited = levels.head.select(col("seed"), col("node"))
    for (d <- 1 to K) {
      val (prev, seen) = (levels.head, visited)
      val lv = DiskMemo.table(s, dir, tags(d))(
        edges
          .join(prev.select(col("seed"), col("node").as("src"),
            col("sigma").as("ps")), "src")
          .groupBy(col("seed"), col("dst").as("node"))
          .agg(sum(col("ps")).as("sigma"))
          .join(seen, Seq("seed", "node"), "left_anti"))
      visited = visited.unionAll(lv.select(col("seed"), col("node")))
      levels = lv :: levels
    }
    (seeds.select(col("seed"), col("seed_degree")), levels.reverse.toIndexedSeq)
  }
}
