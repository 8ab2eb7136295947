package graft.ops.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Composite4, DiskMemo}
import graft.util.Tables._

/** The part co-purchase graph every graph row reads: parts are linked
  * when they appear in the same order. Four edge views, layered on
  * one aggregation of [[Composite4.sharedOrderPsets]]:
  *
  *  - [[coPurchaseWeightedHalf]]: (src, dst, w), src < dst, w = the
  *    number of orders holding both parts — the base DiskMemo view;
  *  - [[coPurchaseHalfEdges]]: its (src, dst) projection, one row per
  *    unordered pair — a DiskMemo view of its own;
  *  - [[coPurchaseEdges]] / [[coPurchaseWeightedEdges]]: the
  *    directed-symmetric closures (each half edge plus its swap).
  *
  * Oracle SQL spells the edge set out per row (the self-join CTE) —
  * the independent definition every builder is checked against.
  */
object CoPurchase {

  /** Unordered co-purchase pairs (src < dst, each once). Built as ONE
    * orderkey aggregation + a map-side pair explosion rather than a
    * sort-merge self-join: the groupBy shuffles the projected fact
    * once (no per-side sorts), the within-order pair generation is
    * pure map work over the SORTED part set (so each unordered pair
    * is emitted exactly once — half the rows the old both-directions
    * explosion pushed into the global DISTINCT, which is the only
    * other shuffle). Per-order part sets are bounded (TPC-H orders
    * have ≤7 lines), so the explosion cannot skew. Triangle-core
    * consumers (triangle_count, local_clustering, common_neighbors)
    * use this directly; symmetric-graph consumers go through
    * [[coPurchaseEdges]].
    *
    * r18: the built list is a [[DiskMemo]] parquet materialized view
    * (the GraphBfs/linkpred discipline, guide §2.4 "remove shuffles
    * outright"): ~18 graph rows consume this one edge list and until
    * r17 every invocation re-ran the lineitem scan + groupBy +
    * pair-explode + distinct (two exchanges each). Now the first
    * caller in the JVM builds + writes it once and every later caller
    * is a two-long-column parquet scan. The build is timed as its own
    * bench row (`memo_copurchase_half`), so the suite total still
    * carries the true cost exactly once. Content is an exact-integer
    * SET (src, dst longs, distinct), so a memo read-back and a fresh
    * build are cell-identical — row order is irrelevant to every
    * consumer (all aggregate or join).
    */
  private[graft] def coPurchaseHalfEdges(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "copurchase_half")(
      // r18 layering: the weighted view's groupBy(src, dst) keys ARE
      // the distinct pairs, so the unweighted list is a projection of
      // it — one co-purchase aggregation feeds both views (the
      // independent definition below stays as the test seam).
      coPurchaseWeightedHalf(s, dir)
        .select(col("src"), col("dst")))

  /** The from-scratch half-edge build — the definitional seam the
    * equality tests pin the memoized views against. */
  private[graft] def coPurchaseHalfEdgesBuild(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      // Pair generation as TWO chained Generates (posexplode, then
      // explode of the tail slice) instead of one explode over a
      // flatten(transform(transform(...))) HOF tree: higher-order
      // lambdas are evaluated interpreted (outside whole-stage
      // codegen), and the HOF shape measured consistently slower in
      // interleaved A/B at sf0.1. posexplode's 0-based i makes the
      // 1-based slice start i+2 = "strictly after position i", so
      // src < dst and each unordered pair is emitted exactly once —
      // identical output to the HOF form.
      .select(col("ps"), posexplode(col("ps")))
      .toDF("ps", "i", "src")
      .select(col("src"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps"))))
          .as("dst"))
      .distinct()

  /** Directed-symmetric co-purchase edge list: [[coPurchaseHalfEdges]]
    * union its map-side swap. Through r17 the half build was
    * localCheckpoint'd here so both union branches read materialized
    * blocks instead of re-running the build per branch (ReuseExchange
    * does not fire reliably under AQE replanning — the r7 regression:
    * graph_label_prop 2.45 → 9.81 s). r18: the half list is a DiskMemo
    * parquet view, so "materialized once" is already true on disk —
    * the union branches are two cheap 2-column parquet scans and the
    * extra checkpoint job here would buy nothing (iterative consumers
    * that read edges per round checkpoint the UNION themselves).
    * Shared by pagerank, degree_dist, label_prop, kcore,
    * connected_components, assortativity.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val half = coPurchaseHalfEdges(s, dir)
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Symmetric weighted co-purchase edges (src, dst, w): the
    * coPurchaseHalfEdges pair generation WITHOUT its distinct — the
    * per-(order, pair) rows count straight into the multiplicity via
    * one map-side-combining aggregate, then the half edges mirror. */
  private[graft] def coPurchaseWeightedEdges(s: SparkSession, dir: String): DataFrame = {
    val half = coPurchaseWeightedHalf(s, dir)
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst"),
      col("w")))
  }

  /** Weighted half edges as the BASE DiskMemo view of the co-purchase
    * layer (r18): the groupBy(src, dst).count keys are exactly the
    * distinct unordered pairs, so [[coPurchaseHalfEdges]]
    * is a 2-column projection of THIS view — one co-purchase
    * aggregation feeds both the weighted and unweighted graph (the
    * warehouse layered-view shape). Build timed as
    * `memo_copurchase_weighted`; the unweighted projection's write is
    * what `memo_copurchase_half` times on top of it. */
  private[graft] def coPurchaseWeightedHalf(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "copurchase_weighted")(
      Composite4.sharedOrderPsets(s, dir)
        .select(col("ps"), posexplode(col("ps")))
        .toDF("ps", "i", "src")
        .select(col("src"),
          explode(slice(col("ps"), col("i") + lit(2), size(col("ps"))))
            .as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w")))
}
