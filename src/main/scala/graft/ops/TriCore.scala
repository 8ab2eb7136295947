package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared triangle-core relations of the co-purchase graph (r18).
  *
  * `graph_triangle_count`, `graph_local_clustering` and
  * `graph_common_neighbors` ([[graph.Structure]]) all run
  * the SAME degree-ordered triangle enumeration: undirected degrees,
  * the degree-oriented edge list (each undirected edge once, pointed
  * from the lower-(deg, id) endpoint), and the sorted oriented
  * adjacency lists whose per-edge intersections enumerate every
  * triangle exactly once. Until r17 each row rebuilt all three (plus
  * 3-4 localCheckpoints each); `graph_rich_club` and
  * `graph_avg_neighbor_degree` rebuilt the degree table
  * again. This object materializes the chain ONCE per JVM as three
  * [[DiskMemo]] parquet views (the coPurchaseHalfEdges discipline —
  * a warehouse materialized view fanned out to consumers, NOT
  * re-derived per query), timed in the bench as `memo_tri_adjacency`
  * (building the adjacency forces the whole chain).
  *
  * Determinism: degrees/orientation/adjacency are exact-integer and
  * fully ordered (orientation ties break on node id; adjacency is
  * sort_array'ed), so a memo read-back is cell-identical to a fresh
  * build. Parquet-backed views carry accurate size statistics, so the
  * planner broadcasts the node-sized relations when they fit and
  * plans keyed shuffles when they don't — the graceful degradation
  * the manual size-gated hints existed to approximate.
  */
object TriCore {

  /** Undirected degree (n, deg) over a half-edge list — pure seam. */
  private[graft] def degOn(half: DataFrame): DataFrame =
    half.select(col("src").as("n")).union(half.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Degree-oriented edge list (u, v): each undirected edge once,
    * u the endpoint with the smaller (deg, id) — pure seam. */
  private[graft] def orientedOn(half: DataFrame, deg: DataFrame): DataFrame =
    half
      .join(deg.select(col("n").as("src"), col("deg").as("da")), "src")
      .join(deg.select(col("n").as("dst"), col("deg").as("db")), "dst")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("src") < col("dst")), col("src"))
          .otherwise(col("dst")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("src") < col("dst")), col("dst"))
          .otherwise(col("src")).as("v"))

  /** Sorted oriented adjacency (u, nbrs) — pure seam. */
  private[graft] def adjOn(o: DataFrame): DataFrame =
    o.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))

  private[graft] def sharedDeg(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "tri_deg")(
      degOn(graph.CoPurchase.coPurchaseHalfEdges(s, dir)))

  private[graft] def sharedOriented(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "tri_oriented")(
      orientedOn(graph.CoPurchase.coPurchaseHalfEdges(s, dir), sharedDeg(s, dir)))

  private[graft] def sharedAdj(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "tri_adj")(adjOn(sharedOriented(s, dir)))

  /** Reset every table of the chain (Bench's timed-rebuild hook). */
  private[graft] def resetAll(): Unit = {
    DiskMemo.reset("tri_deg")
    DiskMemo.reset("tri_oriented")
    DiskMemo.reset("tri_adj")
  }
}
