package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The memo-build rows: one entry per shared DiskMemo view (GraphBfs'
  * seed and level tables, the linkpred candidates, the edge and
  * shingle views), timed by [[Bench]] as rows of their own and
  * explained by [[Explain]] when named.
  *
  * Each view is built once per JVM and consumers read it back, so
  * without these rows the ~4-6 s build cost landed in the untimed warm
  * pass and appeared in no query. Each fn first resets its own DiskMemo
  * tag, so every call (a timed pass, a retry) is a genuine rebuild —
  * the materialized-view refresh a capacity planner budgets — and is
  * not charged with any other view's rebuild. The co-purchase
  * half-edge list (read by ~18 graph rows) comes first, so the later
  * rows whose builds read it measure their own work on top of a
  * materialized edge list, like every other consumer.
  */
object MemoRows {
  val builds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "memo_order_psets" -> ((s, d) => {
      graft.ops.DiskMemo.reset("order_psets")
      graft.ops.Composite4.sharedOrderPsets(s, d)
    }),
    "memo_copurchase_weighted" -> ((s, d) => {
      graft.ops.DiskMemo.reset("copurchase_weighted")
      graft.ops.graph.CoPurchase.coPurchaseWeightedHalf(s, d)
    }),
    "memo_copurchase_half" -> ((s, d) => {
      graft.ops.DiskMemo.reset("copurchase_half")
      graft.ops.graph.CoPurchase.coPurchaseHalfEdges(s, d)
    }),
    "memo_grams3" -> ((s, d) => {
      graft.ops.DiskMemo.reset("grams3")
      graft.ops.dedup.Shingles.sharedGrams(s, d)
    }),
    "memo_shingle_postings" -> ((s, d) => {
      graft.ops.DiskMemo.reset("shingle_postings")
      graft.ops.dedup.Shingles.sharedPostings(s, d)
    }),
    "memo_bigramsets" -> ((s, d) => {
      graft.ops.DiskMemo.reset("bigramsets")
      graft.ops.LlmOps2.sharedBigramSets(s, d)
    }),
    "memo_tri_adjacency" -> ((s, d) => {
      graft.ops.TriCore.resetAll()
      graft.ops.TriCore.sharedAdj(s, d) // forces deg + oriented too
    }),
    "memo_bfslevels_3_3" -> ((s, d) => {
      graft.ops.GraphBfs.reset()
      graft.ops.GraphBfs.sharedLevels(s, d)._1
    }),
    "memo_linkpred_cands" -> ((s, d) => {
      graft.ops.DiskMemo.reset("linkpred_cands")
      graft.ops.graph.LinkPrediction.sharedLinkpredCandidates(s, d)
    }))
}
