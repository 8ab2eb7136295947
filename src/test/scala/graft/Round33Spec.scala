package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-23 batch-1 rows (SURVEY §2.52):
  * Jaccard link prediction, rich-club curve, and hop-bounded harmonic
  * centrality. Each drives the factored production path on inputs
  * whose expected output is derivable by hand.
  */
class Round33Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- graph_jaccard_linkpred -----------------------------------------

  test("jaccardLinkpredOn: slice-restricted wedges, full degrees, adjacency excluded") {
    // Graph 0-1, 1-20, 1-40, 3-20, 3-40, 20-60. Slice nodes (n%20==0):
    // 0, 20, 40, 60. Wedges through middle 1 give (0,20), (0,40),
    // (20,40); middle 3 gives (20,40) again -> cn(20,40)=2. None of
    // the scored pairs is an edge. Degrees: 0->1, 20->3, 40->2.
    // Jaccard: (20,40)=2/3, (0,40)=1/2, (0,20)=1/3.
    val half = Seq((0L, 1L), (1L, 20L), (1L, 40L), (3L, 20L),
      (3L, 40L), (20L, 60L)).toDF("src", "dst")
    val got = graft.ops.graph.LinkPrediction.jaccardLinkpredOn(half)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (20L, 40L, 2L, 3L, 2L, 0.666667),
      (0L, 40L, 1L, 1L, 2L, 0.5),
      (0L, 20L, 1L, 1L, 3L, 0.333333)))
  }

  test("jaccardLinkpredOn: an adjacent slice pair is dropped by the anti-join") {
    // Triangle 20-40, 20-1, 1-40: wedge through 1 yields (20,40) but
    // the pair IS an edge -> no output rows at all.
    val half = Seq((20L, 40L), (1L, 20L), (1L, 40L)).toDF("src", "dst")
    assert(graft.ops.graph.LinkPrediction.jaccardLinkpredOn(half).count() == 0L)
  }

  // ---- graph_rich_club -------------------------------------------------

  test("richClubOn: triangle plus pendant — full curve with NULL past the top degree") {
    // Edges (1,2),(1,3),(2,3),(3,4): degrees 1->2, 2->2, 3->3, 4->1.
    // k=1: N={1,2,3}, E={all three triangle edges} -> phi = 6/(3*2)=1.
    // k=2: N={3} -> denominator 0 -> NULL. k>=3: N=0 -> NULL.
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = graft.ops.graph.Structure.richClubOn(half)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 3L, Some(1.0)), (2L, 1L, 0L, None),
      (3L, 0L, 0L, None), (4L, 0L, 0L, None), (5L, 0L, 0L, None),
      (6L, 0L, 0L, None), (7L, 0L, 0L, None), (8L, 0L, 0L, None)))
  }

  // ---- graph_harmonic_centrality --------------------------------------

  test("harmonicOn: path-plus-spur graph, top-degree seeds, 6 DIV d mass") {
    // Path 1-2-3-4-5 with spur 3-6: degrees 3->3, {2,4}->2, rest 1.
    // Seeds (deg desc, id): 3, 2, 4.
    //  seed 3: d1 {2,4,6}, d2 {1,5}            -> x6 = 3*6+2*3 = 24.
    //  seed 2: d1 {1,3}, d2 {4,6}, d3 {5}      -> x6 = 12+6+2  = 20.
    //  seed 4: d1 {3,5}, d2 {2,6}, d3 {1}      -> x6 = 12+6+2  = 20.
    val half = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L))
      .toDF("src", "dst")
    val sym = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val got = graft.ops.graph.Centrality.harmonicOn(sym, seeds = 3, k = 3)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (2L, 2L, 2L, 2L, 1L, 20L, 3.333333),
      (3L, 3L, 3L, 2L, 0L, 24L, 4.0),
      (4L, 2L, 2L, 2L, 1L, 20L, 3.333333)))
  }

  test("harmonicOn: an isolated-component seed keeps its row with zero mass") {
    // Two components: K2 {10, 11} and a 4-star around 1 (degrees
    // 1->4, leaves 1, 10/11 -> 1). Seeds: 1 (deg 4), then 2, 3 (ids).
    // Seeds 2 and 3 reach the star within 2 hops; nothing crosses
    // components; every seed row survives the left join.
    val half = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val sym = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val got = graft.ops.graph.Centrality.harmonicOn(sym, seeds = 3, k = 3)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 4L, 0L, 0L, 24L, 4.0),
      (2L, 1L, 1L, 3L, 0L, 15L, 2.5),
      (3L, 1L, 1L, 3L, 0L, 15L, 2.5)))
  }
}
