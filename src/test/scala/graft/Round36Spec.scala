package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-23 batch-4 rows (SURVEY §2.55):
  * k_nn(k) degree correlation, CR4 concentration, and weekday
  * seasonality strength.
  */
class Round36Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- graph_avg_neighbor_degree --------------------------------------

  test("avgNeighborDegreeOn: star graph — leaves see the hub, the hub sees leaves") {
    // Star 1-{2,3,4}: the three degree-1 leaves each look at the
    // degree-3 hub (knn 3.0); the hub's three endpoints all look at
    // degree-1 leaves (knn 1.0).
    val half = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = graft.ops.graph.Structure.avgNeighborDegreeOn(half)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 9L, 3.0), (3L, 1L, 3L, 3L, 1.0)))
  }

  // ---- agg_concentration_ratio ----------------------------------------

  test("concentrationRatioOn: rank-4 tie broken by suppkey, CR4 = 190/200") {
    // Nation 7, suppliers 1..5 with revenue 100/50/30/10/10: the
    // rev-10 tie at rank 4 goes to suppkey 4, so top-4 = 190.00.
    val li = Seq((1L, 100.0), (2L, 50.0), (3L, 30.0), (4L, 10.0),
      (5L, 10.0)).toDF("l_suppkey", "l_extendedprice")
    val supp = Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L), (5L, 7L))
      .toDF("s_suppkey", "s_nationkey")
    val got = graft.ops.Composite39.concentrationRatioOn(li, supp)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq((7L, 5L, 200.0, 0.95)))
  }

  // ---- evt_seasonal_strength ------------------------------------------

  test("seasonalStrengthOn: perfect weekday separation 1.0, flat means 0.0, constant series NULL") {
    // A: Mondays always 4, Tuesdays always 2 -> within-SS 0, eta2 1.
    // B: one 5-count day on each of two weekdays -> SS_total 0 -> NULL.
    // C: Monday mean == Tuesday mean == 2 -> between-SS 0, eta2 0.
    val rows =
      Seq.fill(4)(("A", "2024-01-01")) ++ Seq.fill(4)(("A", "2024-01-08")) ++
        Seq.fill(2)(("A", "2024-01-02")) ++ Seq.fill(2)(("A", "2024-01-09")) ++
        Seq.fill(5)(("B", "2024-01-01")) ++ Seq.fill(5)(("B", "2024-01-02")) ++
        Seq.fill(3)(("C", "2024-01-01")) ++ Seq.fill(1)(("C", "2024-01-08")) ++
        Seq.fill(2)(("C", "2024-01-02"))
    val got = graft.ops.timeseries.Patterns
      .seasonalStrengthOn(rows.toDF("event_type", "ts"))
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq(
      ("A", 4L, 12L, Some(1.0)),
      ("B", 2L, 10L, None),
      ("C", 3L, 6L, Some(0.0))))
  }
}
