package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-22 batch-3 rows (SURVEY §2.51):
  * Tukey-fence outliers, community conductance, and MAD anomaly
  * days. Each drives the factored production path on inputs whose
  * expected output is derivable by hand.
  */
class Round32Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- dq_outlier_fences ----------------------------------------------

  test("outlierFencesOn: picked quartiles, half-cent-safe fences, one-sided outlier") {
    // Prices 1,2,3,4,100 (one flag): Q1 = 2 (first 4*cum >= 5), Q3 =
    // 4 (first 4*cum >= 15), IQR = 2; low fence -1 catches nothing,
    // high fence 7 catches only the 100.
    val li = Seq(1.0, 2.0, 3.0, 4.0, 100.0)
      .map(p => ("A", p)).toDF("l_returnflag", "l_extendedprice")
    val got = graft.ops.dq.Profiles.outlierFencesOn(li)
      .as[(String, Long, Double, Double, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 5L, 2.0, 4.0, 0L, 1L)))
  }

  // ---- graph_conductance ----------------------------------------------

  test("conductanceOn: cut edges charge both communities; dense communities score 0, singletons 1") {
    // Same planted graph as the modularity spec: half edges
    // (0,50),(0,100),(1,51),(2,103); only (2,103) crosses, charging
    // c2 and c3 (each vol 1 -> conductance 1.0); c0 and c1 have no
    // cut -> 0.0.
    val half = Seq((0L, 50L), (0L, 100L), (1L, 51L), (2L, 103L))
      .toDF("src", "dst")
    val got = graft.ops.graph.Community.conductanceOn(half)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq(
      (0L, 4L, 0L, Some(0.0)), (1L, 2L, 0L, Some(0.0)),
      (2L, 1L, 1L, Some(1.0)), (3L, 1L, 1L, Some(1.0))))
  }

  test("conductanceOn: a community swallowing the whole graph gets NULL, not a crash") {
    // Single edge inside one community: vol = 2m, denominator
    // min(vol, 2m - vol) = 0 -> conductance NULL via nullif.
    val half = Seq((0L, 50L)).toDF("src", "dst")
    val got = graft.ops.graph.Community.conductanceOn(half)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq((0L, 2L, 0L, None)))
  }

  // ---- evt_anomaly_mad ------------------------------------------------

  test("anomalyMadOn: MAD threshold resists the outlier that inflates mean/sigma rules") {
    // Type A: six days of 5 events and one day of 50 -> median 5,
    // MAD 0, the spike is the single anomaly. Type B: days [1,2,3]
    // -> median 2, MAD 1, no day beyond 3*MAD.
    val rows =
      (1 to 6).flatMap(day => (1 to 5).map(_ => ("A", f"2024-01-0$day%d"))) ++
        (1 to 50).map(_ => ("A", "2024-01-07")) ++
        Seq(("B", "2024-01-01")) ++
        (1 to 2).map(_ => ("B", "2024-01-02")) ++
        (1 to 3).map(_ => ("B", "2024-01-03"))
    val events = rows.toDF("event_type", "s")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"))
    val got = graft.ops.timeseries.Control.anomalyMadOn(events)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 7L, 5L, 0L, 1L), ("B", 3L, 2L, 1L, 0L)))
  }
}
