package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-22 rows (SURVEY §2.49):
  * referential-integrity orphans, weighted shortest paths, and the
  * truncated-EWMA backtest. Each drives the factored production path
  * on inputs whose expected output is derivable by hand.
  */
class Round30Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- dq_referential_integrity --------------------------------------

  test("referentialIntegrityOn: injected orphan counted once; NULL fk and duplicate parent keys do not distort") {
    // Child fks: 1 (ok), 2 (ok), 99 (ORPHAN), null (missing value —
    // counted in n_child, NOT an orphan). Parent carries key 1 TWICE:
    // the pre-join dedup must keep each child row counted once.
    val child = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val parent = Seq(1L, 1L, 2L, 3L).toDF("pk")
    val got = graft.ops.dq.Integrity
      .referentialIntegrityOn(Seq(("child->parent", child, "fk", parent, "pk")))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("child->parent", 4L, 1L)))
  }

  test("referentialIntegrityOn: clean edge reports zero orphans; edges sort by name") {
    val child = Seq(1L, 2L).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val empty = Seq.empty[Long].toDF("fk")
    val got = graft.ops.dq.Integrity.referentialIntegrityOn(Seq(
        ("b_edge", child, "fk", parent, "pk"),
        ("a_edge", empty, "fk", parent, "pk")))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a_edge", 0L, 0L), ("b_edge", 2L, 0L)))
  }

  // ---- graph_shortest_path_weighted ----------------------------------

  test("shortestPathWeightedOn: cheap two-hop path beats the expensive direct edge") {
    // Seed 3 (n % 3 == 0). Edges: 3-1 w=10, 1-2 w=1, 3-2 w=100, plus
    // isolated pair 7-8 (unreached -> -1). Weighted distances:
    // d(3)=0, d(1)=10, d(2)=11 via 3-1-2 (the direct w=100 edge must
    // lose), needing the second relaxation round.
    val half = Seq((3L, 1L, 10L), (1L, 2L, 1L), (3L, 2L, 100L),
      (7L, 8L, 2L)).toDF("src", "dst", "w")
    val edges = half.union(half.select(col("dst"), col("src"), col("w")))
    val got = graft.ops.graph.Paths
      .shortestPathWeightedOn(edges, n => n % 3 === 0, k = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((-1L, 2L), (0L, 1L), (10L, 1L), (11L, 1L)))
  }

  test("shortestPathWeightedOn: k bounds the HOP count, not the accumulated weight") {
    // Chain 3-1-2-4 with w=1 each, k=2: node 4 is three hops out and
    // stays unreached even though its weighted distance (3) is small.
    val half = Seq((3L, 1L, 1L), (1L, 2L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val edges = half.union(half.select(col("dst"), col("src"), col("w")))
    val got = graft.ops.graph.Paths
      .shortestPathWeightedOn(edges, n => n % 3 === 0, k = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((-1L, 1L), (0L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("coPurchaseWeightedEdges: multiplicity counts shared orders, symmetric") {
    // Orders: {1,2} twice and {1,2,3} once -> w(1,2)=3, w(1,3)=1,
    // w(2,3)=1, each in both directions.
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (12L, 3L), (12L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graft_ri").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.ops.graph.CoPurchase.coPurchaseWeightedEdges(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L), (2L, 1L, 3L), (1L, 3L, 1L),
      (3L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L)))
  }

  // ---- win_ewma_backtest ---------------------------------------------

  test("ewmaBacktestOn: flat history forecasts the level exactly; short series scores nothing") {
    // Type A: 16 days of y=1 then one day of y=2. The truncated-EWMA
    // forecast of day 17 is exactly 1 (all lags 1, weights sum to
    // 65535/65535), so err = +1 -> mae = bias = 1.0; the naive lag-1
    // baseline also errs by 1. Type B has only 3 days: no full lag
    // window, no scored rows.
    val rows =
      (1 to 16).map(i => ("A", f"2024-01-$i%02d 00:00:00")) ++
        Seq(("A", "2024-01-17 00:00:00"), ("A", "2024-01-17 05:00:00")) ++
        (1 to 3).map(i => ("B", f"2024-01-$i%02d 00:00:00"))
    val events = rows.toDF("event_type", "s")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"))
    val got = graft.ops.timeseries.Forecast.ewmaBacktestOn(events)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 1L, 1.0, 1.0, 1.0)))
  }

  test("ewmaBacktestOn: exponential weights favor the recent lag 2:1") {
    // 17 days: y=3 on day 16 (lag 1 at scoring time), y=1 on days
    // 1-15, y=1 on day 17. Forecast numerator = 3*32768 + 32767 =
    // 131071, err = 65535 - 131071 = -65536 -> bias = -65536/65535
    // (slight over-forecast dominated by the heavy recent lag), mae
    // the same magnitude; naive |1-3| = 2.
    val rows =
      (1 to 15).map(i => ("A", f"2024-01-$i%02d 00:00:00")) ++
        Seq(("A", "2024-01-16 00:00:00"), ("A", "2024-01-16 01:00:00"),
          ("A", "2024-01-16 02:00:00"), ("A", "2024-01-17 00:00:00"))
    val events = rows.toDF("event_type", "s")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"))
    val got = graft.ops.timeseries.Forecast.ewmaBacktestOn(events)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    val expectedErr = math.floor((65536.0 / 65535.0) * 1e6 + 0.5) / 1e6
    assert(got == Seq(("A", 1L, expectedErr, -expectedErr, 2.0)))
  }
}
