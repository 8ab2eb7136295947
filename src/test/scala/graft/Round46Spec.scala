package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-24 batch-7 row (SURVEY §2.65):
  * Brown-Forsythe/Levene variance-homogeneity test.
  */
class Round46Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def floor6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6

  /** Mirrors the engine's fixed left-to-right W assembly over
    * per-group (n, Σz, Σz²) doubles. */
  private def bruteW(gs: Seq[(Double, Double, Double)]): Double = {
    val n = gs.map(_._1).reduce(_ + _)
    val s1 = gs.map(_._2).reduce(_ + _)
    val ssb = gs.map { case (ni, ai, _) => (ai / ni) * ai }.reduce(_ + _) -
      (s1 / n) * s1
    val ssw = gs.map { case (ni, ai, bi) => bi - (ai / ni) * ai }
      .reduce(_ + _)
    floor6((ssb / 4) / (ssw / (n - 5)))
  }

  test("leveneOn: identical spreads score W = 0; a widened group scores the mirrored W") {
    // Every group {1.00, 3.00}: median 100 cents (picked/lower), z
    // in {0, 200} for all groups -> SSB = 0 -> W = 0.
    val same = Prios.flatMap(p => Seq((p, 1.0), (p, 3.0)))
      .toDF("o_orderpriority", "o_totalprice")
    val r1 = graft.ops.stats.KSample.leveneOn(same)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .head
    assert(r1 == ((10L, 0.0, false)))
    // 5-LOW widened to {1.00, 101.00}: z = {0, 10000} there, {0, 200}
    // elsewhere — expected W mirrors the engine's assembly exactly.
    val wide = (Prios.init.flatMap(p => Seq((p, 1.0), (p, 3.0))) ++
      Seq(("5-LOW", 1.0), ("5-LOW", 101.0)))
      .toDF("o_orderpriority", "o_totalprice")
    val expW = bruteW(Seq.fill(4)((2.0, 200.0, 40000.0)) :+
      ((2.0, 10000.0, 1.0e8)))
    val r2 = graft.ops.stats.KSample.leveneOn(wide)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .head
    assert(r2 == ((10L, expW, expW > 2.3719)))
  }

  // ---- dq_out_of_order_audit --------------------------------------------

  test("outOfOrderAuditOn: planted late event is counted with its worst jump") {
    import java.sql.Timestamp
    // A arrives (by event_id) at t=10s, 20s, 15s, 30s: one backward
    // pair (20s -> 15s, 5,000,000 us), rate 1/3. B is in order.
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val ev = Seq(
      (1L, ts(10), "A"), (2L, ts(20), "A"), (3L, ts(15), "A"),
      (4L, ts(30), "A"),
      (5L, ts(1), "B"), (6L, ts(2), "B")
    ).toDF("event_id", "ts", "event_type")
    val got = graft.ops.dq.Drift.outOfOrderAuditOn(ev)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("A", 3L, 1L, 5000000L, 0.333333),
      ("B", 1L, 0L, 0L, 0.0)))
  }

  // ---- evt_shewhart_individuals -----------------------------------------

  test("shewhartOn: a planted spike breaches the UCL; single-day series drops") {
    // A: nine days at 10 then a 30-spike. MR sum = 20 over 9 ranges,
    // center 12, limits 12 ± 2.66·(20/9) = [6.088889, 17.911111] —
    // the spike is the one above-UCL day. B has one day -> no MR,
    // dropped.
    val ev = ((1 to 9).map(d => ("A", d, 10)) ++ Seq(("A", 10, 30),
      ("B", 1, 5))).flatMap { case (t, day, y) =>
      Seq.fill(y)((t, java.time.LocalDate.of(2024, 1, 1)
        .plusDays(day - 1).toString))
    }.toDF("event_type", "ts")
    val got = graft.ops.timeseries.Control.shewhartOn(ev)
      .as[(String, Long, Double, Double, Double, Double, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("A", 10L, 12.0, 2.222222, 17.911111, 6.088889, 1L, 0L)))
  }
}
