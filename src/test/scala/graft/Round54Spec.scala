package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 batch 3 (SURVEY §2.88): planted cases for truncated Katz
  * centrality, the Jonckheere-Terpstra trend test, and the Aroon
  * indicator.
  */
class Round54Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Prios = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def sym(es: Seq[(Long, Long)]) =
    (es ++ es.map(_.swap)).toDF("src", "dst")

  // ---- graph_katz_centrality -----------------------------------------------

  test("katzOn: triangle walk counts double per hop — katz = 168/512 exactly") {
    // Every triangle node: w1 = 2, w2 = 4, w3 = 8;
    // katz = (64·2 + 8·4 + 8)/512 = 0.328125 (dyadic — bit-exact).
    val got = graft.ops.graph.Centrality.katzOn(
      sym(Seq((0L, 1L), (1L, 2L), (2L, 0L))))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 4L, 8L, 0.328125),
      (1L, 2L, 4L, 8L, 0.328125),
      (2L, 2L, 4L, 8L, 0.328125)))
  }

  test("katzOn: star center accumulates leaf walks — 225/512 vs 91/512") {
    // K1,3: center w = (3,3,9), leaf w = (1,3,3);
    // katz_center = 225/512, katz_leaf = 91/512.
    val got = graft.ops.graph.Centrality.katzOn(
      sym(Seq((0L, 1L), (0L, 2L), (0L, 3L))))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.head == ((0L, 3L, 3L, 9L, 0.439453125)))
    Seq(1, 2, 3).foreach(i =>
      assert(got(i) == ((i.toLong, 1L, 3L, 3L, 0.177734375))))
  }

  // ---- agg_jonckheere_terpstra ---------------------------------------------

  private def jtOrders(valueOf: Int => Double) =
    (1 to 5).flatMap(i => Seq.fill(3)((Prios(i - 1), valueOf(i))))
      .toDF("o_orderpriority", "o_totalprice")

  test("jonckheereOn: a monotone gradient rejects in both directions with |z| = 4.654747") {
    // Group i = {i,i,i}: every cross-pair is concordant -> 2JT = 180,
    // E[2JT] = 90, tie-corrected var1 = 93.4615…, z = 4.654747.
    val inc = graft.ops.Composite73.jonckheereOn(jtOrders(i => i.toDouble))
      .as[(Long, Long, Double, Boolean)].collect().head
    assert(inc == ((15L, 180L, 4.654747, true)))
    val dec = graft.ops.Composite73.jonckheereOn(jtOrders(i => (6 - i).toDouble))
      .as[(Long, Long, Double, Boolean)].collect().head
    assert(dec == ((15L, 0L, -4.654747, true)))
  }

  test("jonckheereOn: identical group distributions sit exactly at the null mean") {
    val orders = (1 to 5).flatMap(i =>
      Seq((Prios(i - 1), 10.0), (Prios(i - 1), 20.0)))
      .toDF("o_orderpriority", "o_totalprice")
    val got = graft.ops.Composite73.jonckheereOn(orders)
      .as[(Long, Long, Double, Boolean)].collect().head
    assert(got == ((10L, 40L, 0.0, false)))
  }

  // ---- win_aroon -----------------------------------------------------------

  private def plantDaily(counts: Seq[Int]): org.apache.spark.sql.DataFrame =
    counts.zipWithIndex.flatMap { case (y, i) =>
      Seq.fill(y)(("A", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong).toString))
    }.toDF("event_type", "ts")

  test("aroonOn: a rising series pins up = 100 / down = 0; a constant series ties to the current day") {
    // Rising 1..20: in every saturated window the high is today
    // (gap 0) and the low is the oldest day (gap 13).
    val rising = graft.ops.timeseries.Patterns.aroonOn(plantDaily((1 to 20)))
      .as[(String, java.sql.Date, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(rising.length == 7) // days 14..20 carry a full 14-day window
    rising.foreach { r =>
      assert((r._4, r._5, r._6, r._7, r._8) == ((0L, 13L, 100.0, 0.0, 100.0)), s"$r")
    }
    // Constant: every day equals both extremes; the most-recent tie
    // rule picks gap 0 on both sides.
    val const = graft.ops.timeseries.Patterns.aroonOn(plantDaily(Seq.fill(16)(5)))
      .as[(String, java.sql.Date, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(const.length == 3) // days 14..16 carry a full 14-day window
    const.foreach { r =>
      assert((r._4, r._5, r._6, r._7, r._8) == ((0L, 0L, 100.0, 100.0, 0.0)), s"$r")
    }
  }
}
