package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-26 batch-4 rows (SURVEY §2.82):
  * Cochran's Q, the DFT periodogram, and the Zipf rank-frequency
  * fit (brute-fold laws live in PropertiesSpec).
  */
class Round49Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def order(c: Long, y: Int, price: Double) =
    (c, f"$y-06-15", price)

  // ---- agg_cochran_q ------------------------------------------------------

  test("cochranQOn: a known 3-block table scores Q = 28/6; all-ones degenerates NULL") {
    // Blocks (1,0,0), (1,0,0), (1,1,0): C = (3,1,0), T = 4,
    // ΣR² = 6 → Q = 2(3·10 − 16)/(12 − 6) = 28/6 = 4.666667 (< 5.99).
    val hi = 400000.0; val lo = 100000.0
    val t1 = Seq(
      order(1, 1995, hi), order(1, 1996, lo), order(1, 1997, lo),
      order(2, 1995, hi), order(2, 1996, lo), order(2, 1997, lo),
      order(3, 1995, hi), order(3, 1996, hi), order(3, 1997, lo))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r1 = graft.ops.stats.Blocked.cochranQOn(t1)
      .as[(Long, Long, Long, Long, Double, Boolean)].collect().head
    assert(r1 == ((3L, 3L, 1L, 0L, 4.666667, false)))
    // Every block flagged in every year: kT − ΣR² = 0 → NULL Q.
    val t2 = (1L to 3L).flatMap(c =>
      Seq(order(c, 1995, hi), order(c, 1996, hi), order(c, 1997, hi)))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r2 = graft.ops.stats.Blocked.cochranQOn(t2).collect().head
    assert(r2.getLong(0) == 3L && r2.isNullAt(4) && r2.isNullAt(5))
  }

  test("cochranQOn: incomplete blocks (a missing year) are excluded") {
    val hi = 400000.0
    val t = Seq(
      order(1, 1995, hi), order(1, 1996, hi), order(1, 1997, hi),
      order(2, 1995, hi), order(2, 1996, hi)) // cust 2 skips 1997
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r = graft.ops.stats.Blocked.cochranQOn(t).collect().head
    assert(r.getLong(0) == 1L, s"incomplete block not excluded: $r")
  }

  // ---- evt_periodogram ----------------------------------------------------

  test("periodogramOn: constant series has exactly zero power everywhere") {
    // dev = nd·y − T is exactly 0 per row, so every sum is 0.0 — no
    // libm drift can enter a sum of exact zeros.
    val ev = (0 until 20).flatMap(d =>
      Seq.fill(3)(("T", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).toString))).toDF("event_type", "ts")
    val got = graft.ops.timeseries.Patterns.periodogramOn(ev)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.size == 9 && got.forall(_._4 == 0.0), got.toString)
  }

  test("periodogramOn: a pure period-2 alternation peaks at period 2") {
    val ys = Seq.fill(10)(Seq(1, 5)).flatten // 20 days of 1,5,1,5,…
    val ev = ys.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(("T", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).toString)) }.toDF("event_type", "ts")
    val got = graft.ops.timeseries.Patterns.periodogramOn(ev)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(got(2L) > 10 * got.filterKeys(_ != 2L).values.max,
      s"period-2 peak not dominant: $got")
  }

  // ---- llm_zipf_fit -------------------------------------------------------

  test("zipfFitOn: a geometric frequency ladder fits the closed-form OLS") {
    // f = (8,4,2,1) over ranks 1..4 — expected α/ln c from the same
    // least-squares formula, computed here in plain Scala.
    val docs = Seq((1L,
      (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++ Seq.fill(2)("cc") ++
        Seq("dd")).mkString(" ")))
      .toDF("doc_id", "text")
    val xs = (1 to 4).map(r => math.log(r.toDouble))
    val fs = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val m = 4.0
    val (sx, sy) = (xs.sum, fs.sum)
    val sxy = xs.zip(fs).map { case (a, b) => a * b }.sum
    val sx2 = xs.map(a => a * a).sum
    val b = (m * sxy - sx * sy) / (m * sx2 - sx * sx)
    def floor6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    val got = graft.ops.corpus.Vocabulary.zipfFitOn(docs)
      .as[(Long, Long, Double, Double)].collect().head
    assert(got._1 == 4L && got._2 == 4L)
    assert(math.abs(got._3 - floor6(-b)) <= 1e-6, s"alpha: $got vs ${-b}")
    assert(math.abs(got._4 - floor6((sy - b * sx) / m)) <= 1e-6)
  }

  test("zipfFitOn: rank cap binds — only the top-1024 ranks enter the fit") {
    // 1030 distinct singleton tokens + one heavy token: n_vocab
    // 1031, fit rows exactly 1024.
    val text = (Seq.fill(50)("zz") ++
      (0 until 1030).map(i => f"w$i%04d")).mkString(" ")
    val got = graft.ops.corpus.Vocabulary.zipfFitOn(
      Seq((1L, text)).toDF("doc_id", "text"))
      .as[(Long, Long, Double, Double)].collect().head
    assert(got._1 == 1031L && got._2 == 1024L)
  }
}
