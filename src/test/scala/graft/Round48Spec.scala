package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-26 rows (SURVEY §2.79–2.81):
  * Cramér's V, Fisher's exact test, the Chow break F, truncated
  * Holt-Winters, and eigenvector centrality (the brute-fold
  * scalacheck laws live in PropertiesSpec).
  */
class Round48Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Segs = Seq(
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Pris = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  // ---- agg_cramers_v ------------------------------------------------------

  test("cramersVOn: a perfect diagonal association scores V = 1") {
    // seg_i always pairs with pri_i (2 rows per cell on the diagonal):
    // chi2 = n·(k−1) = 10·4 = 40, V = sqrt(40/(10·4)) = 1.
    val pairs = Segs.zip(Pris).flatMap { case (s, p) => Seq((s, p), (s, p)) }
      .toDF("c_mktsegment", "o_orderpriority")
    val got = graft.ops.stats.Association.cramersVOn(pairs)
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    assert(got._1 == 10L && got._2 == 5L && got._3 == 5L)
    assert(got._4 == 40.0 && got._5 == 1.0)
  }

  test("cramersVOn: a 1-column table NULLs V (degenerate dof), not a crash") {
    val pairs = Segs.map(s => (s, Pris.head))
      .toDF("c_mktsegment", "o_orderpriority")
    val r = graft.ops.stats.Association.cramersVOn(pairs).collect().head
    assert(r.getLong(0) == 5L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 0.0) // chi2 of a 5×1 table is 0
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  // ---- agg_fisher_exact ---------------------------------------------------

  test("fisherExactOn: the tea-tasting 4/4 table scores p = 34/70") {
    // a=3,b=1,c=1,d=3: hypergeometric pmf over C(8,4)=70 is
    // {1,16,36,16,1}/70; tables ≤ P(3)=16/70 are k∈{0,1,3,4} →
    // p = 34/70 = 0.485714…
    val flags =
      Seq.fill(3)((true, true)) ++ Seq.fill(1)((true, false)) ++
      Seq.fill(1)((false, true)) ++ Seq.fill(3)((false, false))
    val got = graft.ops.stats.Association.fisherExactOn(flags.toDF("grp", "hit"))
      .as[(Long, Long, Long, Long, Double, Boolean)].collect().head
    assert(got == ((3L, 1L, 1L, 3L, 0.485714, false)))
  }

  test("fisherExactOn: an empty margin degenerates to p = 1") {
    // No negative-balance rows anywhere (c1 = 0): the support is the
    // single observed table, so p = 1 exactly.
    val flags = Seq.fill(4)((true, false)) ++ Seq.fill(6)((false, false))
    val got = graft.ops.stats.Association.fisherExactOn(flags.toDF("grp", "hit"))
      .as[(Long, Long, Long, Long, Double, Boolean)].collect().head
    assert(got == ((0L, 4L, 0L, 6L, 1.0, false)))
  }

  // ---- evt_chow_test ------------------------------------------------------

  test("chowOn: a perfect two-regime fit NULLs F (zero residual guard)") {
    // 1,2,3 then 10,20,30: each half fits its own line exactly, so
    // ssr1+ssr2 is 0 up to ulp and the guarded F must be NULL — the
    // divergence the CASE … > 0 gate exists for.
    val ys = Seq(1, 2, 3, 10, 20, 30)
    val ev = ys.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(("T", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).toString)) }.toDF("event_type", "ts")
    val r = graft.ops.timeseries.Stationarity.chowOn(ev).collect().head
    assert(r.getString(0) == "T" && r.getLong(1) == 6L && r.getLong(2) == 3L)
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("chowOn: a hard level break rejects stability; a single line does not") {
    // 14 days of ~flat 2s jumping to ~flat 12s (with one wiggle per
    // half so residuals are nonzero): the split model crushes the
    // pooled SSR → F huge.
    val broken = Seq(2, 2, 3, 2, 2, 2, 2, 12, 12, 13, 12, 12, 12, 12)
    val ev1 = broken.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(("T", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).toString)) }.toDF("event_type", "ts")
    val r1 = graft.ops.timeseries.Stationarity.chowOn(ev1).collect().head
    assert(!r1.isNullAt(3) && r1.getDouble(3) > 2.995732 && r1.getBoolean(4))
    // The same wiggles on ONE flat level: split buys ~nothing.
    val stable = Seq(2, 2, 3, 2, 2, 2, 2, 2, 2, 3, 2, 2, 2, 2)
    val ev2 = stable.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(("T", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).toString)) }.toDF("event_type", "ts")
    val r2 = graft.ops.timeseries.Stationarity.chowOn(ev2).collect().head
    assert(!r2.isNullAt(3) && !r2.getBoolean(4),
      s"stable series rejected: f=${r2.getDouble(3)}")
  }

  // ---- evt_holt_winters ---------------------------------------------------

  test("holtWintersOn: a constant series forecasts itself exactly (MAE 0)") {
    // y ≡ 4 for 30 days: S1 = S2 = 4, dev = 0, sea = 0, every
    // forecast = 4 → hw_mae = hw_bias = snaive_mae = 0, 10 scored
    // rows (first score at row 21).
    val ev = (0 until 30).flatMap(d =>
      Seq.fill(4)(("T", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).toString))).toDF("event_type", "ts")
    val got = graft.ops.timeseries.Forecast.holtWintersOn(ev)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("T", 10L, 0.0, 0.0, 0.0)))
  }

  test("holtWintersOn: a pure weekly pattern beats the trend-only Brown forecast") {
    // Period-7 square wave 1,1,1,1,1,8,8 repeating for 35 days: the
    // seasonal-naive is perfect (snaive_mae 0); Holt-Winters carries
    // most of the pattern through its truncated seasonal term, while
    // the season-blind Brown baseline (win_holt_backtest's algebra)
    // would smear the weekend step. Sanity: HW scores rows and sits
    // well under the square wave's own amplitude.
    val week = Seq(1, 1, 1, 1, 1, 8, 8)
    val ys = Seq.fill(5)(week).flatten
    val ev = ys.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(c)(("T", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(d).toString)) }.toDF("event_type", "ts")
    val got = graft.ops.timeseries.Forecast.holtWintersOn(ev)
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(got._1 == "T" && got._2 == 15L)
    assert(got._5 == 0.0, s"seasonal naive not perfect: $got")
    assert(got._3 < 3.5, s"hw_mae did not track the pattern: $got")
  }

  // ---- graph_eigenvector_centrality ---------------------------------------

  private def sym(es: Seq[(Long, Long)]) =
    (es ++ es.map(_.swap)).toDF("src", "dst")

  test("eigenvectorOn: the triangle's uniform vector is a fixed point") {
    val got = graft.ops.graph.Centrality.eigenvectorOn(
      sym(Seq((0L, 1L), (1L, 2L), (2L, 0L))))
      .as[(Long, Double)].collect().toSeq
    val third = math.floor(1.0 / 3 * 1e12 + 0.5) / 1e12
    assert(got == Seq((0L, third), (1L, third), (2L, third)))
  }

  test("eigenvectorOn: star center dominates; bipartite 2-state lands on the odd state") {
    // K1,3 is bipartite: L1 power iteration alternates between the
    // uniform state and (1/2, 1/6, 1/6, 1/6); 5 iterations (odd)
    // land on the latter — fixed-iteration semantics, documented.
    val got = graft.ops.graph.Centrality.eigenvectorOn(
      sym(Seq((0L, 1L), (0L, 2L), (0L, 3L))))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(0L) - 0.5) < 1e-9)
    Seq(1L, 2L, 3L).foreach(l =>
      assert(math.abs(got(l) - 1.0 / 6) < 1e-9, s"leaf $l -> ${got(l)}"))
  }
}
