package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 batch 1 (SURVEY §2.86): planted cases for the Dunn-Holm
  * post-hoc, the Adamic-Adar/PA link-score trio, the EWMA control
  * chart, and ANN nDCG@10.
  */
class Round52Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Prios = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  // ---- agg_dunn_posthoc ----------------------------------------------------

  test("dunnOn: 5 stacked groups — hand-computed z grid, Holm step-down cuts at step 4") {
    // Group i holds values 6(i−1)+1..6i (no ties): ranks equal values,
    // mean ranks 3.5/9.5/15.5/21.5/27.5, S² = 30·31/12 = 77.5,
    // z(a,b) = Δr̄ / sqrt(77.5/3). |z| desc = 4.7219, 3.5415 (×2),
    // 2.3610 (×3), 1.1805 (×4); Holm criticals pass at steps 1-3 and
    // fail from step 4 on, so exactly the three widest-gap pairs are
    // significant (the running min keeps every later step false).
    val orders = (1 to 5).flatMap(i =>
      (1 to 6).map(j => (Prios(i - 1), (6 * (i - 1) + j).toDouble)))
      .toDF("o_orderpriority", "o_totalprice")
    val got = graft.ops.Composite69.dunnOn(orders)
      .as[(String, String, Long, Long, Double, Double, Double, Int, Boolean)]
      .collect().toSeq
    val mr = Map(1 -> 3.5, 2 -> 9.5, 3 -> 15.5, 4 -> 21.5, 5 -> 27.5)
    val expect = Seq(
      (1, 2, -1.180487, 7, false), (1, 3, -2.360973, 4, false),
      (1, 4, -3.54146, 2, true), (1, 5, -4.721946, 1, true),
      (2, 3, -1.180487, 8, false), (2, 4, -2.360973, 5, false),
      (2, 5, -3.54146, 3, true), (3, 4, -1.180487, 9, false),
      (3, 5, -2.360973, 6, false), (4, 5, -1.180487, 10, false)
    ).map { case (a, b, z, hr, sig) =>
      (Prios(a - 1), Prios(b - 1), 6L, 6L, mr(a), mr(b), z, hr, sig) }
    assert(got == expect)
  }

  test("dunnOn: identically-ranked groups z = 0 and nothing is significant") {
    // Every group holds the same value set -> all mean ranks equal.
    val orders = (1 to 5).flatMap(i =>
      Seq((Prios(i - 1), 10.0), (Prios(i - 1), 20.0)))
      .toDF("o_orderpriority", "o_totalprice")
    val got = graft.ops.Composite69.dunnOn(orders).collect()
    assert(got.length == 10)
    got.foreach { r =>
      assert(r.getDouble(6) == 0.0, s"z nonzero: $r")
      assert(!r.getBoolean(8), s"significant at zero shift: $r")
    }
  }

  // ---- graph_adamic_adar_linkpred ------------------------------------------

  test("adamicAdarOn: single wedge scores AA = 1/ln 2, PA = deg product, Jaccard = 1/4") {
    // Middle 7 (full degree 2) bridges slice nodes 20 (deg 2) and 40
    // (deg 3); fillers 101/201/301 are off-slice so they only add
    // degree. AA = 1/ln(2) = 1.442695 (6-dp floor), PA = 2·3.
    val half = Seq((7L, 20L), (7L, 40L), (20L, 101L), (40L, 201L),
      (40L, 301L)).toDF("src", "dst")
    val got = graft.ops.graph.LinkPrediction.adamicAdarOn(half)
      .as[(Long, Long, Long, Long, Long, Double, Long, Double)]
      .collect().toSeq
    assert(got == Seq((20L, 40L, 1L, 2L, 3L, 1.442695, 6L, 0.25)))
  }

  test("adamicAdarOn: an adjacent candidate pair is anti-joined away") {
    val half = Seq((7L, 20L), (7L, 40L), (20L, 40L), (20L, 101L),
      (40L, 201L)).toDF("src", "dst")
    assert(graft.ops.graph.LinkPrediction.adamicAdarOn(half).isEmpty)
  }

  // ---- evt_ewma_chart ------------------------------------------------------

  private def plantDaily(counts: Seq[Int]): org.apache.spark.sql.DataFrame =
    counts.zipWithIndex.flatMap { case (y, i) =>
      Seq.fill(y)(("A", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong).toString))
    }.toDF("event_type", "ts")

  test("ewmaChartOn: a constant series sits exactly on its zero-width limits") {
    // 20 days at 7: MR̄ = 0 so UCL = LCL = center = 7; the EWMA of a
    // constant is exactly 7 (131071·7 / 131071 — integer numerator),
    // and equality is not a violation on either side. Days 1-16 have
    // no saturated window -> 4 scored days.
    val got = graft.ops.timeseries.Control.ewmaChartOn(plantDaily(Seq.fill(20)(7)))
      .as[(String, Long, Double, Double, Double, Double, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("A", 4L, 7.0, 0.0, 7.0, 7.0, 0L, 0L)))
  }

  test("ewmaChartOn: a level shift breaches the UCL; the pre-shift day sits below the LCL") {
    // 17 days at 10 then 3 at 50: center 16, σ̂ = 40/19/1.128,
    // limits 16 ± sqrt(3)·σ̂ = [12.767356, 19.232644]. Scored days:
    // day 17 (EWMA exactly 10 — below LCL), days 18-20 (EWMA ≈ 30/
    // 40/45 — above UCL).
    val got = graft.ops.timeseries.Control
      .ewmaChartOn(plantDaily(Seq.fill(17)(10) ++ Seq.fill(3)(50)))
      .as[(String, Long, Double, Double, Double, Double, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("A", 4L, 16.0, 1.866368, 19.232644, 12.767356, 3L, 1L)))
  }

  // ---- llm_ann_ndcg --------------------------------------------------------

  test("ndcgFrom: perfect ranking scores 1, inverted 0.667856, disjoint 0; summary row averages") {
    val queries = Seq(1L, 2L, 3L).toDF("q_id")
    // q1: IVF order == exact order; q2: IVF order is the exact
    // ranking reversed; q3: IVF candidates share nothing with exact.
    val ivf = ((1 to 10).map(i => (1L, 100L + i, i)) ++
      (1 to 10).map(i => (2L, 200L + i, i)) ++
      (1 to 10).map(i => (3L, 300L + i, i)))
      .toDF("q_id", "vec_id", "rn")
    val exact = ((1 to 10).map(i => (1L, 100L + i, i)) ++
      (1 to 10).map(i => (2L, 200L + i, 11 - i)) ++
      (1 to 10).map(i => (3L, 310L + i, i)))
      .toDF("q_id", "vec_id", "ern")
    val got = graft.ops.retrieval.Evaluation.ndcgFrom(queries, ivf, exact)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (-1L, 20L, 16.659717, 0.555952),
      (1L, 10L, 29.966109, 1.0),
      (2L, 10L, 20.013043, 0.667856),
      (3L, 0L, 0.0, 0.0)))
  }
}
