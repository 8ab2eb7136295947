package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-23 batch-5 rows (SURVEY §2.56):
  * variance-ratio diagnostic, turning-point randomness test, and
  * tokenizer fertility.
  */
class Round37Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def eventsFor(counts: Seq[(String, Int, Int)]) =
    counts.flatMap { case (t, day, y) =>
      Seq.fill(y)((t, f"2024-01-$day%02d"))
    }.toDF("event_type", "ts")

  // ---- evt_variance_ratio ---------------------------------------------

  test("varianceRatioOn: constant diffs zero both variances, VR NULL; dead 4-lag zeroes VR") {
    // A: y = 1..8 -> every 1-step diff is 1 (var1 = 0 -> VR NULL via
    // nullif) and every 4-step diff is 4 (var4 = 0).
    // B: y = 1,3,1,3,1,3 -> var1 = 96/25 = 3.84; the 4-step diffs are
    // all 0 (period 2 divides 4) -> var4 = 0 -> VR exactly 0.
    val ev = eventsFor(
      (1 to 8).map(d => ("A", d, d)) ++
        Seq(("B", 1, 1), ("B", 2, 3), ("B", 3, 1), ("B", 4, 3),
          ("B", 5, 1), ("B", 6, 3)))
    val got = graft.ops.timeseries.Stationarity.varianceRatioOn(ev)
      .as[(String, Long, Double, Double, Option[Double])].collect().toSeq
    assert(got == Seq(
      ("A", 8L, 0.0, 0.0, None),
      ("B", 6L, 3.84, 0.0, Some(0.0))))
  }

  // ---- win_turning_points ---------------------------------------------

  test("turningPointsOn: strict extrema only — the flat shoulder is not a turn") {
    // y = 1,3,2,4,4: turns at day2 (peak) and day3 (trough); the
    // 4->4 shoulder has db*df = 0, not < 0. E[tp] = 2(5-2)/3 = 2 ->
    // z = 0 exactly.
    val ev = eventsFor(Seq(("A", 1, 1), ("A", 2, 3), ("A", 3, 2),
      ("A", 4, 4), ("A", 5, 4)))
    val got = graft.ops.timeseries.Patterns.turningPointsOn(ev)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 5L, 2L, 2.0, 0.0)))
  }

  // ---- llm_tokenizer_fertility ----------------------------------------

  test("tokenizerFertilityOn: regex splits alnum runs, fertility = re/ws per lang") {
    // en: "ab cd12" -> ws 2, re {ab, cd, 12} = 3; "x y" -> ws 2,
    // re 2. Totals 5/4 = 1.25 fertility, 10/5 = 2.0 chars/token.
    val docs = Seq(("en", "ab cd12"), ("en", "x y"), ("de", "zz"))
      .toDF("lang", "text")
    val got = graft.ops.corpus.Stats.tokenizerFertilityOn(docs)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("de", 1L, 1L, 1L, 1.0, 2.0),
      ("en", 2L, 4L, 5L, 1.25, 2.0)))
  }
}
