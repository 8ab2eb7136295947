package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-23 batch-7 rows (SURVEY §2.58):
  * calendar-gap audit, Wald-Wolfowitz runs test, and the exact-dup
  * family spectrum.
  */
class Round39Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def eventsFor(counts: Seq[(String, Int, Int)]) =
    counts.flatMap { case (t, day, y) =>
      Seq.fill(y)((t, f"2024-01-$day%02d"))
    }.toDF("event_type", "ts")

  // ---- dq_calendar_gaps -------------------------------------------------

  test("calendarGapsOn: two holes of 2 and 3 days, single-day series coalesces to zero") {
    // A observed on days 1,2,5,6,10: span 10, 5 observed, gaps
    // 3-4 (2 days) and 7-9 (3 days). B has one day: no steps at all.
    val ev = eventsFor(Seq(1, 2, 5, 6, 10).map(d => ("A", d, 1)) ++
      Seq(("B", 4, 2)))
    val got = graft.ops.timeseries.Patterns.calendarGapsOn(ev)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 10L, 5L, 5L, 2L, 3L), ("B", 1L, 1L, 0L, 0L, 0L)))
  }

  // ---- win_runs_test ----------------------------------------------------

  test("runsTestOn: median ties drop, two runs of two score z = -sqrt(1.5)") {
    // A: y = 5,6,5,6,1,1 -> picked median 5, ties dropped, signs by
    // day [1,1,0,0] -> R=2, n1=n0=2, E=3, Var=2/3 -> z = -1.224745.
    // B: y = 1,2,3 -> median 2 drops the middle day; one run each
    // side -> Var = 0 -> z NULL via nullif.
    val ev = eventsFor(Seq(("A", 1, 5), ("A", 2, 6), ("A", 3, 5),
      ("A", 4, 6), ("A", 5, 1), ("A", 6, 1),
      ("B", 1, 1), ("B", 2, 2), ("B", 3, 3)))
    val got = graft.ops.timeseries.Patterns.runsTestOn(ev)
      .as[(String, Long, Long, Long, Long, Long, Option[Double])]
      .collect().toSeq
    assert(got == Seq(
      ("A", 5L, 4L, 2L, 2L, 2L, Some(-1.224745)),
      ("B", 2L, 2L, 1L, 1L, 2L, None)))
  }

  // ---- llm_dedup_family_spectrum ----------------------------------------

  test("dedupFamilySpectrumOn: 3+2+1 docs collapse into a 3-row spectrum") {
    val docs = Seq("a", "a", "a", "b", "b", "c").toDF("text")
    val got = graft.ops.dedup.Keys.dedupFamilySpectrumOn(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
  }
}
