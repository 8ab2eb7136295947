package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted cases for the hypothesis-test family (`graft.ops.stats`):
  * hand-computed statistics on tiny inputs where the exact answer is
  * known. */
class StatsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def plant(rows: Seq[(String, Int, Int)]) = // (type, day, count)
    rows.flatMap { case (t, day, y) =>
      Seq.fill(y)((t, java.time.LocalDate.of(2024, 1, 1)
        .plusDays(day.toLong - 1).toString))
    }.toDF("event_type", "ts")

  test("kruskalWallisOn: tie-free singletons score H = 4; a tie pair corrects to exactly 5") {
    // One order per group at 1..5: ranks 1..5, H = 3*220/30 - 18 = 4,
    // no ties.
    val singles = Prios.zipWithIndex
      .map { case (p, i) => (p, (i + 1).toDouble) }
      .toDF("o_orderpriority", "o_totalprice")
    val r1 = graft.ops.stats.KSample.kruskalWallisOn(singles)
      .as[(Long, Double, Boolean)].collect().head
    assert(r1 == ((5L, 4.0, false)))
    // 1-URGENT = {1, 1} (a tie pair), others 2..5 singly: raw
    // H = 34/7, tie correction C = 34/35 -> H' = exactly 5.
    val tied = (Seq(("1-URGENT", 1.0), ("1-URGENT", 1.0)) ++
      Prios.tail.zipWithIndex.map { case (p, i) => (p, (i + 2).toDouble) })
      .toDF("o_orderpriority", "o_totalprice")
    val r2 = graft.ops.stats.KSample.kruskalWallisOn(tied)
      .as[(Long, Double, Boolean)].collect().head
    assert(r2 == ((6L, 5.0, false)))
  }

  test("cronbachIccOn: items moving in lockstep score alpha = 1 and ICC = 1") {
    // Day d: every one of the 5 types fires d times — each item's
    // scaled variance is 20, the total's 500 = 25·20, so
    // alpha = (5/4)(1 − 100/500) = 1; within-day variance is 0 so
    // ICC(1,1) = 1.
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = plant(for (t <- types; d <- 1 to 4) yield (t, d, d))
    val got = graft.ops.stats.Blocked.cronbachIccOn(ev)
      .as[(Long, Double, Double)].collect().head
    assert(got == ((4L, 1.0, 1.0)))
  }

  test("cronbachIccOn: anti-correlated pair NULLs alpha (zero total variance), ICC = -0.25") {
    // click = [1,2], view = [2,1], others structurally 0: row sums
    // are constant -> V_tot = 0 -> alpha NULL by the nullif guard;
    // one-way ANOVA: MSB = 0, MSW = 0.8 -> ICC = -0.25 (days
    // indistinguishable, all variance within).
    val ev = plant(Seq(("click", 1, 1), ("click", 2, 2),
      ("view", 1, 2), ("view", 2, 1)))
    val got = graft.ops.stats.Blocked.cronbachIccOn(ev).collect().head
    assert(got.getLong(0) == 2L)
    assert(got.isNullAt(1), s"alpha not NULL: $got")
    assert(got.getDouble(2) == -0.25)
  }
}
