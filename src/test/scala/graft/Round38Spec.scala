package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-23 batch-6 rows (SURVEY §2.57):
  * personalized PageRank, drawdown duration, and last-digit
  * uniformity.
  */
class Round38Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- graph_pagerank_personalized ------------------------------------

  test("pprOn: teleport mass restarts at the seeds and rank mass is conserved") {
    // Path 0-1-2, seeds {0, 2} (n % 2 == 0), one iteration at d=0.5:
    // r0 = (.5, 0, .5); node 1 collects .5/1 from each seed -> r =
    // 0.5*1.0 = 0.5; the seeds keep teleport 0.25 each. Sum = 1.
    val half = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val sym = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val got = graft.ops.graph.Centrality
      .pprOn(sym, n => n % 2 === 0, iterations = 1, damping = 0.5)
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((0L, 0.25), (1L, 0.5), (2L, 0.25)))
  }

  // ---- win_drawdown_duration ------------------------------------------

  test("drawdownDurationOn: the spike rolling out of the 7-day window opens one 2-day spell") {
    // A: rev 100 then eight 1s — the level peaks at 106 on day 7 and
    // drops to 7 when the spike leaves the frame (days 8-9 under).
    // B: flat and rising — never underwater, coalesced zeros.
    val rows =
      (1 to 9).map(i => ("A", f"2024-01-$i%02d",
        if (i == 1) 100.0 else 1.0)) ++
        Seq(("B", "2024-01-01", 5.0), ("B", "2024-01-02", 5.0))
    val daily = rows.toDF("n_name", "ds", "revd")
      .select($"n_name", to_date($"ds").as("d"),
        $"revd".cast("decimal(18,2)").as("rev"))
    val got = graft.ops.timeseries.Indicators.drawdownDurationOn(daily)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 9L, 2L, 1L, 2L), ("B", 2L, 0L, 0L, 0L)))
  }

  // ---- dq_last_digit_uniformity ---------------------------------------

  test("lastDigitUniformityOn: skewed digits score chi2 21, uniform digits 0 with smallest-digit tie-break") {
    // A: cents digits 1,1,1,2 -> chi2 = (10*10 - 16)/4 = 21.
    // B: one of each digit 0..9 -> chi2 = 0; top digit ties resolve
    // to 0.
    val li = (Seq(1.01, 2.11, 3.21, 4.02).map(p => ("A", p)) ++
      (0 to 9).map(d => ("B", 1.0 + d / 100.0)))
      .toDF("l_returnflag", "l_extendedprice")
    val got = graft.ops.dq.Digits.lastDigitUniformityOn(li)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("A", 4L, 1L, 3L, 21.0), ("B", 10L, 0L, 1L, 0.0)))
  }
}
