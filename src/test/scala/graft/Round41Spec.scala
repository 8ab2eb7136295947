package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-24 batch-2 rows (SURVEY §2.60):
  * typed mapGroups streaks, true-range/ATR, and rescaled-range
  * analysis.
  */
class Round41Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def eventsFor(counts: Seq[(String, Int, Int)]) =
    counts.flatMap { case (t, day, y) =>
      Seq.fill(y)((t, java.time.LocalDate.of(2024, 1, 1)
        .plusDays(day - 1).toString))
    }.toDF("event_type", "ts")

  // ---- ds_map_groups ----------------------------------------------------

  test("longestIncStreakOn: strict increase only, day+orderkey order, slice filters") {
    // custkey 10 order values by (day, key): 5, 6, 7, 3, 4 -> longest
    // strictly-increasing run is 3. Equal values break the streak:
    // custkey 20 sees 4, 4, 5 -> longest 2. custkey 3 is off-slice.
    val orders = Seq(
      (10L, 101L, "1970-01-01", 5.0), (10L, 102L, "1970-01-02", 6.0),
      (10L, 103L, "1970-01-03", 7.0), (10L, 104L, "1970-01-04", 3.0),
      (10L, 105L, "1970-01-05", 4.0),
      (20L, 201L, "1970-01-01", 4.0), (20L, 202L, "1970-01-01", 4.0),
      (20L, 203L, "1970-01-02", 5.0),
      (3L, 301L, "1970-01-01", 9.0)
    ).toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = graft.ops.Typed.longestIncStreakOn(spark, orders)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 5L, 3L), (20L, 3L, 2L)))
  }

  // ---- win_true_range_atr -----------------------------------------------

  test("trueRangeAtrOn: overnight gap and intraday range fold into TR; 14-day gate") {
    // 15 single-order days at 10.00, except day 3 carries two orders
    // (8.00 then 12.00 -> hi 1200, lo 800, close = later orderkey's
    // 1200) and day 15 jumps to 20.00. TR: day3 = hi-lo = 400,
    // day4 = |lo-pc| = 200 (pure overnight gap), day15 = 1000.
    // ATR windows: day14 sums 600/1400, day15 sums 1600/1400.
    val base = (1 to 15).filter(d => d != 3 && d != 15).map(d =>
      (d.toLong * 10, f"1970-01-$d%02d", 10.0))
    val orders = (base ++ Seq(
      (301L, "1970-01-03", 8.0), (302L, "1970-01-03", 12.0),
      (151L, "1970-01-15", 20.0)))
      .map { case (k, d, p) => (1L, k, d, p) }
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = graft.ops.timeseries.Indicators.trueRangeAtrOn(orders)
      .as[(java.sql.Date, Long, Long, Long, Long, Double)].collect().toSeq
      .map { case (d, hi, lo, cl, tr, atr) => (d.toString, hi, lo, cl, tr, atr) }
    assert(got == Seq(
      ("1970-01-14", 1000L, 1000L, 1000L, 0L, 0.428571),
      ("1970-01-15", 2000L, 2000L, 2000L, 1000L, 1.142857)))
  }

  // ---- evt_hurst_rs -----------------------------------------------------

  test("hurstRsOn: alternating block scores R/S = 1, constant block is unscored") {
    // A: y = 1,2,1,2,1,2,1,2 over 8 days -> one full 8-block,
    // S = 12, Q = 20, q = 8·20 − 144 = 16, Z in {−4, 0} -> R = 4,
    // R/S = 4/√16 = 1. B: constant 5 -> q = 0 -> scored 0, NULL rs.
    val ev = eventsFor((1 to 8).map(d => ("A", d, if (d % 2 == 1) 1 else 2)) ++
      (1 to 8).map(d => ("B", d, 5)))
    val got = graft.ops.timeseries.Stationarity.hurstRsOn(ev)
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq(
      ("A", 8L, 1L, 1L, Some(1.0)),
      ("B", 8L, 1L, 0L, None)))
  }
}
