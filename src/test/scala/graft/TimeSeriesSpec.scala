package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the time-series family
  * (`graft.ops.timeseries`): KPSS level stationarity (SURVEY §2.62)
  * and Donchian channel breakouts over the daily candle.
  */
class TimeSeriesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def eventsFor(counts: Seq[(String, Int, Int)]) =
    counts.flatMap { case (t, day, y) =>
      Seq.fill(y)((t, java.time.LocalDate.of(2024, 1, 1)
        .plusDays(day - 1).toString))
    }.toDF("event_type", "ts")

  // ---- evt_kpss_level ---------------------------------------------------

  test("kpssLevelOn: 1,2,3 scores 1/3; constant series is NULL-degenerate") {
    // A: y=[1,2,3] -> n·S = [-3,-3,0], Σ(nS)² = 18, n·Σy² − T² = 6,
    // stat = 18/(9·6) = 1/3. B constant -> zero variance -> NULL.
    val ev = eventsFor(Seq(("A", 1, 1), ("A", 2, 2), ("A", 3, 3),
      ("B", 1, 5), ("B", 2, 5), ("B", 3, 5)))
    val got = graft.ops.timeseries.Stationarity.kpssLevelOn(ev)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toSeq
    assert(got == Seq(
      ("A", 3L, Some(0.333333), Some(false)),
      ("B", 3L, None, None)))
  }

  // ---- win_donchian_channel ---------------------------------------------

  test("donchianChannelOn: prior-20-day extremes, up then down breakout") {
    // 20 flat days at 10.00, day 21 spikes to 25.00 (breaks the
    // 1000-cent channel up), day 22 drops to 5.00 (channel now
    // includes the spike: hi 2500, lo 1000 -> down breakout).
    val orders = ((1 to 20).map(d => (d.toLong, f"1970-01-$d%02d", 10.0)) ++
      Seq((21L, "1970-01-21", 25.0), (22L, "1970-01-22", 5.0)))
      .map { case (k, d, p) => (1L, k, d, p) }
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = graft.ops.timeseries.Indicators.donchianChannelOn(orders)
      .as[(java.sql.Date, Long, Long, Long, String)].collect().toSeq
      .map { case (d, cl, hi, lo, b) => (d.toString, cl, hi, lo, b) }
    assert(got == Seq(
      ("1970-01-21", 2500L, 1000L, 1000L, "up"),
      ("1970-01-22", 500L, 2500L, 1000L, "down")))
  }
}
