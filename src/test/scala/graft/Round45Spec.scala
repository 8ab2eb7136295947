package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-24 batch-6 rows (SURVEY §2.64):
  * one-way ANOVA F and floor-trader pivot points.
  */
class Round45Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  // ---- agg_anova_f ------------------------------------------------------

  test("anovaFOn: identical groups score F = 0, a shifted group rejects") {
    // All five groups = {1,3}: SSB = 0, SSW = 10 -> F = 0.
    val same = Prios.flatMap(p => Seq((p, 1.0), (p, 3.0)))
      .toDF("o_orderpriority", "o_totalprice")
    val g1 = graft.ops.stats.KSample.anovaFOn(same)
      .as[(Long, Double, Double, Double, Boolean)].collect().head
    assert(g1 == ((10L, 0.0, 10.0, 0.0, false)))
    // Four groups {1,3}, 5-LOW = {11,13}: SSB = 160, SSW = 10,
    // F = (160/4)/(10/5) = 20 -> rejects at the F(4,inf) 5% bar.
    val shifted = (Prios.init.flatMap(p => Seq((p, 1.0), (p, 3.0))) ++
      Seq(("5-LOW", 11.0), ("5-LOW", 13.0)))
      .toDF("o_orderpriority", "o_totalprice")
    val g2 = graft.ops.stats.KSample.anovaFOn(shifted)
      .as[(Long, Double, Double, Double, Boolean)].collect().head
    assert(g2 == ((10L, 160.0, 10.0, 20.0, true)))
  }

  // ---- win_pivot_points -------------------------------------------------

  test("pivotPointsOn: yesterday's candle sets today's level grid") {
    // Day 1: orders 8.00 then 12.00 (hi 1200, lo 800, close 1200).
    // Day 2's levels from day 1: P = 3200/3 cents = 10.666667,
    // R1 = 13.333333, S1 = 9.333333, R2 = 14.666667, S2 = 6.666667.
    val orders = Seq(
      (1L, 11L, "1970-01-01", 8.0), (1L, 12L, "1970-01-01", 12.0),
      (1L, 21L, "1970-01-02", 10.0)
    ).toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = graft.ops.timeseries.Indicators.pivotPointsOn(orders)
      .as[(java.sql.Date, Double, Double, Double, Double, Double)]
      .collect().toSeq
      .map { case (d, p, r1, s1, r2, s2) => (d.toString, p, r1, s1, r2, s2) }
    assert(got == Seq(("1970-01-02",
      10.666667, 13.333333, 9.333333, 14.666667, 6.666667)))
  }
}
