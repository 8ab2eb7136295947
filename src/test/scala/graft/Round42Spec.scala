package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-24 batch-3 rows (SURVEY §2.61):
  * Jarque-Bera normality test and star-projection subtraction (the
  * Ljung-Box row is guarded by its scalacheck law in PropertiesSpec).
  */
class Round42Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- agg_jarque_bera --------------------------------------------------

  test("jarqueBeraOn: symmetric group scores skew 0, asymmetric group known JB") {
    // A = {1,2,3}: skew 0, excess kurtosis -1.5 (3-point uniform),
    // JB = 3/6·(0 + 2.25/4) = 0.28125. B = {1,1,4}: central moments
    // m2=2, m3=2, m4=6 -> skew = 2/2^1.5 = 0.707107, kurt -1.5,
    // JB = 0.5·(0.5 + 0.5625) = 0.53125. Neither rejects at 5%.
    val orders = Seq(
      ("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 1.0), ("B", 1.0), ("B", 4.0)
    ).toDF("o_orderpriority", "o_totalprice")
    val got = graft.ops.stats.Normality.jarqueBeraOn(orders)
      .as[(String, Long, Double, Double, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      ("A", 3L, 0.0, -1.5, 0.28125, false),
      ("B", 3L, 0.707107, -1.5, 0.53125, false)))
  }

  // ---- sql_star_except --------------------------------------------------

  test("star except drops exactly the named columns and keeps the slice") {
    Seq((1000L, 1L, "O", 10.0, "1995-01-01", "1-URGENT"),
      (17L, 2L, "F", 20.0, "1995-01-02", "2-HIGH"),
      (3000L, 3L, "O", 30.0, "1995-01-03", "3-MEDIUM"))
      .toDF("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .createOrReplaceTempView("orders")
    val got = spark.sql(graft.ops.SqlSurface.starExceptSql)
    assert(got.columns.toSeq ==
      Seq("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"))
    assert(got.as[(Long, Long, Double, String)].collect().toSeq ==
      Seq((1000L, 1L, 10.0, "1995-01-01"), (3000L, 3L, 30.0, "1995-01-03")))
  }
}
