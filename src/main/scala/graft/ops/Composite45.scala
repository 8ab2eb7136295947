package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.61 (round-24 batch 3) — normality testing:
  *
  *  - [[jarqueBera]]: Jarque-Bera normality test of order totals per
  *    priority. `agg_higher_moments` REPORTS skewness/kurtosis of a
  *    different variable; JB turns the two moments into the test
  *    statistic n/6·(S² + K²/4) with the χ²₂ 5% verdict — the
  *    distributional gate for every z-interval downstream.
  *
  * Scale shape: one map-side-combining power-sum aggregate per
  * priority (5 groups), broadcast-sized.
  *
  * Determinism: JB power sums are exact DECIMALs (the §1.5 r7
  * discipline — the oracle routes sums through VARCHAR because
  * DuckDB's direct decimal→double cast double-rounds beyond 2^53);
  * the χ² verdict compares AFTER the 6-dp floor so both engines
  * decide on identical numbers. The decimal power-sum headroom
  * (38,8) bounds the corpus this row may run on to ~1e30 in Σx⁴ —
  * at the 100 TB scale, center-and-scale x first (the standard JB
  * preprocessing) or widen to the two-pass centered form.
  */
object Composite45 {

  // ---- agg_jarque_bera -------------------------------------------------
  // Exact decimal power sums of x = o_totalprice per priority
  // (decimal sums are order-independent), one double assembly for
  // skewness S, excess kurtosis K, and JB = n/6·(S² + K²/4).
  private val jbX = "CAST(o_totalprice AS DECIMAL(15,2))"
  private val jbX2 = s"CAST($jbX * $jbX AS DECIMAL(24,4))"
  private val jbX3 = s"CAST($jbX2 * $jbX AS DECIMAL(32,6))"
  private val jbX4 = s"CAST($jbX2 * $jbX2 AS DECIMAL(38,8))"

  private val jbAggs = Seq(
    Composite3.countAgg("n"),
    Composite3.sumAgg(jbX, "s1"),
    Composite3.sumAgg(jbX2, "s2"),
    Composite3.sumAgg(jbX3, "s3"),
    Composite3.sumAgg(jbX4, "s4"))

  private val jbM2 = "(s2/n - (s1/n)*(s1/n))"
  private val jbSkew =
    s"((s3/n - 3.0*(s1/n)*$jbM2 - (s1/n)*(s1/n)*(s1/n)) / ($jbM2 * sqrt($jbM2)))"
  private val jbKurt =
    s"((s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) " +
      s"- 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / ($jbM2*$jbM2) - 3.0)"
  private val jbStat =
    s"floor(((n/6.0)*($jbSkew*$jbSkew + ($jbKurt*$jbKurt)/4.0))*1e6 + 0.5)/1e6"

  private val jbOut = Seq(
    "CAST(n AS BIGINT) AS n",
    s"floor(($jbSkew)*1e6 + 0.5)/1e6 AS skewness",
    s"floor(($jbKurt)*1e6 + 0.5)/1e6 AS kurtosis_excess",
    s"$jbStat AS jb_stat",
    s"($jbStat > 5.991465) AS reject_normal_5pct")

  private[graft] def jarqueBeraOn(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .agg(expr(jbAggs.head.spark).as(jbAggs.head.alias),
        jbAggs.tail.map(a => expr(a.spark).as(a.alias)): _*)
      .selectExpr("o_orderpriority" +: jbOut: _*)
      .orderBy("o_orderpriority")

  private def jarqueBera(s: SparkSession, dir: String): DataFrame =
    jarqueBeraOn(load(s, dir, "orders"))

  private def jarqueBeraOracle: String =
    s"""WITH g AS (
       |  SELECT o_orderpriority,
       |    ${jbAggs.map(a => s"${a.oracle} AS ${a.alias}").mkString(",\n    ")}
       |  FROM orders GROUP BY 1)
       |SELECT o_orderpriority,
       |  ${jbOut.mkString(",\n  ")}
       |FROM g ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_jarque_bera" -> (jarqueBera _)
  )

  val oracle: Map[String, String] = Map(
    "agg_jarque_bera" -> jarqueBeraOracle
  )
}
