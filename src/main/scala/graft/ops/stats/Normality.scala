package graft.ops.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._
import Samples._

/** Normality and single-outlier tests of order totals per priority:
  *
  *  - `agg_jarque_bera`: Jarque-Bera normality test. `agg_higher_moments`
  *    REPORTS skewness/kurtosis of a different variable; JB turns the
  *    two moments into the test statistic n/6·(S² + K²/4) with the χ²₂
  *    5% verdict — the distributional gate for every z-interval
  *    downstream.
  *
  *  - `agg_grubbs_test`: Grubbs' extreme-studentized-deviate statistic
  *    — G = max(x̄ − min, max − x̄)/s with the side and the extreme
  *    value itself. `dq_outlier_fences` counts ALL Tukey-fence
  *    outliers; Grubbs scores THE single most extreme observation
  *    against the normal null (the "is this one point bad, and which
  *    one?" question an on-call engineer asks of a spiking metric).
  *    The t-quantile critical value is left to the caller (no closed
  *    form in either engine) — the row surfaces the exact statistic
  *    and the suspect.
  *
  * Scale shape: one map-side-combining power-sum (+ extremes)
  * aggregate per priority (5 groups), broadcast-sized.
  *
  * Determinism: power sums are exact DECIMALs (the §1.5 r7 discipline
  * — the oracle routes sums through VARCHAR because DuckDB's direct
  * decimal→double cast double-rounds beyond 2^53); extremes are exact
  * decimals cast to double (≤ 2^53, exact on both engines); statistics
  * assemble once from identical formula text with floor-6-dp, and the
  * χ² verdict compares AFTER the floor so both engines decide on
  * identical numbers. The decimal power-sum headroom (38,8) bounds
  * the corpus JB may run on to ~1e30 in Σx⁴ — at the 100 TB scale,
  * center-and-scale x first (the standard JB preprocessing) or widen
  * to the two-pass centered form.
  */
object Normality {

  private val x = "CAST(o_totalprice AS DECIMAL(15,2))"
  private val x2 = s"CAST($x * $x AS DECIMAL(24,4))"

  /** Per priority: one aggregate of `aggs`, then the `out` columns. */
  private def perPriority(orders: DataFrame, aggs: Seq[StatAgg],
      out: Seq[String]): DataFrame = {
    val cols = aggColumns(aggs)
    orders
      .groupBy(col("o_orderpriority"))
      .agg(cols.head, cols.tail: _*)
      .selectExpr("o_orderpriority" +: out: _*)
      .orderBy("o_orderpriority")
  }

  private def perPrioritySql(aggs: Seq[StatAgg], out: Seq[String]): String =
    s"""WITH g AS (
       |  SELECT o_orderpriority,
       |    ${aggregateSql(aggs)}
       |  FROM orders GROUP BY 1)
       |SELECT o_orderpriority,
       |  ${out.mkString(",\n  ")}
       |FROM g ORDER BY o_orderpriority""".stripMargin

  // ---- agg_jarque_bera -------------------------------------------------
  // Exact decimal power sums of x = o_totalprice per priority
  // (decimal sums are order-independent), one double assembly for
  // skewness S, excess kurtosis K, and JB = n/6·(S² + K²/4).
  private val jbX3 = s"CAST($x2 * $x AS DECIMAL(32,6))"
  private val jbX4 = s"CAST($x2 * $x2 AS DECIMAL(38,8))"

  private val jbAggs = Seq(
    countAgg("n"),
    sumAgg(x, "s1"),
    sumAgg(x2, "s2"),
    sumAgg(jbX3, "s3"),
    sumAgg(jbX4, "s4"))

  private val jbM2 = "(s2/n - (s1/n)*(s1/n))"
  private val jbSkew =
    s"((s3/n - 3.0*(s1/n)*$jbM2 - (s1/n)*(s1/n)*(s1/n)) / ($jbM2 * sqrt($jbM2)))"
  private val jbKurt =
    s"((s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) " +
      s"- 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / ($jbM2*$jbM2) - 3.0)"
  private val jbStat = r6(s"(n/6.0)*($jbSkew*$jbSkew + ($jbKurt*$jbKurt)/4.0)")

  private val jbOut = Seq(
    "CAST(n AS BIGINT) AS n",
    s"${r6(jbSkew)} AS skewness",
    s"${r6(jbKurt)} AS kurtosis_excess",
    s"$jbStat AS jb_stat",
    s"($jbStat > 5.991465) AS reject_normal_5pct")

  private[graft] def jarqueBeraOn(orders: DataFrame): DataFrame =
    perPriority(orders, jbAggs, jbOut)

  private def jarqueBera(s: SparkSession, dir: String): DataFrame =
    jarqueBeraOn(load(s, dir, "orders"))

  // ---- agg_grubbs_test -------------------------------------------------
  private val grAggs = Seq(
    countAgg("n"),
    sumAgg(x, "s1"),
    sumAgg(x2, "s2"),
    StatAgg("mx", s"CAST(max($x) AS DOUBLE)",
      s"CAST(max($x) AS DOUBLE)"),
    StatAgg("mn", s"CAST(min($x) AS DOUBLE)",
      s"CAST(min($x) AS DOUBLE)"))

  private val grMean = "(s1/n)"
  private val grSd = s"sqrt((s2 - $grMean*s1) / (n - 1))"
  private val grG =
    s"""((CASE WHEN (mx - $grMean) >= ($grMean - mn)
       | THEN mx - $grMean ELSE $grMean - mn END) / nullif($grSd, 0))"""
      .stripMargin

  private val grOut = Seq(
    "CAST(n AS BIGINT) AS n",
    s"${r6(grMean)} AS mean",
    s"${r6(grSd)} AS sd",
    s"${r6(grG)} AS g_stat",
    s"""CASE WHEN (mx - $grMean) >= ($grMean - mn) THEN 'high'
       | ELSE 'low' END AS extreme_side""".stripMargin,
    s"""CASE WHEN (mx - $grMean) >= ($grMean - mn) THEN mx
       | ELSE mn END AS extreme_value""".stripMargin)

  private[graft] def grubbsOn(orders: DataFrame): DataFrame =
    perPriority(orders, grAggs, grOut)

  private def grubbs(s: SparkSession, dir: String): DataFrame =
    grubbsOn(load(s, dir, "orders"))

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_jarque_bera" -> (jarqueBera _),
    "agg_grubbs_test" -> (grubbs _)
  )

  val oracle: Map[String, String] = Map(
    "agg_jarque_bera" -> perPrioritySql(jbAggs, jbOut),
    "agg_grubbs_test" -> perPrioritySql(grAggs, grOut)
  )
}
