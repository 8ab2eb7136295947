package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.ops.stats.Samples.{StatAgg, countAgg, sumAgg}

/** SURVEY.md §2.17 — statistical-profile operators: ntile/equi-width
  * bucketing, higher central moments (skewness/kurtosis), and simple
  * linear regression (slope/intercept/corr/r²).
  *
  * Float-determinism design: Spark's and DuckDB's built-in
  * `skewness`/`kurtosis`/`corr`/`regr_*` disagree in BOTH formula
  * (sample vs population corrections) and accumulation order
  * (streaming co-moments are partition-order-dependent). So these
  * operators compute the raw power/cross sums in EXACT decimal — the
  * same rule the money aggregates follow (SURVEY §1.5) — and assemble
  * the statistic in one pinned double expression whose formula string
  * is shared verbatim between the Spark plan and the DuckDB oracle.
  * Map-side partial aggregation still applies (decimal sums are
  * associative), so each is a single one-shuffle hash aggregate that
  * scales like any sum.
  *
  * Decimal bounds (corpus-verified): l_quantity ∈ [1,50] integral →
  * q⁴ ≤ 6.25e6 fits DECIMAL(20,8); l_extendedprice < 1.1e5 →
  * price² < 1.3e10 fits DECIMAL(25,4); 600k-row sums stay far inside
  * DECIMAL(38,_) on both engines.
  */
object Composite3 {

  // ---- shared exact-sum snippets -----------------------------------
  private[graft] val xd = "CAST(l_quantity AS DECIMAL(12,2))"
  private[graft] val x2 = s"CAST($xd * $xd AS DECIMAL(12,4))"
  private val x3 = s"CAST($x2 * $xd AS DECIMAL(16,6))"
  private val x4 = s"CAST($x2 * $x2 AS DECIMAL(20,8))"
  private[graft] val yd = "CAST(l_extendedprice AS DECIMAL(15,2))"

  // ---- win_ntile ----------------------------------------------------
  // Quartile assignment within each market segment (ntile) next to a
  // fixed equi-width balance bucket: the windowed and windowless ways
  // to histogram a column. One window shuffle on c_mktsegment; the
  // bucket is a pure projection (width_bucket spelled as pinned
  // arithmetic — DuckDB has no width_bucket).
  private val bucketFormula =
    "CAST(least(greatest(floor((c_acctbal + 1000.0) / 500.0), 0.0), 21.0) AS INT)"

  private def winNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        expr(bucketFormula).as("bucket"))
      .orderBy("c_custkey")
  }

  // ---- agg_higher_moments ------------------------------------------
  // Population skewness and excess kurtosis per return flag, from the
  // exact power sums S1..S4. Every double op below (/,*,-,sqrt) is
  // IEEE-correctly-rounded, so identical formula text ⇒ identical
  // bits; the 6-dp rounding is belt-and-braces.
  private val momentAggs = Seq(
    countAgg("n"),
    sumAgg(xd, "s1"),
    sumAgg(x2, "s2"),
    sumAgg(x3, "s3"),
    sumAgg(x4, "s4"))

  private val m2F = "(s2/n - (s1/n)*(s1/n))"
  private val skewF =
    s"round((s3/n - 3.0*(s1/n)*$m2F - (s1/n)*(s1/n)*(s1/n)) / ($m2F * sqrt($m2F)), 6)"
  private val kurtF =
    s"round((s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) " +
      s"- 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / ($m2F*$m2F) - 3.0, 6)"

  private val momentOut = Seq(
    "CAST(n AS BIGINT) AS n",
    "round(s1/n, 6) AS mean",
    s"round($m2F, 6) AS variance_pop",
    s"$skewF AS skewness",
    s"$kurtF AS kurtosis")

  private def higherMoments(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr(momentAggs.head.spark).as(momentAggs.head.alias),
        momentAggs.tail.map(a => expr(a.spark).as(a.alias)): _*)
      .selectExpr("l_returnflag" +: momentOut: _*)
      .orderBy("l_returnflag")

  // ---- agg_regression ----------------------------------------------
  // Ordinary least squares of extendedprice on quantity per return
  // flag: slope, intercept, Pearson corr, r² — the regr_* family —
  // from exact sums (n, Σx, Σy, Σxy, Σx², Σy²).
  private val regrAggs = Seq(
    countAgg("n"),
    sumAgg(xd, "sx"),
    sumAgg(yd, "sy"),
    sumAgg(s"CAST($xd * $yd AS DECIMAL(22,4))", "sxy"),
    sumAgg(x2, "sx2"),
    sumAgg(s"CAST($yd * $yd AS DECIMAL(25,4))", "sy2"))

  private val numF = "(n*sxy - sx*sy)"
  private val denXF = "(n*sx2 - sx*sx)"
  private val denYF = "(n*sy2 - sy*sy)"
  private val corrF = s"($numF / (sqrt($denXF) * sqrt($denYF)))"

  private val regrOut = Seq(
    "CAST(n AS BIGINT) AS n",
    s"round($numF / $denXF, 6) AS slope",
    s"round((sy - ($numF / $denXF)*sx) / n, 6) AS intercept",
    s"round($corrF, 6) AS corr_xy",
    s"round($corrF * $corrF, 6) AS r2")

  private def regression(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr(regrAggs.head.spark).as(regrAggs.head.alias),
        regrAggs.tail.map(a => expr(a.spark).as(a.alias)): _*)
      .selectExpr("l_returnflag" +: regrOut: _*)
      .orderBy("l_returnflag")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_ntile" -> (winNtile _),
    "agg_higher_moments" -> (higherMoments _),
    "agg_regression" -> (regression _)
  )

  private[graft] def statsOracle(aggs: Seq[StatAgg], out: Seq[String]) =
    s"""WITH s AS (SELECT l_returnflag,
       |  ${aggs.map(a => s"${a.oracle} AS ${a.alias}").mkString(",\n  ")}
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag,
       |  ${out.mkString(",\n  ")}
       |FROM s ORDER BY l_returnflag""".stripMargin

  val oracle: Map[String, String] = Map(
    "win_ntile" ->
      s"""SELECT c_custkey, c_mktsegment, c_acctbal,
         |  CAST(ntile(4) OVER (PARTITION BY c_mktsegment
         |    ORDER BY c_acctbal, c_custkey) AS INT) AS quartile,
         |  $bucketFormula AS bucket
         |FROM customer ORDER BY c_custkey""".stripMargin,
    "agg_higher_moments" -> statsOracle(momentAggs, momentOut),
    "agg_regression" -> statsOracle(regrAggs, regrOut)
  )
}
