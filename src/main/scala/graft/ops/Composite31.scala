package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._
import graft.ops.stats.Samples.{countAgg, sumAgg}

/** SURVEY.md §2.47 (round-21 batch) — MULTIPLE regression
  * (agg_regression is single-feature).
  *
  * Scale shape: OLS is one map-side-combining aggregate of
  * exact-decimal cross sums.
  *
  * Determinism: OLS follows Composite3's exact-sum discipline (decimal sums,
  * VARCHAR-routed oracle casts per SURVEY §1.5 r7, one shared double
  * assembly, floor-form 6-dp rounding per §1.5 tri-SF rules).
  */
object Composite31 {

  // ---- agg_ols_multi -------------------------------------------------
  // Two-regressor OLS per return flag: extendedprice on (quantity,
  // discount) — normal equations solved closed-form by Cramer's rule
  // on the CENTERED cross-moment matrix. agg_regression's exact-sum
  // discipline (Composite3): all nine sums accumulate in exact
  // decimal (one single-shuffle hash aggregate, map-side partials
  // apply), the betas assemble ONCE in double from VARCHAR-routed
  // casts, identical formula text on both engines.
  //
  // Decimal bounds: discount ∈ {0.00..0.10} exact at 2dp;
  // qty·disc ≤ 5.0 and disc² ≤ 0.01 fit DECIMAL(12,4);
  // disc·price < 1.1e4 fits DECIMAL(22,4); the price² sum reuses
  // agg_regression's DECIMAL(25,4) bound.
  private val dd = "CAST(l_discount AS DECIMAL(12,2))"
  private val olsAggs = Seq(
    countAgg("n"),
    sumAgg(Composite3.xd, "sx1"),
    sumAgg(dd, "sx2"),
    sumAgg(Composite3.yd, "sy"),
    sumAgg(Composite3.x2, "s11"),
    sumAgg(s"CAST($dd * $dd AS DECIMAL(12,4))", "s22"),
    sumAgg(s"CAST(${Composite3.xd} * $dd AS DECIMAL(12,4))", "s12"),
    sumAgg(s"CAST(${Composite3.xd} * ${Composite3.yd} AS DECIMAL(22,4))", "s1y"),
    sumAgg(s"CAST($dd * ${Composite3.yd} AS DECIMAL(22,4))", "s2y"),
    sumAgg(s"CAST(${Composite3.yd} * ${Composite3.yd} AS DECIMAL(25,4))", "syy"))

  // floor-form 6-dp rounding (SURVEY §1.5 tri-SF rule a): round()
  // itself diverges at .5-boundary ulps; floor(v*1e6 + 0.5)/1e6
  // evaluates identically on identical doubles in both engines.
  private def r6(e: String) = s"floor(($e)*1e6 + 0.5)/1e6"

  private val a11F = "(n*s11 - sx1*sx1)"
  private val a12F = "(n*s12 - sx1*sx2)"
  private val a22F = "(n*s22 - sx2*sx2)"
  private val b1F = "(n*s1y - sx1*sy)"
  private val b2F = "(n*s2y - sx2*sy)"
  private val detF = s"($a11F*$a22F - $a12F*$a12F)"
  private val beta1F = s"(($a22F*$b1F - $a12F*$b2F) / $detF)"
  private val beta2F = s"(($a11F*$b2F - $a12F*$b1F) / $detF)"

  private val olsOut = Seq(
    "CAST(n AS BIGINT) AS n",
    s"${r6(beta1F)} AS beta_qty",
    s"${r6(beta2F)} AS beta_disc",
    s"${r6(s"(sy - $beta1F*sx1 - $beta2F*sx2) / n")} AS intercept",
    s"${r6(s"($beta1F*$b1F + $beta2F*$b2F) / (n*syy - sy*sy)")} AS r2")

  private def olsMulti(s: SparkSession, dir: String): DataFrame =
    olsMultiOn(load(s, dir, "lineitem"))

  /** The OLS aggregate over any relation carrying lineitem's column
    * names. Factored for the planted exact-fit spec. */
  private[graft] def olsMultiOn(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(expr(olsAggs.head.spark).as(olsAggs.head.alias),
        olsAggs.tail.map(a => expr(a.spark).as(a.alias)): _*)
      .selectExpr("l_returnflag" +: olsOut: _*)
      .orderBy("l_returnflag")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_ols_multi" -> (olsMulti _)
  )

  val oracle: Map[String, String] = Map(
    "agg_ols_multi" -> Composite3.statsOracle(olsAggs, olsOut)
  )
}
