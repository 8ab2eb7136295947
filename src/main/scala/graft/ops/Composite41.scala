package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.57 (round-23 batch 6) — digit forensics. (The
  * batch's underwater-spell duration is in [[timeseries.Indicators]].)
  *
  *  - [[lastDigitUniformity]]: last-digit uniformity screen per
  *    return flag — χ² of the cents last digit against uniform.
  *    `agg_benford` tests LEADING digits (scale-spanning naturals);
  *    trailing digits of honest money data should be UNIFORM, and
  *    humans fabricating numbers round them — the forensic
  *    complement.
  *
  * Scale shape: the digit screen is one map-side hash aggregate to a
  * 30-row (flag, digit) relation.
  *
  * Determinism: the χ² numerator 10·Σo² − n² stays integral
  * (≤ ~10¹³ at sf0.1), one double division floor-6-dp (§1.5).
  */
object Composite41 {

  // ---- dq_last_digit_uniformity ----------------------------------------
  // χ² against uniform over the 10 last digits of exact cents:
  // Σ(o − n/10)²/(n/10) = (10·Σo² − n²)/n — integral numerator.
  // Top digit tie-breaks toward the smaller digit.
  private[graft] def lastDigitUniformityOn(li: DataFrame): DataFrame = {
    val digits = li
      .select(col("l_returnflag"),
        ((money(col("l_extendedprice")) * 100).cast("long") % 10)
          .as("digit"))
      .groupBy(col("l_returnflag"), col("digit"))
      .agg(count(lit(1)).as("cnt"))
    val top = digits.withColumn("rk", row_number().over(
        Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("digit"))))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("digit").as("top_digit"),
        col("cnt").as("top_digit_count"))
    digits.groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(col("cnt") * col("cnt")).as("q"))
      .join(top, "l_returnflag")
      .selectExpr("l_returnflag", "n_rows", "top_digit", "top_digit_count",
        """floor(((10*CAST(q AS DOUBLE) - CAST(n_rows AS DOUBLE)*n_rows)
          | / n_rows)*1e6 + 0.5)/1e6 AS chi2_uniform""".stripMargin)
      .orderBy("l_returnflag")
  }

  private def lastDigitUniformity(s: SparkSession, dir: String): DataFrame =
    lastDigitUniformityOn(load(s, dir, "lineitem"))

  private val lastDigitUniformityOracle =
    """WITH digits AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(15,2))*100 AS BIGINT) % 10
      |      AS digit,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |top AS (
      |  SELECT l_returnflag, digit AS top_digit, cnt AS top_digit_count
      |  FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY cnt DESC, digit) AS rk FROM digits)
      |  WHERE rk = 1),
      |g AS (
      |  SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    CAST(sum(cnt*cnt) AS BIGINT) AS q
      |  FROM digits GROUP BY 1)
      |SELECT l_returnflag, n_rows, top_digit, top_digit_count,
      |  floor(((10*CAST(q AS DOUBLE) - CAST(n_rows AS DOUBLE)*n_rows)
      |   / n_rows)*1e6 + 0.5)/1e6 AS chi2_uniform
      |FROM g JOIN top USING (l_returnflag) ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_last_digit_uniformity" -> (lastDigitUniformity _)
  )

  val oracle: Map[String, String] = Map(
    "dq_last_digit_uniformity" -> lastDigitUniformityOracle
  )
}
