package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.57 (round-23 batch 6) — underwater risk duration
  * and digit-forensics:
  *
  *  - [[drawdownDuration]]: underwater-spell duration per nation on
  *    the 7-day rolling-revenue level — longest run of days strictly
  *    below the running peak, spell count, underwater-day total.
  *    `win_drawdown` measures the DEPTH of the worst dip; this
  *    measures how LONG recoveries take (the two axes of drawdown
  *    risk).
  *
  *  - [[lastDigitUniformity]]: last-digit uniformity screen per
  *    return flag — χ² of the cents last digit against uniform.
  *    `agg_benford` tests LEADING digits (scale-spanning naturals);
  *    trailing digits of honest money data should be UNIFORM, and
  *    humans fabricating numbers round them — the forensic
  *    complement.
  *
  * Scale shapes: drawdown-duration windows and gap-islands run over
  * the |nation|×|days| aggregate (agg_weighted_median few-value-key
  * rule), never the order table; the digit screen is one map-side
  * hash aggregate to a 30-row (flag, digit) relation.
  *
  * Determinism: spell arithmetic is
  * exact-integer over exact-DECIMAL level comparisons; the χ²
  * numerator 10·Σo² − n² stays integral (≤ ~10¹³ at sf0.1), one
  * double division floor-6-dp (§1.5).
  */
object Composite41 {

  // ---- win_drawdown_duration -------------------------------------------
  // Underwater = level strictly below the running peak (exact
  // DECIMAL comparison). Spells via gap-islands: rn_all − rn_under
  // is constant within a consecutive underwater run.
  private[graft] def drawdownDurationOn(daily: DataFrame): DataFrame = {
    val w7 = Window.partitionBy("n_name").orderBy("d").rowsBetween(-6, 0)
    val wPeak = Window.partitionBy("n_name").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("n_name").orderBy("d")
    val flagged = daily
      .withColumn("level", sum(col("rev")).over(w7))
      .withColumn("peak", max(col("level")).over(wPeak))
      .withColumn("rn_all", row_number().over(wAll))
      .withColumn("under", col("level") < col("peak"))
    val spells = flagged.filter(col("under"))
      .withColumn("rn_u", row_number().over(wAll))
      .groupBy(col("n_name"), (col("rn_all") - col("rn_u")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_spells"),
        sum(col("len")).as("n_underwater_days"),
        max(col("len")).as("max_spell_days"))
    daily.groupBy(col("n_name")).agg(count(lit(1)).as("n_days"))
      .join(spells, Seq("n_name"), "left")
      .selectExpr("n_name", "n_days",
        "coalesce(n_underwater_days, CAST(0 AS BIGINT)) AS n_underwater_days",
        "coalesce(n_spells, CAST(0 AS BIGINT)) AS n_spells",
        "coalesce(max_spell_days, CAST(0 AS BIGINT)) AS max_spell_days")
      .orderBy("n_name")
  }

  private def drawdownDuration(s: SparkSession, dir: String): DataFrame =
    drawdownDurationOn(Composite10.nationDaily(s, dir).localCheckpoint())

  private val drawdownDurationOracle =
    s"""WITH daily AS (
       |  ${Composite10.nationDailySql}),
       |lvl AS (
       |  SELECT n_name, d,
       |    sum(rev) OVER (PARTITION BY n_name ORDER BY d
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS level
       |  FROM daily),
       |pk AS (
       |  SELECT n_name, d, level,
       |    max(level) OVER (PARTITION BY n_name ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
       |    row_number() OVER (PARTITION BY n_name ORDER BY d) AS rn_all
       |  FROM lvl),
       |und AS (
       |  SELECT n_name, rn_all,
       |    row_number() OVER (PARTITION BY n_name ORDER BY d) AS rn_u
       |  FROM pk WHERE level < peak),
       |isl AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS len
       |  FROM und GROUP BY n_name, rn_all - rn_u),
       |sp AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_spells,
       |    CAST(sum(len) AS BIGINT) AS n_underwater_days,
       |    CAST(max(len) AS BIGINT) AS max_spell_days
       |  FROM isl GROUP BY 1),
       |nd AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_days
       |       FROM daily GROUP BY 1)
       |SELECT n_name, n_days,
       |  coalesce(n_underwater_days, CAST(0 AS BIGINT)) AS n_underwater_days,
       |  coalesce(n_spells, CAST(0 AS BIGINT)) AS n_spells,
       |  coalesce(max_spell_days, CAST(0 AS BIGINT)) AS max_spell_days
       |FROM nd LEFT JOIN sp USING (n_name) ORDER BY n_name""".stripMargin

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
    "win_drawdown_duration" -> (drawdownDuration _),
    "dq_last_digit_uniformity" -> (lastDigitUniformity _)
  )

  val oracle: Map[String, String] = Map(
    "win_drawdown_duration" -> drawdownDurationOracle,
    "dq_last_digit_uniformity" -> lastDigitUniformityOracle
  )
}
