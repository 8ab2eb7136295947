package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.64 (round-24 batch 6) — floor-trader levels:
  *
  *  - [[pivotPoints]]: classic floor-trader pivot levels (P, R1/S1,
  *    R2/S2) for each day from the PREVIOUS day's candle — the
  *    level-projection convention: yesterday's range sets today's
  *    support/resistance grid.
  *
  * Scale shape: pivot points reuse the ATR candle (one date
  * aggregate, global |days| window).
  *
  * Determinism: pivot levels are exact-cents integers pushed through
  * one double assembly each.
  */
object Composite48 {

  // ---- win_pivot_points ------------------------------------------------
  private def level(expr0: String, alias: String): String =
    s"floor((($expr0)/100*1e6) + 0.5)/1e6 AS $alias"

  private[graft] def pivotPointsOn(orders: DataFrame): DataFrame = {
    val cents = (money(col("o_totalprice")) * 100).cast("bigint")
    val daily = orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(max(cents).as("hi"), min(cents).as("lo"),
        max_by(cents, col("o_orderkey")).as("cl"))
    val w = Window.orderBy("d")
    daily
      .select(col("d"), lag(col("hi"), 1).over(w).as("ph"),
        lag(col("lo"), 1).over(w).as("pl"), lag(col("cl"), 1).over(w).as("pc"))
      .filter(col("ph").isNotNull)
      .selectExpr("d",
        level("CAST(ph + pl + pc AS DOUBLE)/3", "pivot"),
        level("2*CAST(ph + pl + pc AS DOUBLE)/3 - pl", "r1"),
        level("2*CAST(ph + pl + pc AS DOUBLE)/3 - ph", "s1"),
        level("CAST(ph + pl + pc AS DOUBLE)/3 + (ph - pl)", "r2"),
        level("CAST(ph + pl + pc AS DOUBLE)/3 - (ph - pl)", "s2"))
      .orderBy("d")
  }

  private def pivotPoints(s: SparkSession, dir: String): DataFrame =
    pivotPointsOn(load(s, dir, "orders"))

  private val pivotPointsOracle = {
    def lv(e: String, a: String) =
      s"floor((($e)/100*1e6) + 0.5)/1e6 AS $a"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    max(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS hi,
       |    min(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS lo,
       |    max_by(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT),
       |      o_orderkey) AS cl
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT d, lag(hi, 1) OVER (ORDER BY d) AS ph,
       |    lag(lo, 1) OVER (ORDER BY d) AS pl,
       |    lag(cl, 1) OVER (ORDER BY d) AS pc
       |  FROM daily)
       |SELECT d,
       |  ${lv("CAST(ph + pl + pc AS DOUBLE)/3", "pivot")},
       |  ${lv("2*CAST(ph + pl + pc AS DOUBLE)/3 - pl", "r1")},
       |  ${lv("2*CAST(ph + pl + pc AS DOUBLE)/3 - ph", "s1")},
       |  ${lv("CAST(ph + pl + pc AS DOUBLE)/3 + (ph - pl)", "r2")},
       |  ${lv("CAST(ph + pl + pc AS DOUBLE)/3 - (ph - pl)", "s2")}
       |FROM lagged WHERE ph IS NOT NULL ORDER BY d""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_pivot_points" -> (pivotPoints _)
  )

  val oracle: Map[String, String] = Map(
    "win_pivot_points" -> pivotPointsOracle
  )
}
