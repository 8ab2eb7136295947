package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.77 (round-25 batch 10) — 2×2 association:
  *
  *  - [[oddsRatio]]: the 2×2 odds ratio between urgent priority and
  *    high-value orders (> $250k), with the Woolf log-interval 95%
  *    CI. `agg_chi_square` tests independence; the odds ratio is
  *    the EFFECT measure a 2×2 analysis reports, with a CI instead
  *    of a p-verdict.
  *
  * Scale shape: ONE 4-cell conditional aggregate.
  *
  * Determinism: cell counts a,b,c,d are exact BIGINTs and the
  * a·d / b·c products widen to DECIMAL before multiplying; the Woolf
  * interval assembles once from shared formula text; surfaced values
  * floor-6, the CI verdict compares floored bounds.
  */
object Composite61 {

  // ---- agg_odds_ratio ---------------------------------------------------------
  // $250k — near the grand median. Shared with agg_mantel_haenszel
  // (Composite72): the stratified MH row pools the SAME 2×2 so crude
  // vs adjusted is a like-for-like confounding read.
  private[graft] val OrThresholdCents = 25000000L

  // nullif on the RATIO too: with an empty a or d cell the ratio is
  // 0 and ln(0) DIVERGES across engines (Spark → NULL, DuckDB →
  // -inf) — the guard makes both NULL identically.
  private val orLn =
    """ln(nullif((CAST(a AS DOUBLE)*d) / nullif(CAST(b AS DOUBLE)*c, 0), 0))"""
  // every reciprocal nullif-guarded: an empty cell must yield NULL,
  // not a divide-by-zero (Spark ANSI throws; DuckDB returns inf)
  private val orSe =
    """sqrt(1/nullif(CAST(a AS DOUBLE), 0) + 1/nullif(CAST(b AS DOUBLE), 0)
      | + 1/nullif(CAST(c AS DOUBLE), 0)
      | + 1/nullif(CAST(d AS DOUBLE), 0))""".stripMargin
  private val orF =
    s"floor((exp($orLn))*1e6 + 0.5)/1e6"
  private val orLoF = s"floor((exp($orLn - 1.959964*$orSe))*1e6 + 0.5)/1e6"
  private val orHiF = s"floor((exp($orLn + 1.959964*$orSe))*1e6 + 0.5)/1e6"

  private[graft] def oddsRatioOn(orders: DataFrame): DataFrame = {
    val urgent = col("o_orderpriority") === "1-URGENT"
    val high = (money(col("o_totalprice")) * 100).cast("bigint") >
      OrThresholdCents
    orders.groupBy()
      .agg(sum(when(urgent && high, 1L).otherwise(0L)).as("a"),
        sum(when(urgent && !high, 1L).otherwise(0L)).as("b"),
        sum(when(!urgent && high, 1L).otherwise(0L)).as("c"),
        sum(when(!urgent && !high, 1L).otherwise(0L)).as("d"))
      .selectExpr("a AS n_urgent_high", "b AS n_urgent_low",
        "c AS n_other_high", "d AS n_other_low",
        s"$orF AS odds_ratio",
        s"$orLoF AS ci_lo_95",
        s"$orHiF AS ci_hi_95",
        s"($orLoF > 1.0 OR $orHiF < 1.0) AS association_5pct")
  }

  private def oddsRatio(s: SparkSession, dir: String): DataFrame =
    oddsRatioOn(load(s, dir, "orders"))

  private val oddsRatioOracle =
    s"""WITH g AS (
       |  SELECT
       |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
       |      AND CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
       |      AND NOT (CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents) THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
       |      AND CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
       |      AND NOT (CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents) THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM orders)
       |SELECT a AS n_urgent_high, b AS n_urgent_low,
       |  c AS n_other_high, d AS n_other_low,
       |  $orF AS odds_ratio,
       |  $orLoF AS ci_lo_95,
       |  $orHiF AS ci_hi_95,
       |  ($orLoF > 1.0 OR $orHiF < 1.0) AS association_5pct
       |FROM g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_odds_ratio" -> (oddsRatio _)
  )

  val oracle: Map[String, String] = Map(
    "agg_odds_ratio" -> oddsRatioOracle
  )
}
