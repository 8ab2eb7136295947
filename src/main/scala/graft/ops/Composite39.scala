package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.55 (round-23 batch 4) — market concentration:
  *
  *  - [[concentrationRatio]]: CR4 concentration per supplier nation —
  *    the top-4 suppliers' share of the nation's lineitem revenue.
  *    `agg_hhi` sums squared shares (every firm weighs in); CR-k is
  *    the antitrust sibling that asks only how big the heads are.
  *
  * Scale shape: CR4 windows over the
  * (nation, supplier) REVENUE AGGREGATE, never the fact table (the
  * agg_weighted_median few-value-key rule — ~|suppliers| rows), with
  * the supplier dim joined small-side.
  *
  * Determinism: every sum/count is an exact integer (revenue in
  * exact cents); shares assemble once in double,
  * floor-form 6-dp (§1.5).
  */
object Composite39 {

  // ---- agg_concentration_ratio -----------------------------------------
  // Supplier revenue per nation in exact cents; rank by (revenue
  // desc, suppkey) over the SUPPLIER-LEVEL aggregate; CR4 = top-4
  // revenue / national revenue.
  private[graft] def concentrationRatioOn(li: DataFrame, supp: DataFrame): DataFrame = {
    val rev = li.select(col("l_suppkey").as("s_suppkey"),
        cents(col("l_extendedprice")).as("cents"))
      .join(supp.select(col("s_suppkey"), col("s_nationkey")), "s_suppkey")
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum(col("cents")).as("rev"))
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("rev").desc, col("s_suppkey"))
    rev.withColumn("rk", row_number().over(w))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev")).as("total_cents"),
        sum(when(col("rk") <= 4, col("rev")).otherwise(0L)).as("top4_cents"))
      .selectExpr("s_nationkey", "n_suppliers",
        "CAST(total_cents AS DOUBLE)/100 AS total_revenue",
        """floor((CAST(top4_cents AS DOUBLE)/total_cents)*1e6 + 0.5)/1e6
          | AS cr4""".stripMargin)
      .orderBy("s_nationkey")
  }

  private def concentrationRatio(s: SparkSession, dir: String): DataFrame =
    concentrationRatioOn(load(s, dir, "lineitem"), load(s, dir, "supplier"))

  private val concentrationRatioOracle =
    """WITH rev AS (
      |  SELECT s_nationkey, s_suppkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT s_nationkey, rev,
      |    row_number() OVER (PARTITION BY s_nationkey
      |      ORDER BY rev DESC, s_suppkey) AS rk
      |  FROM rev)
      |SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  CAST(sum(rev) AS DOUBLE)/100 AS total_revenue,
      |  floor((CAST(sum(CASE WHEN rk <= 4 THEN rev ELSE 0 END) AS DOUBLE)
      |   / sum(rev))*1e6 + 0.5)/1e6 AS cr4
      |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_concentration_ratio" -> (concentrationRatio _)
  )

  val oracle: Map[String, String] = Map(
    "agg_concentration_ratio" -> concentrationRatioOracle
  )
}
