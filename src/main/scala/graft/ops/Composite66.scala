package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.82 (round-26 batch 4) — k-treatment paired binary
  * outcomes:
  *
  *  - [[cochranQ]]: Cochran's Q on the paired binary "year spend >
  *    $300k" flag across 1995/1996/1997 — the k-treatment
  *    generalization of `agg_mcnemar_test` (k = 2) and the binary
  *    corner of `agg_friedman_test`'s k-treatment block design:
  *    blocks are customers ordering in ALL three years,
  *    Q = k(k−1)·Σ(C_j − T/k)² / (k·T − ΣR_i²) against χ²₂ 5% =
  *    5.991465.
  *
  * Scale shape: one (customer, year) spend aggregate → a
  * 7-conditional-column per-customer pivot (complete blocks filtered
  * by exact presence counts) → ONE global 6-moment aggregate.
  *
  * Determinism: every Cochran input is an exact BIGINT (flags,
  * row/column sums, ΣR² — R ≤ 3 so the square stays tiny); Q
  * assembles once from shared text.
  */
object Composite66 {

  // ---- agg_cochran_q ------------------------------------------------------
  private val CqYears = Seq(1995, 1996, 1997)
  private val CqThresholdCents = 30000000L // $300k yearly spend

  private val cqPivot: Seq[String] =
    CqYears.map(y =>
      s"CAST(sum(CASE WHEN y = $y THEN 1 ELSE 0 END) AS BIGINT) AS k$y") ++
    CqYears.map(y =>
      s"CAST(sum(CASE WHEN y = $y AND s > $CqThresholdCents THEN 1 ELSE 0 END)" +
        s" AS BIGINT) AS x$y")
  private val cqComplete =
    CqYears.map(y => s"k$y = 1").mkString(" AND ")

  // Q for k = 3 in integer-friendly form:
  //   k(k−1)(ΣC² − T²/k) / (kT − ΣR²) = 2(3ΣC² − T²)/(3T − ΣR²).
  private val cqQ =
    """(2*(3*(CAST(c1 AS DOUBLE)*c1 + CAST(c2 AS DOUBLE)*c2
      |  + CAST(c3 AS DOUBLE)*c3) - CAST(t AS DOUBLE)*t)
      |  / nullif(3*CAST(t AS DOUBLE) - rr, 0))""".stripMargin
  private val cqQF = s"floor(($cqQ)*1e6 + 0.5)/1e6"
  private val cqFinal: Seq[String] = Seq(
    "n AS n_blocks", "c1 AS n_hi_1995", "c2 AS n_hi_1996",
    "c3 AS n_hi_1997",
    s"$cqQF AS q_stat",
    s"($cqQF > 5.991465) AS reject_equal_proportions_5pct")

  private[graft] def cochranQOn(orders: DataFrame): DataFrame = {
    val cy = orders
      .select(col("o_custkey").as("c"),
        year(to_date(col("o_orderdate"))).as("y"),
        (money(col("o_totalprice")) * 100).cast("bigint").as("v"))
      .filter(col("y").isin(CqYears: _*))
      .groupBy(col("c"), col("y"))
      .agg(sum(col("v")).as("s"))
    cy.groupBy(col("c"))
      .agg(cqPivot.map(expr).head, cqPivot.map(expr).tail: _*)
      .filter(expr(cqComplete))
      .selectExpr("x1995", "x1996", "x1997",
        "x1995 + x1996 + x1997 AS r")
      .groupBy()
      .agg(count(lit(1)).as("n"),
        sum(col("x1995")).as("c1"), sum(col("x1996")).as("c2"),
        sum(col("x1997")).as("c3"),
        sum(col("r")).as("t"), sum(col("r") * col("r")).as("rr"))
      .selectExpr(cqFinal: _*)
  }

  private def cochranQ(s: SparkSession, dir: String): DataFrame =
    cochranQOn(load(s, dir, "orders"))

  private val cochranQOracle =
    s"""WITH cy AS (
       |  SELECT o_custkey AS c, year(CAST(o_orderdate AS DATE)) AS y,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS BIGINT) AS s
       |  FROM orders
       |  WHERE year(CAST(o_orderdate AS DATE)) IN (${CqYears.mkString(", ")})
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT c,
       |    ${cqPivot.mkString(",\n    ")}
       |  FROM cy GROUP BY 1),
       |b AS (
       |  SELECT x1995, x1996, x1997, x1995 + x1996 + x1997 AS r
       |  FROM p WHERE $cqComplete),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x1995) AS BIGINT) AS c1,
       |    CAST(sum(x1996) AS BIGINT) AS c2,
       |    CAST(sum(x1997) AS BIGINT) AS c3,
       |    CAST(sum(r) AS BIGINT) AS t, CAST(sum(r*r) AS BIGINT) AS rr
       |  FROM b)
       |SELECT ${cqFinal.mkString(",\n  ")}
       |FROM g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_cochran_q" -> (cochranQ _)
  )

  val oracle: Map[String, String] = Map(
    "agg_cochran_q" -> cochranQOracle
  )
}
