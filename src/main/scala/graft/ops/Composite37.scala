package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.53 (round-23 batch 2) — cross-table reconciliation:
  *
  *  - [[orderReconciliation]]: header-vs-facts money reconciliation —
  *    per order priority, does o_totalprice equal the order's
  *    Σ extendedprice·(1−discount)·(1+tax) recomputed from its
  *    lineitems? The summary-to-fact consistency check every
  *    warehouse runs after `dq_referential_integrity` says the keys
  *    line up (keys can match while the money does not).
  *
  * Scale shape: ONE orderkey-keyed join (both sides shuffle-keyed —
  * the agg_ship_delay fact⋈fact discipline) between two
  * map-side-combining aggregates.
  *
  * Determinism: the compare runs at scale 10⁴·cents so (1−d)(1+t)
  * never leaves the integers (terms ≤ ~10¹¹, sums ≤ ~10¹² — far
  * inside BIGINT).
  */
object Composite37 {

  // ---- dq_order_reconciliation -----------------------------------------
  // diff is measured at scale 10^4 · cents: header_scaled =
  // total_cents·10^4, line term = e_cents·(100−d_h)·(100+t_h). A
  // one-cent tolerance is diff ≤ 10^4. Orders with no lineitems are
  // counted apart (their diff is undefined, not zero).
  private[graft] def orderReconciliationOn(orders: DataFrame, li: DataFrame): DataFrame = {
    val lineSums = li.select(col("l_orderkey").as("o_orderkey"),
        ((money(col("l_extendedprice")) * 100).cast("long")
          * (lit(100L) - (money(col("l_discount")) * 100).cast("long"))
          * (lit(100L) + (money(col("l_tax")) * 100).cast("long"))).as("term"))
      .groupBy(col("o_orderkey")).agg(sum(col("term")).as("line_scaled"))
    val diff = abs(col("header_scaled") - col("line_scaled"))
    orders.select(col("o_orderkey"), col("o_orderpriority"),
        ((money(col("o_totalprice")) * 100).cast("long") * lit(10000L))
          .as("header_scaled"))
      .join(lineSums, Seq("o_orderkey"), "left")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("line_scaled").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(diff === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(diff > 0 && diff <= 10000, 1L).otherwise(0L)).as("n_within_cent"),
        sum(when(diff > 10000, 1L).otherwise(0L)).as("n_above_cent"),
        max(floor(diff / 10000).cast("long")).as("max_diff_cents"))
      .orderBy("o_orderpriority")
  }

  private def orderReconciliation(s: SparkSession, dir: String): DataFrame =
    orderReconciliationOn(load(s, dir, "orders"), load(s, dir, "lineitem"))

  private val orderReconciliationOracle =
    """WITH ls AS (
      |  SELECT l_orderkey AS o_orderkey,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))*100 AS BIGINT)
      |      * (100 - CAST(CAST(l_discount AS DECIMAL(15,2))*100 AS BIGINT))
      |      * (100 + CAST(CAST(l_tax AS DECIMAL(15,2))*100 AS BIGINT)))
      |      AS line_scaled
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) * 10000
      |      AS header_scaled,
      |    CAST(line_scaled AS BIGINT) AS line_scaled
      |  FROM orders LEFT JOIN ls USING (o_orderkey))
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN line_scaled IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_no_lines,
      |  CAST(sum(CASE WHEN abs(header_scaled - line_scaled) = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN abs(header_scaled - line_scaled) > 0
      |    AND abs(header_scaled - line_scaled) <= 10000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_cent,
      |  CAST(sum(CASE WHEN abs(header_scaled - line_scaled) > 10000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above_cent,
      |  CAST(max(abs(header_scaled - line_scaled) // 10000) AS BIGINT)
      |    AS max_diff_cents
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_order_reconciliation" -> (orderReconciliation _)
  )

  val oracle: Map[String, String] = Map(
    "dq_order_reconciliation" -> orderReconciliationOracle
  )
}
