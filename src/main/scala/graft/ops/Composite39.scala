package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.55 (round-23 batch 4) — degree correlation and market
  * concentration:
  *
  *  - [[avgNeighborDegree]]: the k_nn(k) degree-correlation curve —
  *    mean neighbor degree of degree-k nodes, per k.
  *    `graph_assortativity` compresses mixing into ONE Pearson r;
  *    this is the curve that says WHERE the mixing bends
  *    (assortative core, disassortative hubs).
  *
  *  - [[concentrationRatio]]: CR4 concentration per supplier nation —
  *    the top-4 suppliers' share of the nation's lineitem revenue.
  *    `agg_hhi` sums squared shares (every firm weighs in); CR-k is
  *    the antitrust sibling that asks only how big the heads are.
  *
  * Scale shapes: k_nn is two degree joins on the node-sized table
  * (AQE broadcasts; keyed shuffle unchanged past the threshold)
  * feeding one deg_src-keyed aggregate; CR4 windows over the
  * (nation, supplier) REVENUE AGGREGATE, never the fact table (the
  * agg_weighted_median few-value-key rule — ~|suppliers| rows), with
  * the supplier dim joined small-side.
  *
  * Determinism: every sum/count is an exact integer (revenue in
  * exact cents); k_nn and shares assemble once in double,
  * floor-form 6-dp (§1.5).
  */
object Composite39 {

  // ---- graph_avg_neighbor_degree ---------------------------------------
  // k_nn(k) = Σ_{sym edges u→v, deg(u)=k} deg(v) / (k·N_k); the
  // denominator is surfaced as the endpoint count (= k·N_k by
  // construction) so the ratio is one division of exact integers.
  private[graft] def avgNeighborDegreeOn(half: DataFrame): DataFrame =
    avgNeighborDegreeCore(half, TriCore.degOn(half).localCheckpoint())

  private[graft] def avgNeighborDegreeCore(half: DataFrame,
      deg: DataFrame): DataFrame = {
    val sym = half.unionAll(
      half.select(col("dst").as("src"), col("src").as("dst")))
    val nodeH = deg.groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_nodes"))
    sym
      .join(deg.select(col("n").as("src"), col("deg").as("k")), "src")
      .join(deg.select(col("n").as("dst"), col("deg").as("nbr_deg")), "dst")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_endpoints"),
        sum(col("nbr_deg")).as("sum_nbr_deg"))
      .join(nodeH, "k")
      .selectExpr("k", "n_nodes", "n_endpoints", "sum_nbr_deg",
        """floor((CAST(sum_nbr_deg AS DOUBLE)/n_endpoints)*1e6 + 0.5)/1e6
          | AS knn""".stripMargin)
      .orderBy("k")
  }

  private def avgNeighborDegree(s: SparkSession, dir: String): DataFrame =
    // r18: half edges + degrees from the shared DiskMemo parquet views
    avgNeighborDegreeCore(Composite4.coPurchaseHalfEdges(s, dir),
      TriCore.sharedDeg(s, dir))

  private val avgNeighborDegreeOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |h AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (
      |  SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
      |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
      |        FROM e GROUP BY 1),
      |nh AS (SELECT deg AS k, CAST(count(*) AS BIGINT) AS n_nodes
      |       FROM deg GROUP BY 1),
      |agg AS (
      |  SELECT ds.deg AS k, CAST(count(*) AS BIGINT) AS n_endpoints,
      |    CAST(sum(dd.deg) AS BIGINT) AS sum_nbr_deg
      |  FROM e JOIN deg ds ON e.src = ds.n JOIN deg dd ON e.dst = dd.n
      |  GROUP BY 1)
      |SELECT k, n_nodes, n_endpoints, sum_nbr_deg,
      |  floor((CAST(sum_nbr_deg AS DOUBLE)/n_endpoints)*1e6 + 0.5)/1e6
      |   AS knn
      |FROM agg JOIN nh USING (k) ORDER BY k""".stripMargin

  // ---- agg_concentration_ratio -----------------------------------------
  // Supplier revenue per nation in exact cents; rank by (revenue
  // desc, suppkey) over the SUPPLIER-LEVEL aggregate; CR4 = top-4
  // revenue / national revenue.
  private[graft] def concentrationRatioOn(li: DataFrame, supp: DataFrame): DataFrame = {
    val rev = li.select(col("l_suppkey").as("s_suppkey"),
        (money(col("l_extendedprice")) * 100).cast("long").as("cents"))
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
    "graph_avg_neighbor_degree" -> (avgNeighborDegree _),
    "agg_concentration_ratio" -> (concentrationRatio _)
  )

  val oracle: Map[String, String] = Map(
    "graph_avg_neighbor_degree" -> avgNeighborDegreeOracle,
    "agg_concentration_ratio" -> concentrationRatioOracle
  )
}
