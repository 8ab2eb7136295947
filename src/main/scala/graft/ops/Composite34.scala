package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.50 (round-22 batch 2) — resampled uncertainty and
  * community-quality evaluation:
  *
  *  - [[poissonBootstrap]]: deterministic Poisson(1) bootstrap of the
  *    mean — the large-scale resampling scheme (each row enters
  *    replicate b with multiplicity ~Poisson(1)) that gives
  *    uncertainty bands in ONE pass where classical resampling would
  *    shuffle the corpus B times. Weights come from md5 bytes
  *    thresholded at the exact 256-scaled Poisson(1) CDF, so both
  *    engines draw identical "randomness".
  *
  *  - [[modularity]]: modularity decomposition of a community
  *    assignment over the co-purchase graph — the evaluation number
  *    behind every community-detection decision (graph_label_prop
  *    PRODUCES communities; nothing scored one until now). Q's
  *    per-community contributions e_c/m − (a_c/2m)² from exact
  *    edge/degree counts.
  *
  * Scale shapes: the bootstrap's 32× row expansion is map-local
  * (Generate feeds the partial aggregate inside one stage — the
  * shuffle carries only 32 partials per map task); modularity is two
  * node/edge-keyed aggregates plus a 1-row edge-total broadcast (the
  * pagerank `nn` discipline).
  *
  * Determinism: bootstrap weights are exact integers (weighted sums
  * ride the cents discipline); modularity counts are exact; every
  * surfaced ratio assembles once in double from identical formula
  * text with floor-form 6-dp rounding (§1.5).
  */
object Composite34 {

  // ---- agg_poisson_bootstrap -------------------------------------------
  // B = 32 bootstrap replicates of mean(l_extendedprice): row r
  // enters replicate b with weight w(r, b) drawn from the first md5
  // byte of ('boot' b '_' orderkey '_' linenumber) thresholded at the
  // 256-scaled Poisson(1) CDF (e⁻¹·256 ≈ 94.17 → exact integer cuts
  // 94/188/235/251; weights 0-4). Duplicate (orderkey, linenumber)
  // rows share weights — a documented property of hash resampling,
  // not a defect. Weighted sums accumulate in exact cents.
  private val B = 32

  private[graft] def poissonBootstrapOn(li: DataFrame): DataFrame =
    li.select(
        (money(col("l_extendedprice")) * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("b", explode(sequence(lit(0), lit(B - 1))))
      .select(col("b"), col("cents"),
        expr("""CAST(conv(substring(md5(concat('boot', CAST(b AS STRING),
          '_', CAST(l_orderkey AS STRING),
          '_', CAST(l_linenumber AS STRING))), 1, 2), 16, 10) AS BIGINT)""")
          .as("h"))
      .select(col("b"), col("cents"),
        when(col("h") < 94, 0L).when(col("h") < 188, 1L)
          .when(col("h") < 235, 2L).when(col("h") < 251, 3L)
          .otherwise(4L).as("w"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_drawn"),
        sum(col("w") * col("cents")).as("sc"))
      .selectExpr("b", "n_drawn",
        "floor((CAST(sc AS DOUBLE) / 100 / n_drawn)*1e6 + 0.5)/1e6 AS mean_price")
      .orderBy("b")

  private def poissonBootstrap(s: SparkSession, dir: String): DataFrame =
    poissonBootstrapOn(load(s, dir, "lineitem"))

  private val poissonBootstrapOracle =
    s"""WITH x AS (
       |  SELECT b.b, CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100
       |      AS BIGINT) AS cents,
       |    CAST('0x' || substr(md5('boot' || CAST(b.b AS VARCHAR)
       |      || '_' || CAST(l_orderkey AS VARCHAR)
       |      || '_' || CAST(l_linenumber AS VARCHAR)), 1, 2) AS BIGINT) AS h
       |  FROM lineitem CROSS JOIN (SELECT unnest(range(0, $B)) AS b) b),
       |wt AS (
       |  SELECT b, cents,
       |    CASE WHEN h < 94 THEN 0 WHEN h < 188 THEN 1 WHEN h < 235 THEN 2
       |      WHEN h < 251 THEN 3 ELSE 4 END AS w
       |  FROM x),
       |a AS (
       |  SELECT b, CAST(sum(w) AS BIGINT) AS n_drawn,
       |    CAST(sum(w * cents) AS BIGINT) AS sc
       |  FROM wt GROUP BY b)
       |SELECT CAST(b AS INT) AS b, n_drawn,
       |  floor((CAST(sc AS DOUBLE) / 100 / n_drawn)*1e6 + 0.5)/1e6 AS mean_price
       |FROM a ORDER BY b""".stripMargin

  // ---- graph_modularity ------------------------------------------------
  // Modularity decomposition of the deterministic community
  // assignment c(n) = n % 50 over the co-purchase graph: per
  // community, node count, within-community edge count e_c, degree
  // sum a_c, and the Q contribution e_c/m − (a_c/2m)². Σ contrib = Q
  // — the number that scores a partition (label_prop produces one;
  // this evaluates one). Half edges count each undirected edge once;
  // m is the 1-row undirected edge total broadcast in.
  private val Communities = 50

  private[graft] def modularityOn(half: DataFrame): DataFrame = {
    val m = half.agg(count(lit(1)).as("m"))
    val deg = half.select(col("src").as("n"))
      .unionAll(half.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val degC = deg.groupBy((col("n") % Communities).as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_sum"))
    val within = half
      .filter(col("src") % Communities === col("dst") % Communities)
      .groupBy((col("src") % Communities).as("community"))
      .agg(count(lit(1)).as("we"))
    degC.join(within, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("we"), lit(0L)).as("within_edges"), col("degree_sum"))
      .crossJoin(broadcast(m))
      .selectExpr("community", "n_nodes", "within_edges", "degree_sum",
        """floor((CAST(within_edges AS DOUBLE)/m
          | - (CAST(degree_sum AS DOUBLE)/(2*m))
          |   *(CAST(degree_sum AS DOUBLE)/(2*m)))*1e6 + 0.5)/1e6
          | AS q_contrib""".stripMargin)
      .orderBy("community")
  }

  private def modularity(s: SparkSession, dir: String): DataFrame =
    modularityOn(Composite4.coPurchaseHalfEdges(s, dir).localCheckpoint())

  private val modularityOracle =
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
       |    SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
       |  GROUP BY n),
       |degc AS (
       |  SELECT n % $Communities AS community,
       |    CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(dg) AS BIGINT) AS degree_sum
       |  FROM deg GROUP BY 1),
       |wi AS (
       |  SELECT src % $Communities AS community,
       |    CAST(count(*) AS BIGINT) AS we
       |  FROM e WHERE src % $Communities = dst % $Communities GROUP BY 1),
       |j AS (
       |  SELECT community, n_nodes,
       |    coalesce(we, CAST(0 AS BIGINT)) AS within_edges, degree_sum
       |  FROM degc LEFT JOIN wi USING (community))
       |SELECT community, n_nodes, within_edges, degree_sum,
       |  floor((CAST(within_edges AS DOUBLE)/m
       | - (CAST(degree_sum AS DOUBLE)/(2*m))
       |   *(CAST(degree_sum AS DOUBLE)/(2*m)))*1e6 + 0.5)/1e6
       | AS q_contrib
       |FROM j CROSS JOIN m ORDER BY community""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_poisson_bootstrap" -> (poissonBootstrap _),
    "graph_modularity" -> (modularity _)
  )

  val oracle: Map[String, String] = Map(
    "agg_poisson_bootstrap" -> poissonBootstrapOracle,
    "graph_modularity" -> modularityOracle
  )
}
