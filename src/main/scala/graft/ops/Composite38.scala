package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.54 (round-23 batch 3) — aggregation bias and process
  * capability:
  *
  *  - [[simpsonParadox]]: Simpson's-paradox audit — does the pooled
  *    deep-discount-rate comparison between line statuses agree with
  *    the per-ship-year stratified comparisons? Direction tests are
  *    integer cross-products (rate_O > rate_F ⟺ deep_O·n_F >
  *    deep_F·n_O), so the reversal flags involve NO floating point
  *    at all — the aggregation-bias check behind every pooled-metric
  *    decision (`agg_mix_shift` decomposes the size of a change;
  *    this audits its SIGN).
  *
  *  - [[processCapability]]: SPC capability indices per return flag
  *    over quantity against the corpus spec limits [1, 50]:
  *    Cp = (USL−LSL)/6σ, Cpk = min(USL−μ, μ−LSL)/3σ — the
  *    manufacturing-analytics number `agg_stats`' raw σ does not
  *    give (how much of the tolerance band the process consumes).
  *
  * Scale shapes: Simpson is ONE conditional hash aggregate per
  * stratum + the 1-row pooled broadcast (pagerank `nn` discipline);
  * capability is one map-side-combining aggregate of (n, Σq, Σq²).
  *
  * Determinism: Simpson never leaves the integers; capability's σ
  * assembles once from exact integer sums (n·ΣQ² − (ΣQ)² ≤ ~10¹⁵ at
  * sf0.1 — far inside BIGINT; a 10⁶× corpus would move the assembly
  * to DECIMAL(38) unchanged); quantities cast through DECIMAL(15,2)
  * to BIGINT (integral by construction); ratios floor-6-dp (§1.5).
  */
object Composite38 {

  // ---- agg_simpson_paradox ---------------------------------------------
  // Outcome: deep discount (d_h >= 5). Groups: l_linestatus O vs F.
  // Strata: year(l_shipdate). dir = +1 when rate_O > rate_F.
  private[graft] def simpsonParadoxOn(li: DataFrame): DataFrame = {
    val base = li.select(year(col("l_shipdate")).as("ship_year"),
      col("l_linestatus"),
      (cents(col("l_discount")) >= 5L).as("deep"))
    def dir(no: org.apache.spark.sql.Column, do_ : org.apache.spark.sql.Column,
        nf: org.apache.spark.sql.Column, df: org.apache.spark.sql.Column) =
      when(do_ * nf > df * no, 1L).when(do_ * nf < df * no, -1L).otherwise(0L)
    val strata = base.groupBy(col("ship_year"))
      .agg(sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("l_linestatus") === "O" && col("deep"), 1L)
          .otherwise(0L)).as("deep_o"),
        sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("l_linestatus") === "F" && col("deep"), 1L)
          .otherwise(0L)).as("deep_f"))
    val pooled = strata
      .agg(sum(col("n_o")).as("pn_o"), sum(col("deep_o")).as("pdeep_o"),
        sum(col("n_f")).as("pn_f"), sum(col("deep_f")).as("pdeep_f"))
      .select(dir(col("pn_o"), col("pdeep_o"), col("pn_f"), col("pdeep_f"))
        .as("pooled_dir"))
    strata.crossJoin(broadcast(pooled))
      .select(col("ship_year"), col("n_o"), col("deep_o"),
        col("n_f"), col("deep_f"),
        dir(col("n_o"), col("deep_o"), col("n_f"), col("deep_f"))
          .as("stratum_dir"),
        col("pooled_dir"))
      .withColumn("reversal",
        (col("stratum_dir") * col("pooled_dir") === -1L).cast("int"))
      .orderBy("ship_year")
  }

  private def simpsonParadox(s: SparkSession, dir: String): DataFrame =
    simpsonParadoxOn(load(s, dir, "lineitem"))

  private val simpsonParadoxOracle =
    """WITH base AS (
      |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, l_linestatus,
      |    CAST(CAST(l_discount AS DECIMAL(15,2))*100 AS BIGINT) >= 5
      |      AS deep
      |  FROM lineitem),
      |strata AS (
      |  SELECT ship_year,
      |    CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |    CAST(sum(CASE WHEN l_linestatus = 'O' AND deep THEN 1 ELSE 0 END) AS BIGINT) AS deep_o,
      |    CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |    CAST(sum(CASE WHEN l_linestatus = 'F' AND deep THEN 1 ELSE 0 END) AS BIGINT) AS deep_f
      |  FROM base GROUP BY 1),
      |pooled AS (
      |  SELECT CASE WHEN sum(deep_o)*sum(n_f) > sum(deep_f)*sum(n_o) THEN 1
      |              WHEN sum(deep_o)*sum(n_f) < sum(deep_f)*sum(n_o) THEN -1
      |              ELSE 0 END AS pooled_dir
      |  FROM strata)
      |SELECT ship_year, n_o, deep_o, n_f, deep_f,
      |  CAST(CASE WHEN deep_o*n_f > deep_f*n_o THEN 1
      |            WHEN deep_o*n_f < deep_f*n_o THEN -1
      |            ELSE 0 END AS BIGINT) AS stratum_dir,
      |  CAST(pooled_dir AS BIGINT) AS pooled_dir,
      |  CAST(CASE WHEN (CASE WHEN deep_o*n_f > deep_f*n_o THEN 1
      |                       WHEN deep_o*n_f < deep_f*n_o THEN -1
      |                       ELSE 0 END) * pooled_dir = -1
      |    THEN 1 ELSE 0 END AS INT) AS reversal
      |FROM strata CROSS JOIN pooled ORDER BY ship_year""".stripMargin

  // ---- agg_process_capability ------------------------------------------
  // Spec limits for quantity: LSL = 1, USL = 50 (the corpus domain).
  // Sample variance from exact integer sums: s² = (n·ΣQ² − (ΣQ)²)
  // / (n·(n−1)); every double is assembled in ONE expression.
  private val Lsl = 1L
  private val Usl = 50L

  private[graft] def processCapabilityOn(li: DataFrame): DataFrame =
    li.select(col("l_returnflag"),
        money(col("l_quantity")).cast("long").as("q"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"))
      .selectExpr("l_returnflag", "n",
        "floor((CAST(s1 AS DOUBLE)/n)*1e6 + 0.5)/1e6 AS mean_qty",
        """floor(sqrt((CAST(n AS DOUBLE)*s2 - CAST(s1 AS DOUBLE)*s1)
          | / (CAST(n AS DOUBLE)*(n - 1)))*1e6 + 0.5)/1e6 AS stddev_qty""".stripMargin,
        s"""floor((($Usl.0 - $Lsl.0)
           | / (6 * sqrt((CAST(n AS DOUBLE)*s2 - CAST(s1 AS DOUBLE)*s1)
           |   / (CAST(n AS DOUBLE)*(n - 1)))))*1e6 + 0.5)/1e6 AS cp""".stripMargin,
        s"""floor(((CASE WHEN $Usl.0 - CAST(s1 AS DOUBLE)/n
           |        <= CAST(s1 AS DOUBLE)/n - $Lsl.0
           |   THEN $Usl.0 - CAST(s1 AS DOUBLE)/n
           |   ELSE CAST(s1 AS DOUBLE)/n - $Lsl.0 END)
           | / (3 * sqrt((CAST(n AS DOUBLE)*s2 - CAST(s1 AS DOUBLE)*s1)
           |   / (CAST(n AS DOUBLE)*(n - 1)))))*1e6 + 0.5)/1e6 AS cpk""".stripMargin)
      .orderBy("l_returnflag")

  private def processCapability(s: SparkSession, dir: String): DataFrame =
    processCapabilityOn(load(s, dir, "lineitem"))

  private val processCapabilityOracle =
    s"""WITH g AS (
       |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(15,2)) AS BIGINT)) AS BIGINT) AS s1,
       |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(15,2)) AS BIGINT)
       |           * CAST(CAST(l_quantity AS DECIMAL(15,2)) AS BIGINT)) AS BIGINT) AS s2
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |  floor((CAST(s1 AS DOUBLE)/n)*1e6 + 0.5)/1e6 AS mean_qty,
       |  floor(sqrt((CAST(n AS DOUBLE)*s2 - CAST(s1 AS DOUBLE)*s1)
       |   / (CAST(n AS DOUBLE)*(n - 1)))*1e6 + 0.5)/1e6 AS stddev_qty,
       |  floor((($Usl.0 - $Lsl.0)
       |   / (6 * sqrt((CAST(n AS DOUBLE)*s2 - CAST(s1 AS DOUBLE)*s1)
       |     / (CAST(n AS DOUBLE)*(n - 1)))))*1e6 + 0.5)/1e6 AS cp,
       |  floor(((CASE WHEN $Usl.0 - CAST(s1 AS DOUBLE)/n
       |          <= CAST(s1 AS DOUBLE)/n - $Lsl.0
       |     THEN $Usl.0 - CAST(s1 AS DOUBLE)/n
       |     ELSE CAST(s1 AS DOUBLE)/n - $Lsl.0 END)
       |   / (3 * sqrt((CAST(n AS DOUBLE)*s2 - CAST(s1 AS DOUBLE)*s1)
       |     / (CAST(n AS DOUBLE)*(n - 1)))))*1e6 + 0.5)/1e6 AS cpk
       |FROM g ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_simpson_paradox" -> (simpsonParadox _),
    "agg_process_capability" -> (processCapability _)
  )

  val oracle: Map[String, String] = Map(
    "agg_simpson_paradox" -> simpsonParadoxOracle,
    "agg_process_capability" -> processCapabilityOracle
  )
}
