package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.50 (round-22 batch 2) — resampled uncertainty:
  *
  *  - [[poissonBootstrap]]: deterministic Poisson(1) bootstrap of the
  *    mean — the large-scale resampling scheme (each row enters
  *    replicate b with multiplicity ~Poisson(1)) that gives
  *    uncertainty bands in ONE pass where classical resampling would
  *    shuffle the corpus B times. Weights come from md5 bytes
  *    thresholded at the exact 256-scaled Poisson(1) CDF, so both
  *    engines draw identical "randomness".
  *
  * Scale shapes: the bootstrap's 32× row expansion is map-local
  * (Generate feeds the partial aggregate inside one stage — the
  * shuffle carries only 32 partials per map task).
  *
  * Determinism: bootstrap weights are exact integers (weighted sums
  * ride the cents discipline); every surfaced ratio assembles once
  * in double from identical formula text with floor-form 6-dp
  * rounding (§1.5).
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_poisson_bootstrap" -> (poissonBootstrap _)
  )

  val oracle: Map[String, String] = Map(
    "agg_poisson_bootstrap" -> poissonBootstrapOracle
  )
}
