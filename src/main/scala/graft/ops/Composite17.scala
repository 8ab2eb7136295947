package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.33 — round-15 sixth batch: leaderboard rank
  * dynamics and a price/volume growth decomposition.
  *
  * Scale shapes: rank dynamics keep BOTH monthly
  * windows behind rank-filter limits (WindowGroupLimit-pushed — the
  * full ranking never sorts past the limit per month); the
  * decomposition joins the month aggregate on month−1.
  *
  * Determinism: ranks row_number with
  * (value DESC, key ASC) tie-breaks; money decimal-exact to the
  * final division.
  */
object Composite17 {

  // ---- win_rank_change ---------------------------------------------
  // Month-over-month leaderboard dynamics: this month's top-20
  // customers by revenue, with their previous-month rank when it was
  // inside the top-100 (NULL otherwise — "unranked"). BOTH windows
  // sit behind rank-filter limits, so WindowGroupLimit prunes each
  // month's sort; the full customer ranking never materializes.
  private def rankChange(s: SparkSession, dir: String): DataFrame = {
    val monthly = load(s, dir, "orders")
      .groupBy(trunc(col("o_orderdate"), "month").as("m"),
        col("o_custkey"))
      .agg(sum(money(col("o_totalprice"))).cast("decimal(18,2)").as("rev"))
    val w = Window.partitionBy(col("m"))
      .orderBy(col("rev").desc, col("o_custkey").asc)
    val ranked = monthly.withColumn("rk", row_number().over(w))
    val top20 = ranked.filter(col("rk") <= 20)
    val prev100 = ranked.filter(col("rk") <= 100)
      .select(add_months(col("m"), 1).as("m"), col("o_custkey"),
        col("rk").as("prev_rk"))
    top20.join(prev100, Seq("m", "o_custkey"), "left")
      .select(col("m"), col("o_custkey"), col("rk"), asD(col("rev")).as("rev"),
        col("prev_rk"),
        (col("prev_rk") - col("rk")).as("delta"))
      .orderBy("m", "rk")
  }

  private val rankChangeOracle =
    """WITH monthly AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
      |    o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(18,2))
      |      AS rev
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT m, o_custkey, rev, row_number() OVER (
      |    PARTITION BY m ORDER BY rev DESC, o_custkey) AS rk
      |  FROM monthly),
      |top20 AS (SELECT * FROM ranked WHERE rk <= 20),
      |prev AS (
      |  SELECT m + INTERVAL 1 MONTH AS m, o_custkey, rk AS prev_rk
      |  FROM ranked WHERE rk <= 100)
      |SELECT t.m, t.o_custkey, CAST(t.rk AS INT) AS rk,
      |  CAST(CAST(t.rev AS VARCHAR) AS DOUBLE) AS rev,
      |  CAST(p.prev_rk AS INT) AS prev_rk,
      |  CAST(p.prev_rk - t.rk AS INT) AS delta
      |FROM top20 t LEFT JOIN prev p
      |  ON CAST(t.m AS TIMESTAMP) = CAST(p.m AS TIMESTAMP)
      |  AND t.o_custkey = p.o_custkey
      |ORDER BY t.m, t.rk""".stripMargin

  // ---- agg_growth_decompose ----------------------------------------
  // MoM revenue-growth decomposition into volume, price, and mix:
  // Δrev = Δn·p̄₋₁ + n₋₁·Δp̄ + Δn·Δp̄ (p̄ = average order value). The
  // month aggregate joins on month−1; revenue stays decimal-exact
  // until p̄'s division; the three effects reconstruct Δrev by
  // construction (asserted in the spec).
  private def growthDecompose(s: SparkSession, dir: String): DataFrame = {
    val monthly = load(s, dir, "orders")
      .groupBy(trunc(col("o_orderdate"), "month").as("m"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("o_totalprice"))).cast("decimal(18,2)").as("rev"))
    val prev = monthly.select(add_months(col("m"), 1).as("m"),
      col("n").as("pn"), col("rev").as("prev"))
    // No round(): Spark rounds the exact binary double via BigDecimal
    // HALF_UP while DuckDB multiplies by 1e6 and rounds — they can
    // disagree one ulp from a .5 boundary (bit us once, driver r5).
    // Identical double expression TREES on both sides are bit-exact
    // without any rounding: same decimal-exact inputs, same IEEE op
    // order.
    monthly.join(prev, "m")
      .select(col("m"), col("n"), col("pn"),
        (asD(col("rev")) - asD(col("prev"))).as("d_rev"),
        ((col("n") - col("pn")).cast("double") *
          (asD(col("prev")) / col("pn").cast("double")))
          .as("volume_effect"),
        (col("pn").cast("double") *
          (asD(col("rev")) / col("n").cast("double") -
            asD(col("prev")) / col("pn").cast("double")))
          .as("price_effect"),
        ((col("n") - col("pn")).cast("double") *
          (asD(col("rev")) / col("n").cast("double") -
            asD(col("prev")) / col("pn").cast("double")))
          .as("mix_effect"))
      .orderBy("m")
  }

  private val growthDecomposeOracle =
    """WITH monthly AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(18,2))
      |      AS rev
      |  FROM orders GROUP BY 1),
      |j AS (
      |  SELECT a.m, a.n, b.n AS pn,
      |    CAST(CAST(a.rev AS VARCHAR) AS DOUBLE) AS rv,
      |    CAST(CAST(b.rev AS VARCHAR) AS DOUBLE) AS pv
      |  FROM monthly a JOIN monthly b ON a.m = b.m + INTERVAL 1 MONTH)
      |SELECT m, n, pn,
      |  rv - pv AS d_rev,
      |  CAST(n - pn AS DOUBLE) * (pv / CAST(pn AS DOUBLE))
      |    AS volume_effect,
      |  CAST(pn AS DOUBLE) *
      |    (rv / CAST(n AS DOUBLE) - pv / CAST(pn AS DOUBLE))
      |    AS price_effect,
      |  CAST(n - pn AS DOUBLE) *
      |    (rv / CAST(n AS DOUBLE) - pv / CAST(pn AS DOUBLE))
      |    AS mix_effect
      |FROM j ORDER BY m""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_rank_change" -> (rankChange _),
    "agg_growth_decompose" -> (growthDecompose _)
  )

  val oracle: Map[String, String] = Map(
    "win_rank_change" -> rankChangeOracle,
    "agg_growth_decompose" -> growthDecomposeOracle
  )
}
