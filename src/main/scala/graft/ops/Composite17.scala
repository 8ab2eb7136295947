package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.33 — round-15 sixth batch: leaderboard rank
  * dynamics, template detection, and a price/volume growth
  * decomposition.
  *
  * Scale shapes: rank dynamics keep BOTH monthly
  * windows behind rank-filter limits (WindowGroupLimit-pushed — the
  * full ranking never sorts past the limit per month); template
  * detection is two dense_rank hash exchanges; the decomposition
  * joins the month aggregate on month−1.
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

  // ---- llm_template_detect -----------------------------------------
  // Templated-document detection: a doc is "templated" when BOTH its
  // 30-word opening and its 30-word closing are shared with at least
  // one other document — the boilerplate-page signature (shared
  // greeting + shared footer). Two dense_rank hash exchanges (the
  // line-dedup discipline), combined per doc, surfaced per source.
  private def templateDetect(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 60)
      .select(col("doc_id"), col("source"),
        md5(expr("array_join(slice(t, 1, 30), ' ')")).as("ph"),
        md5(expr("array_join(slice(t, -30, 30), ' ')")).as("sh"))
    def dupFlag(df: DataFrame, h: String, flag: String): DataFrame = {
      val byH = Window.partitionBy(h).orderBy("doc_id")
      val byHAll = Window.partitionBy(h)
      df.withColumn("dr", dense_rank().over(byH))
        .withColumn(flag, max(col("dr")).over(byHAll) >= 2)
        .drop("dr")
    }
    dupFlag(dupFlag(d, "ph", "pdup"), "sh", "sdup")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pdup") && col("sdup"), 1L).otherwise(0L))
          .as("n_templated"),
        round(sum(when(col("pdup") && col("sdup"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("template_rate"))
      .orderBy("source")
  }

  private val templateDetectOracle =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(list_slice(w, 1, 30), ' ')) AS ph,
      |    md5(array_to_string(list_slice(w, len(w) - 29, len(w)), ' '))
      |      AS sh
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 60),
      |pd AS (SELECT ph FROM d GROUP BY ph
      |       HAVING count(DISTINCT doc_id) >= 2),
      |sd AS (SELECT sh FROM d GROUP BY sh
      |       HAVING count(DISTINCT doc_id) >= 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN pd.ph IS NOT NULL AND sd.sh IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_templated,
      |  round(CAST(sum(CASE WHEN pd.ph IS NOT NULL AND sd.sh IS NOT NULL
      |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS template_rate
      |FROM d LEFT JOIN pd ON d.ph = pd.ph LEFT JOIN sd ON d.sh = sd.sh
      |GROUP BY source ORDER BY source""".stripMargin

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
    "llm_template_detect" -> (templateDetect _),
    "agg_growth_decompose" -> (growthDecompose _)
  )

  val oracle: Map[String, String] = Map(
    "win_rank_change" -> rankChangeOracle,
    "llm_template_detect" -> templateDetectOracle,
    "agg_growth_decompose" -> growthDecomposeOracle
  )
}
