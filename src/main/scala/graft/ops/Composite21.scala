package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.38 — round-16 second batch: experimentation
  * statistics (CUPED, delta-method ratio CI) and finance/econ series
  * (VWAP, unit-value price index). (The batch's diversity-aware MMR
  * re-ranking is in [[retrieval.Search]].)
  *
  * Scale shapes: CUPED and the delta-method CI reduce the fact table
  * to ONE per-user aggregate each, then assemble scalars from exact
  * decimal sums — the per-user exchange is the only shuffle. VWAP and
  * the price index run windowed/grouped exact-decimal sums over
  * horizon- and alphabet-bounded series.
  *
  * Determinism: CUPED/CI moments accumulate in exact DECIMAL and
  * convert once (VARCHAR route on the DuckDB side, §1.5 r7); all
  * final doubles
  * assemble through identical IEEE expression trees on both engines
  * (growth_decompose discipline — no cross-engine round() on
  * results); the experiment split point is exact integer µs
  * midpoint arithmetic, not wall-clock.
  */
object Composite21 {

  // ---- evt_uplift_cuped --------------------------------------------
  // CUPED variance reduction (Deng 2013): split the horizon at the
  // exact integer-µs midpoint, take per-user pre/post value sums,
  // fit θ = cov(pre,post)/var(pre) POOLED, and report each arm's
  // (user_id % 2) raw vs covariate-adjusted post mean. One per-user
  // exchange; moments are exact decimal sums; θ and the means
  // assemble once in IEEE.
  private def upliftCuped(s: SparkSession, dir: String): DataFrame = {
    val e = loadEvents(s, dir)
    val split = e.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("timestamp_micros((mn + mx) div 2)").as("split"))
    val u = e.crossJoin(broadcast(split))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < col("split"), money(col("value")))
          .otherwise(lit(0).cast("decimal(15,2)"))).cast("decimal(15,2)")
          .as("x"),
        sum(when(col("ts") >= col("split"), money(col("value")))
          .otherwise(lit(0).cast("decimal(15,2)"))).cast("decimal(15,2)")
          .as("y"))
      .select(col("user_id"), (col("user_id") % 2).cast("int").as("grp"),
        col("x"), col("y"))
    val g = u.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast("decimal(31,4)")).as("sxx"),
      sum((col("x") * col("y")).cast("decimal(31,4)")).as("sxy"))
      .select(col("n").cast("double").as("n"),
        asD(col("sx")).as("sx"), asD(col("sy")).as("sy"),
        asD(col("sxx")).as("sxx"), asD(col("sxy")).as("sxy"))
      .select(col("n"), (col("sx") / col("n")).as("mean_pre"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"))
    u.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("gx"), sum(col("y")).as("gy"))
      .crossJoin(broadcast(g))
      .select(col("grp"), col("n_users"),
        (asD(col("gy")) / col("n_users").cast("double")).as("mean_post"),
        (asD(col("gy")) / col("n_users").cast("double") - col("theta") *
          (asD(col("gx")) / col("n_users").cast("double") - col("mean_pre")))
          .as("mean_post_adj"),
        col("theta"))
      .orderBy("grp")
  }

  private val upliftCupedOracle =
    """WITH sp AS (
      |  SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2)
      |    AS split FROM events),
      |u AS (
      |  SELECT user_id, CAST(user_id % 2 AS INT) AS grp,
      |    CAST(sum(CASE WHEN ts < sp.split
      |      THEN CAST(value AS DECIMAL(15,2))
      |      ELSE CAST(0 AS DECIMAL(15,2)) END) AS DECIMAL(15,2)) AS x,
      |    CAST(sum(CASE WHEN ts >= sp.split
      |      THEN CAST(value AS DECIMAL(15,2))
      |      ELSE CAST(0 AS DECIMAL(15,2)) END) AS DECIMAL(15,2)) AS y
      |  FROM events CROSS JOIN sp GROUP BY user_id, sp.split),
      |g AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(sum(CAST(x * x AS DECIMAL(31,4))) AS VARCHAR)
      |      AS DOUBLE) AS sxx,
      |    CAST(CAST(sum(CAST(x * y AS DECIMAL(31,4))) AS VARCHAR)
      |      AS DOUBLE) AS sxy
      |  FROM u),
      |gg AS (
      |  SELECT n, sx / n AS mean_pre,
      |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta
      |  FROM g)
      |SELECT u.grp, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(CAST(sum(u.y) AS VARCHAR) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS mean_post,
      |  CAST(CAST(sum(u.y) AS VARCHAR) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) - gg.theta *
      |    (CAST(CAST(sum(u.x) AS VARCHAR) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) - gg.mean_pre) AS mean_post_adj,
      |  gg.theta
      |FROM u CROSS JOIN gg
      |GROUP BY u.grp, gg.theta, gg.mean_pre
      |ORDER BY u.grp""".stripMargin

  // ---- agg_delta_method_ratio_ci -----------------------------------
  // Delta-method CI for a ratio metric (revenue per event, clustered
  // by user — Deng 2018's ratio-metric recipe): R = ΣX/ΣY over
  // per-user (X=value sum, Y=event count);
  // Var(R) ≈ (varx − 2R·covxy + R²·vary) / (n·ȳ²). Exact decimal
  // moments; one per-user exchange; 1.96 literal z.
  private def deltaRatioCi(s: SparkSession, dir: String): DataFrame = {
    val u = loadEvents(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(money(col("value"))).cast("decimal(15,2)").as("x"),
        count(lit(1)).cast("decimal(12,0)").as("y"))
    u.agg(
      count(lit(1)).as("nl"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast("decimal(31,4)")).as("sxx"),
      sum((col("y") * col("y")).cast("decimal(25,0)")).as("syy"),
      sum((col("x") * col("y")).cast("decimal(28,2)")).as("sxy"))
      .select(col("nl").cast("double").as("n"),
        asD(col("sx")).as("sx"), asD(col("sy")).as("sy"),
        asD(col("sxx")).as("sxx"), asD(col("syy")).as("syy"),
        asD(col("sxy")).as("sxy"))
      .select(col("n"), (col("sx") / col("sy")).as("r"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
          .as("varx"),
        ((col("syy") - col("sy") * col("sy") / col("n")) / col("n"))
          .as("vary"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"))
          .as("covxy"),
        (col("sy") / col("n")).as("ybar"))
      .select(col("n").cast("bigint").as("n_users"), col("r"),
        sqrt(greatest(
          (col("varx") - lit(2.0) * col("r") * col("covxy") +
            col("r") * col("r") * col("vary")) /
            (col("n") * col("ybar") * col("ybar")), lit(0.0))).as("se"))
      .select(col("n_users"), col("r"), col("se"),
        (col("r") - lit(1.96) * col("se")).as("ci_lo"),
        (col("r") + lit(1.96) * col("se")).as("ci_hi"))
  }

  private val deltaRatioCiOracle =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(value AS DECIMAL(15,2))) AS DECIMAL(15,2)) AS x,
      |    CAST(count(*) AS DECIMAL(12,0)) AS y
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(sum(CAST(x * x AS DECIMAL(31,4))) AS VARCHAR)
      |      AS DOUBLE) AS sxx,
      |    CAST(CAST(sum(CAST(y * y AS DECIMAL(25,0))) AS VARCHAR)
      |      AS DOUBLE) AS syy,
      |    CAST(CAST(sum(CAST(x * y AS DECIMAL(28,2))) AS VARCHAR)
      |      AS DOUBLE) AS sxy
      |  FROM u),
      |a AS (
      |  SELECT n, sx / sy AS r,
      |    (sxx - sx * sx / n) / n AS varx,
      |    (syy - sy * sy / n) / n AS vary,
      |    (sxy - sx * sy / n) / n AS covxy,
      |    sy / n AS ybar
      |  FROM m),
      |b AS (
      |  SELECT CAST(n AS BIGINT) AS n_users, r,
      |    sqrt(greatest(
      |      (varx - 2.0 * r * covxy + r * r * vary) / (n * ybar * ybar),
      |      0.0)) AS se
      |  FROM a)
      |SELECT n_users, r, se,
      |  r - 1.96 * se AS ci_lo,
      |  r + 1.96 * se AS ci_hi
      |FROM b""".stripMargin

  // ---- win_vwap ----------------------------------------------------
  // Month-to-date VWAP of shipped goods: per ship-day exact decimal
  // price/quantity sums, then running decimal sums within the ship
  // month and ONE double division per row.
  private def vwap(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "lineitem")
      .groupBy(col("l_shipdate").cast("date").as("d"))
      .agg(sum(money(col("l_extendedprice"))).cast("decimal(18,2)").as("px"),
        sum(money(col("l_quantity"))).cast("decimal(18,2)").as("qty"))
      .withColumn("m", trunc(col("d"), "month"))
    val w = Window.partitionBy("m").orderBy("d")
    daily
      .withColumn("cpx", sum(col("px")).over(w))
      .withColumn("cqty", sum(col("qty")).over(w))
      .select(col("d"), asD(col("qty")).as("day_qty"),
        (asD(col("cpx")) / asD(col("cqty"))).as("mtd_vwap"))
      .orderBy("d")
  }

  private val vwapOracle =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)))
      |      AS DECIMAL(18,2)) AS px,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(15,2)))
      |      AS DECIMAL(18,2)) AS qty,
      |    date_trunc('month', CAST(l_shipdate AS DATE)) AS m
      |  FROM lineitem GROUP BY 1, 4),
      |win AS (
      |  SELECT d, qty,
      |    sum(px) OVER (PARTITION BY m ORDER BY d) AS cpx,
      |    sum(qty) OVER (PARTITION BY m ORDER BY d) AS cqty
      |  FROM daily)
      |SELECT d, CAST(CAST(qty AS VARCHAR) AS DOUBLE) AS day_qty,
      |  CAST(CAST(cpx AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(cqty AS VARCHAR) AS DOUBLE) AS mtd_vwap
      |FROM win ORDER BY d""".stripMargin

  // ---- agg_price_index ---------------------------------------------
  // Unit-value price index per brand (Laspeyres-style unit values):
  // uv(brand, year) = Σprice/Σqty from exact decimal sums; index =
  // uv / uv(base year), base = the corpus' first ship year. Bounded
  // by brand alphabet × years; the base side is a tiny broadcast.
  private def priceIndex(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .join(load(s, dir, "part").select(col("p_partkey").as("l_partkey"),
        col("p_brand")), "l_partkey")
    val uv = li
      .groupBy(col("p_brand"), year(col("l_shipdate").cast("date")).as("yr"))
      .agg(sum(money(col("l_extendedprice"))).cast("decimal(18,2)").as("px"),
        sum(money(col("l_quantity"))).cast("decimal(18,2)").as("qty"))
      .select(col("p_brand"), col("yr"),
        (asD(col("px")) / asD(col("qty"))).as("uv"))
    val y0 = uv.agg(min(col("yr")).as("base_yr"))
    val base = uv.crossJoin(broadcast(y0))
      .filter(col("yr") === col("base_yr"))
      .select(col("p_brand"), col("uv").as("uv0"))
    uv.join(broadcast(base), "p_brand")
      .select(col("p_brand"), col("yr"), col("uv"),
        (col("uv") / col("uv0")).as("price_index"))
      .orderBy("p_brand", "yr")
  }

  private val priceIndexOracle =
    """WITH uv AS (
      |  SELECT p_brand, CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS yr,
      |    CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)))
      |        AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(15,2)))
      |        AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS uv
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |y0 AS (SELECT min(yr) AS base_yr FROM uv),
      |base AS (
      |  SELECT p_brand, uv AS uv0 FROM uv, y0 WHERE yr = y0.base_yr)
      |SELECT uv.p_brand, uv.yr, uv.uv, uv.uv / base.uv0 AS price_index
      |FROM uv JOIN base ON uv.p_brand = base.p_brand
      |ORDER BY uv.p_brand, uv.yr""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_uplift_cuped" -> (upliftCuped _),
    "agg_delta_method_ratio_ci" -> (deltaRatioCi _),
    "win_vwap" -> (vwap _),
    "agg_price_index" -> (priceIndex _)
  )

  val oracle: Map[String, String] = Map(
    "evt_uplift_cuped" -> upliftCupedOracle,
    "agg_delta_method_ratio_ci" -> deltaRatioCiOracle,
    "win_vwap" -> vwapOracle,
    "agg_price_index" -> priceIndexOracle
  )
}
