package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.39 — round-16 third batch: calendar dimension
  * generation, leave-one-out target encoding, and experiment power
  * analysis.
  *
  * Scale shapes: the date dimension generates from a 1-row min/max
  * aggregate (horizon-bounded — never a fact-table scan per day);
  * LOO encoding needs ONLY group aggregates (Σ, n, min, max) — the
  * per-row encode the scaladoc describes is a broadcast-join against
  * the same tiny grid, so no second fact shuffle exists at any scale;
  * power analysis is two chained hash aggregates.
  *
  * Determinism: calendar fields are exact integer calendar
  * arithmetic pinned to ISO conventions that agree across engines
  * (weekday(d)+1 == isodow); LOO extremes assemble from exact
  * decimal sums; MDE uses literal z constants and IEEE sqrt
  * (correctly rounded on both engines).
  */
object Composite22 {

  // ---- scan_date_dim -----------------------------------------------
  // Warehouse calendar dimension generated over the order horizon:
  // one row per day with ISO dow, ISO week, month, quarter, year,
  // and a month-end flag. Spark's sequence()+explode is the
  // generator; DuckDB's generate_series is the oracle's.
  private def dateDim(s: SparkSession, dir: String): DataFrame = {
    val mm = load(s, dir, "orders")
      .agg(min(col("o_orderdate").cast("date")).as("mn"),
        max(col("o_orderdate").cast("date")).as("mx"))
    mm.select(explode(expr("sequence(mn, mx, interval 1 day)")).as("d"))
      .select(col("d"),
        (weekday(col("d")) + lit(1)).cast("int").as("iso_dow"),
        weekofyear(col("d")).cast("int").as("iso_week"),
        month(col("d")).cast("int").as("mth"),
        quarter(col("d")).cast("int").as("qtr"),
        year(col("d")).cast("int").as("yr"),
        (col("d") === last_day(col("d"))).as("is_month_end"))
      .orderBy("d")
  }

  private val dateDimOracle =
    """WITH mm AS (
      |  SELECT min(CAST(o_orderdate AS DATE)) AS mn,
      |    max(CAST(o_orderdate AS DATE)) AS mx
      |  FROM orders),
      |cal AS (
      |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY))
      |    AS DATE) AS d
      |  FROM mm)
      |SELECT d,
      |  CAST(isodow(d) AS INT) AS iso_dow,
      |  CAST(week(d) AS INT) AS iso_week,
      |  CAST(month(d) AS INT) AS mth,
      |  CAST(quarter(d) AS INT) AS qtr,
      |  CAST(year(d) AS INT) AS yr,
      |  d = last_day(d) AS is_month_end
      |FROM cal ORDER BY d""".stripMargin

  // ---- agg_target_encode_loo ---------------------------------------
  // Leave-one-out target encoding audit per brand (the ML feature-
  // engineering staple): loo_i = (Σ − q_i)/(n − 1). The extremes of
  // the encoded column need only (Σ, n, min, max) per group —
  // min_loo pairs with the LARGEST held-out value. The per-row
  // encode is the same grid broadcast-joined back to the fact rows.
  private def targetEncodeLoo(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .join(load(s, dir, "part").select(col("p_partkey").as("l_partkey"),
        col("p_brand")), "l_partkey")
      .select(col("p_brand"), money(col("l_quantity")).as("q"))
    li.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).cast("decimal(18,2)").as("sq"),
        min(col("q")).as("qmin"), max(col("q")).as("qmax"))
      .select(col("p_brand"), col("n"),
        (asD(col("sq")) / col("n").cast("double")).as("mean_q"),
        ((asD(col("sq")) - asD(col("qmax"))) /
          (col("n") - lit(1)).cast("double")).as("min_loo"),
        ((asD(col("sq")) - asD(col("qmin"))) /
          (col("n") - lit(1)).cast("double")).as("max_loo"))
      .orderBy("p_brand")
  }

  private val targetEncodeLooOracle =
    """WITH li AS (
      |  SELECT p_brand, CAST(l_quantity AS DECIMAL(15,2)) AS q
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |g AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(q) AS DECIMAL(18,2)) AS sq,
      |    min(q) AS qmin, max(q) AS qmax
      |  FROM li GROUP BY 1)
      |SELECT p_brand, n,
      |  CAST(CAST(sq AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
      |  (CAST(CAST(sq AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(qmax AS VARCHAR) AS DOUBLE))
      |    / CAST(n - 1 AS DOUBLE) AS min_loo,
      |  (CAST(CAST(sq AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(qmin AS VARCHAR) AS DOUBLE))
      |    / CAST(n - 1 AS DOUBLE) AS max_loo
      |FROM g ORDER BY p_brand""".stripMargin

  // ---- agg_power_mde -----------------------------------------------
  // Two-sample proportion power analysis per event type: reach
  // p = share of users emitting the type, and the minimum detectable
  // absolute effect at 80% power / 5% α with the population split in
  // half: MDE = (z_α/2 + z_β)·√(2p(1−p)/(n/2)). Literal z values —
  // no distribution functions to drift cross-engine.
  private def powerMde(s: SparkSession, dir: String): DataFrame = {
    val e = loadEvents(s, dir)
    // 1-row broadcast, not a driver-side count: the plan stays fully
    // declarative and the total rides the same exchange as the reach
    // aggregate at any scale.
    val total = e.agg(countDistinct(col("user_id")).as("n_users"))
    val reach = e.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_reached"))
    reach.crossJoin(broadcast(total))
      .select(col("event_type"), col("n_reached"), col("n_users"),
        (col("n_reached").cast("double") / col("n_users").cast("double"))
          .as("p"))
      // z_α/2 + z_β = 1.96 + 0.84 spelled as the single literal 2.8:
      // summing the two doubles yields 2.8000000000000003, which the
      // oracle's decimal literal would not reproduce.
      .select(col("event_type"), col("n_reached"), col("n_users"), col("p"),
        (lit(2.8) * sqrt(lit(2.0) * col("p") * (lit(1.0) - col("p"))
          / (col("n_users").cast("double") / lit(2.0)))).as("mde_abs"))
      .orderBy("event_type")
  }

  private val powerMdeOracle =
    """WITH t AS (
      |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |  FROM events),
      |r AS (
      |  SELECT event_type,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_reached
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT event_type, n_reached, t.n_users,
      |    CAST(n_reached AS DOUBLE) / CAST(t.n_users AS DOUBLE) AS p
      |  FROM r CROSS JOIN t)
      |SELECT event_type, n_reached, n_users, p,
      |  2.8 * sqrt(2.0 * p * (1.0 - p)
      |    / (CAST(n_users AS DOUBLE) / 2.0)) AS mde_abs
      |FROM a ORDER BY event_type""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_date_dim" -> (dateDim _),
    "agg_target_encode_loo" -> (targetEncodeLoo _),
    "agg_power_mde" -> (powerMde _)
  )

  val oracle: Map[String, String] = Map(
    "scan_date_dim" -> dateDimOracle,
    "agg_target_encode_loo" -> targetEncodeLooOracle,
    "agg_power_mde" -> powerMdeOracle
  )
}
