package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.24 — round-13 operators: marketing attribution,
  * series smoothing/risk windows over the daily revenue grain, and
  * serial correlation.
  *
  * Scale shapes: attribution is a per-user co-partitioned interval
  * join (the evt_funnel discipline — fan-out bounded by per-user
  * activity); drawdown/rolling-median windows run over the
  * |nation|×|days| aggregate, never the fact; autocorrelation's
  * single-partition window holds ≤ one row per calendar day (bounded
  * by the time horizon, not the data).
  *
  * Float determinism: revenue stays DECIMAL through every cumulative
  * window (sums and running max are exact); the one double division
  * per surfaced score happens on exact operands under 6-dp rounding.
  */
object Composite10 {

  /** Daily revenue per nation — the shared base grain for the
    * drawdown and rolling-median windows. DECIMAL(18,2) so cumulative
    * sums/maxes stay exact. */
  private[graft] def nationDaily(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate").cast("date").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))

  private[graft] val nationDailySql =
    """SELECT n_name, CAST(o_orderdate AS DATE) AS d,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, CAST(o_orderdate AS DATE)""".stripMargin

  // ---- evt_attribution ---------------------------------------------
  // Multi-touch attribution: every purchase credits the click/view
  // touches of the same user in the preceding 7 days — last-touch
  // (all credit to the most recent touch) and linear (1/n to each)
  // models side by side, aggregated per touch type. The join is
  // co-partitioned on user_id and the per-conversion windows are
  // bounded by per-user 7-day activity, so nothing grows faster than
  // user activity itself.
  private def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = loadEvents(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val t = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("t_ts"), col("event_id").as("t_id"),
        col("event_type").as("touch_type"))
    val j = p.join(t, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val wOrd = Window.partitionBy("p_id").orderBy(col("t_ts").desc, col("t_id").desc)
    val wAll = Window.partitionBy("p_id")
    j.withColumn("rk", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).cast("bigint")
          .as("last_touch_credits"),
        round(sum(lit(1.0) / col("n").cast("double")), 6).as("linear_credit"))
      .orderBy("touch_type")
  }

  private val attributionOracle =
    """WITH p AS (
      |  SELECT user_id, ts AS p_ts, event_id AS p_id
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS touch_type
      |  FROM events WHERE event_type IN ('click', 'view')),
      |j AS (
      |  SELECT touch_type, p_id, t_ts, t_id
      |  FROM p JOIN t USING (user_id)
      |  WHERE t_ts < p_ts AND t_ts >= p_ts - INTERVAL 7 DAY),
      |r AS (
      |  SELECT touch_type,
      |    row_number() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rk,
      |    count(*) OVER (PARTITION BY p_id) AS n
      |  FROM j)
      |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
      |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS last_touch_credits,
      |  round(sum(1.0 / CAST(n AS DOUBLE)), 6) AS linear_credit
      |FROM r GROUP BY touch_type ORDER BY touch_type""".stripMargin

  // ---- win_drawdown ------------------------------------------------
  // Max drawdown per nation on the 7-day rolling-revenue level
  // series: running peak minus current level over the running peak.
  // Every cumulative quantity (rolling sum, running max) is exact
  // DECIMAL; the one division is the surfaced score. The worst
  // drawdown's date breaks ties toward the earliest occurrence.
  private def drawdown(s: SparkSession, dir: String): DataFrame = {
    val w7 = Window.partitionBy("n_name").orderBy("d").rowsBetween(-6, 0)
    val wPeak = Window.partitionBy("n_name").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = nationDaily(s, dir)
      .withColumn("level", sum(col("rev")).over(w7))
      .withColumn("peak", max(col("level")).over(wPeak))
      .withColumn("dd", round((col("peak") - col("level")).cast("double") /
        col("peak").cast("double"), 6))
    dd.withColumn("rk", row_number().over(
        Window.partitionBy("n_name").orderBy(col("dd").desc, col("d"))))
      .filter(col("rk") === 1)
      .select(col("n_name"), col("dd").as("max_drawdown"),
        col("d").as("trough_date"), col("peak").cast("string").as("peak_level"))
      .orderBy("n_name")
  }

  private val drawdownOracle =
    s"""WITH daily AS (
       |  $nationDailySql),
       |lvl AS (
       |  SELECT n_name, d,
       |    sum(rev) OVER (PARTITION BY n_name ORDER BY d
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS level
       |  FROM daily),
       |pk AS (
       |  SELECT n_name, d, level,
       |    max(level) OVER (PARTITION BY n_name ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM lvl),
       |dd AS (
       |  SELECT n_name, d, peak,
       |    round(CAST(peak - level AS DOUBLE) / CAST(peak AS DOUBLE), 6) AS dd
       |  FROM pk),
       |rk AS (
       |  SELECT n_name, dd, d, peak,
       |    row_number() OVER (PARTITION BY n_name ORDER BY dd DESC, d) AS rk
       |  FROM dd)
       |SELECT n_name, dd AS max_drawdown, d AS trough_date,
       |  CAST(peak AS VARCHAR) AS peak_level
       |FROM rk WHERE rk = 1 ORDER BY n_name""".stripMargin

  // ---- win_rolling_median ------------------------------------------
  // Exact 7-row centered rolling median of daily nation revenue.
  // Spark has no holistic window aggregate, so the frame is collected
  // (bounded: ≤ 7 values), sorted, and interpolated — the same
  // average-of-middle-two continuous median DuckDB's median() window
  // computes over DOUBLE input.
  private def rollingMedian(s: SparkSession, dir: String): DataFrame = {
    val wf = Window.partitionBy("n_name").orderBy("d").rowsBetween(-3, 3)
    nationDaily(s, dir)
      .withColumn("arr", sort_array(collect_list(col("rev").cast("double")).over(wf)))
      .select(col("n_name"), col("d"),
        round(expr(
          """CASE WHEN size(arr) % 2 = 1
            |  THEN element_at(arr, CAST((size(arr) + 1) div 2 AS INT))
            |  ELSE (element_at(arr, CAST(size(arr) div 2 AS INT)) +
            |        element_at(arr, CAST(size(arr) div 2 + 1 AS INT))) / 2
            |END""".stripMargin), 6).as("roll_median"))
      .orderBy("n_name", "d")
  }

  private val rollingMedianOracle =
    s"""WITH daily AS (
       |  $nationDailySql)
       |SELECT n_name, d,
       |  round(median(CAST(rev AS DOUBLE)) OVER (PARTITION BY n_name ORDER BY d
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS roll_median
       |FROM daily ORDER BY n_name, d""".stripMargin

  // ---- agg_autocorr ------------------------------------------------
  // Lag-1 and lag-7 autocorrelation of the global daily revenue
  // series. The lag windows run in one partition over ≤ one row per
  // calendar day (horizon-bounded, the agg_histogram argument); each
  // lag's Pearson correlation is computed over exactly the rows where
  // that lag exists, pinned by explicit NOT NULL filters on both
  // sides rather than trusting null-skipping symmetry.
  private def autocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("x"))
    val w = Window.orderBy("d")
    val lagged = daily
      .withColumn("l1", lag(col("x"), 1).over(w))
      .withColumn("l7", lag(col("x"), 7).over(w))
    val a1 = lagged.filter(col("l1").isNotNull)
      .agg(count(lit(1)).as("n_days"), round(corr(col("x"), col("l1")), 6).as("ac_lag1"))
    val a7 = lagged.filter(col("l7").isNotNull)
      .agg(round(corr(col("x"), col("l7")), 6).as("ac_lag7"))
    a1.crossJoin(a7)
  }

  private val autocorrOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |lagged AS (
      |  SELECT x,
      |    lag(x, 1) OVER (ORDER BY d) AS l1,
      |    lag(x, 7) OVER (ORDER BY d) AS l7
      |  FROM daily),
      |a1 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    round(corr(x, l1), 6) AS ac_lag1
      |  FROM lagged WHERE l1 IS NOT NULL),
      |a7 AS (
      |  SELECT round(corr(x, l7), 6) AS ac_lag7
      |  FROM lagged WHERE l7 IS NOT NULL)
      |SELECT n_days, ac_lag1, ac_lag7 FROM a1 CROSS JOIN a7""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_attribution" -> (attribution _),
    "win_drawdown" -> (drawdown _),
    "win_rolling_median" -> (rollingMedian _),
    "agg_autocorr" -> (autocorr _)
  )

  val oracle: Map[String, String] = Map(
    "evt_attribution" -> attributionOracle,
    "win_drawdown" -> drawdownOracle,
    "win_rolling_median" -> rollingMedianOracle,
    "agg_autocorr" -> autocorrOracle
  )
}
