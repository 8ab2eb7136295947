package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.31 — round-15 fourth batch: winsorized/trimmed
  * robust means, error-budget burn analysis, and a seasonal
  * decomposition of the daily series.
  *
  * Scale shapes: winsorized means are two passes over the fact with a 5-row
  * percentile broadcast between them; error burn is two hash
  * aggregates and a 1-row broadcast; seasonal decomposition runs
  * entirely over the horizon-bounded daily aggregate.
  *
  * Determinism: counts exact, money decimal-exact, percentiles
  * interpolate exact values; every surfaced double is 6-dp rounded
  * on shared IEEE formula text.
  */
object Composite15 {

  // ---- agg_winsorized ----------------------------------------------
  // Robust means of order value per priority: winsorized mean (clamp
  // to the group's [p05, p95]) and trimmed mean (drop outside). The
  // per-group percentile thresholds interpolate EXACT 2-dp money
  // values and come back as a 5-row broadcast; the second pass
  // clamps/filters and averages. avg-of-double drift is absorbed by
  // the 6-dp rounding (the corpus' money values are 2-dp exact).
  private def winsorized(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice").as("v"))
    val th = broadcast(o.groupBy("o_orderpriority")
      .agg(expr("percentile(v, 0.05)").as("p05"),
        expr("percentile(v, 0.95)").as("p95")))
    o.join(th, "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(first(col("p05")), 6).as("p05"),
        round(first(col("p95")), 6).as("p95"),
        round(avg(greatest(least(col("v"), col("p95")), col("p05"))), 6)
          .as("winsor_mean"),
        round(avg(when(col("v") >= col("p05") && col("v") <= col("p95"),
          col("v"))), 6).as("trimmed_mean"))
      .orderBy("o_orderpriority")
  }

  private val winsorizedOracle =
    """WITH th AS (
      |  SELECT o_orderpriority,
      |    quantile_cont(o_totalprice, 0.05) AS p05,
      |    quantile_cont(o_totalprice, 0.95) AS p95
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  round(any_value(th.p05), 6) AS p05,
      |  round(any_value(th.p95), 6) AS p95,
      |  round(avg(greatest(least(o.o_totalprice, th.p95), th.p05)), 6)
      |    AS winsor_mean,
      |  round(avg(CASE WHEN o.o_totalprice BETWEEN th.p05 AND th.p95
      |    THEN o.o_totalprice END), 6) AS trimmed_mean
      |FROM orders o JOIN th ON o.o_orderpriority = th.o_orderpriority
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  // ---- evt_error_burn ----------------------------------------------
  // Error-budget burn per hour: hourly error share vs the corpus-wide
  // share, flagging hours burning at >2× baseline (the standard SLO
  // fast-burn alert shape). Hourly aggregate + 1-row broadcast
  // baseline; output is horizon-bounded (one row per active hour).
  private def errorBurn(s: SparkSession, dir: String): DataFrame = {
    val hourly = loadEvents(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
    val base = broadcast(hourly.agg(
      (sum(col("n_err")).cast("double") / sum(col("n")).cast("double"))
        .as("base_rate")))
    hourly.crossJoin(base)
      .select(col("h"), col("n"), col("n_err"),
        round(col("n_err").cast("double") / col("n").cast("double"), 6)
          .as("err_rate"),
        (col("n_err").cast("double") / col("n").cast("double") >
          col("base_rate") * 2.0).as("fast_burn"))
      .orderBy("h")
  }

  private val errorBurnOracle =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_err
      |  FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP))),
      |base AS (
      |  SELECT CAST(sum(n_err) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
      |    AS base_rate FROM hourly)
      |SELECT h, n, n_err,
      |  round(CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE), 6) AS err_rate,
      |  CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE) > base_rate * 2.0
      |    AS fast_burn
      |FROM hourly CROSS JOIN base
      |ORDER BY h""".stripMargin

  // ---- win_seasonal_decompose --------------------------------------
  // Additive seasonal decomposition of the daily order series
  // (STL-lite): trend = centered 7-day moving average (full frames
  // only), detrended = c − trend, seasonal index = mean detrended
  // value per ISO weekday. Surfaces the 7 weekday indices plus each
  // weekday's residual spread (sd of detrended − seasonal). The
  // whole computation runs over the ~2.4k-row daily aggregate —
  // horizon-bounded, the changepoint precedent.
  private def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy("d").rowsBetween(-3, 3)
    val det = daily
      .withColumn("fn", count(lit(1)).over(w))
      .withColumn("trend", sum(col("c")).over(w).cast("double") /
        col("fn").cast("double"))
      .filter(col("fn") === 7)
      .select(dayofweek(col("d")).as("dow"),
        (col("c").cast("double") - col("trend")).as("dev"))
    val seas = det.groupBy("dow")
      .agg(count(lit(1)).as("n_days"), avg(col("dev")).as("si"),
        sum(col("dev") * col("dev")).as("sdev2"),
        sum(col("dev")).as("sdev"))
    seas.select(col("dow"), col("n_days"),
      round(col("si"), 6).as("seasonal"),
      round(sqrt((col("sdev2") - col("sdev") * col("sdev") /
        col("n_days").cast("double")) /
        (col("n_days").cast("double") - 1.0)), 6).as("resid_sd"))
      .orderBy("dow")
  }

  private val seasonalDecomposeOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |t AS (
      |  SELECT d, c,
      |    CAST(count(*) OVER w AS BIGINT) AS fn,
      |    CAST(sum(c) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
      |      AS trend
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (
      |  SELECT CAST(dayofweek(d) + 1 AS INT) AS dow,
      |    CAST(c AS DOUBLE) - trend AS dev
      |  FROM t WHERE fn = 7),
      |seas AS (
      |  SELECT dow, CAST(count(*) AS BIGINT) AS n_days, avg(dev) AS si,
      |    sum(dev * dev) AS sdev2, sum(dev) AS sdev
      |  FROM det GROUP BY dow)
      |SELECT dow, n_days, round(si, 6) AS seasonal,
      |  round(sqrt((sdev2 - sdev * sdev / CAST(n_days AS DOUBLE)) /
      |    (CAST(n_days AS DOUBLE) - 1.0)), 6) AS resid_sd
      |FROM seas ORDER BY dow""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_winsorized" -> (winsorized _),
    "evt_error_burn" -> (errorBurn _),
    "win_seasonal_decompose" -> (seasonalDecompose _)
  )

  val oracle: Map[String, String] = Map(
    "agg_winsorized" -> winsorizedOracle,
    "evt_error_burn" -> errorBurnOracle,
    "win_seasonal_decompose" -> seasonalDecomposeOracle
  )
}
