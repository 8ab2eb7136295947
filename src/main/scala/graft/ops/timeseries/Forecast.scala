package graft.ops.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** One-step-ahead forecast backtests over the daily series
  * (SURVEY.md §2.30, §2.49, §2.59, §2.80):
  *
  *  - [[ewmaBacktest]]: truncated-EWMA (α = ½, 16 lags) forecasts of
  *    daily event counts, scored as MAE / bias / naive-baseline MAE
  *    per type.
  *
  *  - [[holtBacktest]]: truncated Brown double exponential smoothing
  *    (level + trend). `win_ewma_backtest` smooths the LEVEL only and
  *    lags behind any trending series by design; Brown's method
  *    smooths the smoothed series and forecasts 3·S1 − 2·S2 (the
  *    α = ½ form of level + trend), which tracks a linear trend with
  *    zero asymptotic lag. α = ½ truncated at 8 lags makes S1 a /255
  *    integer dot product and S2 a /255² one.
  *
  *  - [[holtWinters]]: truncated ADDITIVE Holt-Winters —
  *    `win_holt_backtest` is season-blind; this row adds the weekly
  *    seasonal term and backtests against the SEASONAL naive
  *    (y_{t−7}), the honest baseline for seasonal data. Level/trend
  *    via 4-lag Brown double smoothing (weights 2^(3−j)/15, forecast
  *    3S1 − 2S2), seasonal index via a 2-week truncated smoothing of
  *    the detrended deviations (weights {2,1}/3 on dev_t, dev_{t−7}).
  *    Lags shrink to 4/2 because the events corpus spans 30 days per
  *    type at EVERY SF, so the 8-lag warmup would never score a row.
  *
  *  - [[seasonalNaive]]: the seasonal-naive forecaster ŷ(d) = y(d−7)
  *    over the daily order counts ([[Series.orderCounts]]), scored
  *    as MAPE / sMAPE / bias.
  *
  * Row-lag (not calendar-lag) semantics for the smoothing rows,
  * identical in the oracle, so day gaps cannot diverge the two
  * engines; the seasonal-naive lag is a calendar equi-join on d−7.
  *
  * Scale shapes: every lag window reads [[Series.daily]] and all
  * stages of one row share one (event_type, d) sort, ending in ONE
  * hash aggregate per type.
  *
  * Determinism: every residual is exact-integer by construction
  * (dyadic weights over one integer scale per row), every error sum
  * accumulates in BIGINT, and the three ratios assemble once in
  * double from identical formula text with floor-form 6-dp rounding
  * (§1.5).
  */
object Forecast {

  // ---- win_ewma_backtest -----------------------------------------------
  // One-step-ahead truncated-EWMA backtest of daily event counts per
  // type: the forecast for each observed day is the 16-lag
  // exponentially-weighted mean of the PRECEDING observed days
  // (α = ½ ⇒ weights 2^(16-j)/65535 for lag j — the normalized
  // truncated geometric series; gaps between observed days advance
  // the lag sequence, not the calendar). Scored as MAE, bias (mean
  // signed error — negative means over-forecast), and the lag-1
  // naive baseline's MAE over the SAME scored rows, so the skill
  // comparison is like-for-like. The first 16 observed days per type
  // have no full window and score nothing.
  private val EwmaLags = 16

  private[graft] def ewmaBacktestOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val lagCols = (1 to EwmaLags).map(j => lag(col("y"), j).over(w).as(s"l$j"))
    // err = y·65535 − Σ l_j·2^(16−j): an exact-integer residual (the
    // forecast numerator is an integer dot product; 65535 = Σ weights).
    val fcNum = (1 to EwmaLags).map(j =>
      col(s"l$j") * lit(1L << (EwmaLags - j))).reduce(_ + _)
    daily
      .select(col("event_type") +: col("y") +: lagCols: _*)
      .filter(col(s"l$EwmaLags").isNotNull)
      .select(col("event_type"),
        (col("y") * lit(65535L) - fcNum).as("err"),
        abs(col("y") - col("l1")).as("naive_err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("err"))).as("sa"),
        sum(col("err")).as("se"),
        sum(col("naive_err")).as("sn"))
      .selectExpr("event_type", "n AS n_forecasts",
        "floor((CAST(sa AS DOUBLE) / 65535 / n)*1e6 + 0.5)/1e6 AS mae",
        "floor((CAST(se AS DOUBLE) / 65535 / n)*1e6 + 0.5)/1e6 AS bias",
        "floor((CAST(sn AS DOUBLE) / n)*1e6 + 0.5)/1e6 AS naive_mae")
      .orderBy("event_type")
  }

  private def ewmaBacktest(s: SparkSession, dir: String): DataFrame =
    ewmaBacktestOn(loadEvents(s, dir))

  private def ewmaBacktestOracle: String = {
    val lagDefs = (1 to EwmaLags).map(j => s"lag(y, $j) OVER w AS l$j")
      .mkString(",\n    ")
    val fcNum = (1 to EwmaLags).map(j => s"l$j*${1L << (EwmaLags - j)}")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
       |  FROM events),
       |daily AS (
       |  SELECT event_type, d, CAST(count(*) AS BIGINT) AS y
       |  FROM e GROUP BY 1, 2),
       |lagged AS (
       |  SELECT event_type, y,
       |    $lagDefs
       |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
       |s AS (
       |  SELECT event_type,
       |    y*65535 - ($fcNum) AS err,
       |    abs(y - l1) AS naive_err
       |  FROM lagged WHERE l$EwmaLags IS NOT NULL),
       |a AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(abs(err)) AS BIGINT) AS sa,
       |    CAST(sum(err) AS BIGINT) AS se,
       |    CAST(sum(naive_err) AS BIGINT) AS sn
       |  FROM s GROUP BY 1)
       |SELECT event_type, n AS n_forecasts,
       |  floor((CAST(sa AS DOUBLE) / 65535 / n)*1e6 + 0.5)/1e6 AS mae,
       |  floor((CAST(se AS DOUBLE) / 65535 / n)*1e6 + 0.5)/1e6 AS bias,
       |  floor((CAST(sn AS DOUBLE) / n)*1e6 + 0.5)/1e6 AS naive_mae
       |FROM a ORDER BY event_type""".stripMargin
  }

  // ---- win_holt_backtest -----------------------------------------------
  // Truncated Brown DES, α = ½, L = 8 lags per smoothing stage:
  //   n1_t = Σ_{j=0..7} 2^(7−j)·y_{t−j}        (= 255·S1_t, integer)
  //   n2_t = Σ_{i=0..7} 2^(7−i)·n1_{t−i}       (= 255²·S2_t, integer)
  //   f_t  = 765·n1_t − 2·n2_t                 (= 255²·(3S1 − 2S2))
  //   err_{t+1} = 255²·y_{t+1} − f_t           (exact BIGINT)
  // The first 15 rows per type warm the two stages and the 16th is
  // the first scored forecast — the sum-of-products lag form makes
  // each stage's incomplete prefix NULL, so one isNotNull filter per
  // stage is the whole warm-up handling.
  private val HoltLags = 8
  private val HoltDen = 255L // Σ_{j=0..7} 2^j

  private[graft] def holtBacktestOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    def stage(src: Column): Column =
      (0 until HoltLags).map(j =>
        lag(src, j).over(w) * lit(1L << (HoltLags - 1 - j))).reduce(_ + _)
    val s1 = Series.daily(events)
      .select(col("event_type"), col("d"), col("y"), stage(col("y")).as("n1"))
      .filter(col("n1").isNotNull)
    val s2 = s1
      .select(col("event_type"), col("d"), col("y"), col("n1"),
        stage(col("n1")).as("n2"))
      .filter(col("n2").isNotNull)
      .select(col("event_type"), col("d"), col("y"),
        (lit(3L * HoltDen) * col("n1") - lit(2L) * col("n2")).as("fnum"))
    s2.select(col("event_type"), col("y"),
        lag(col("fnum"), 1).over(w).as("pf"),
        lag(col("y"), 1).over(w).as("py"))
      .filter(col("pf").isNotNull)
      .select(col("event_type"),
        (col("y") * lit(HoltDen * HoltDen) - col("pf")).as("err"),
        abs(col("y") - col("py")).as("naive_err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(abs(col("err"))).as("sa"),
        sum(col("err")).as("se"), sum(col("naive_err")).as("sn"))
      .selectExpr("event_type", "n AS n_forecasts",
        "floor((CAST(sa AS DOUBLE) / 65025 / n)*1e6 + 0.5)/1e6 AS mae",
        "floor((CAST(se AS DOUBLE) / 65025 / n)*1e6 + 0.5)/1e6 AS bias",
        "floor((CAST(sn AS DOUBLE) / n)*1e6 + 0.5)/1e6 AS naive_mae")
      .orderBy("event_type")
  }

  private def holtBacktest(s: SparkSession, dir: String): DataFrame =
    holtBacktestOn(loadEvents(s, dir))

  private def holtBacktestOracle: String = {
    // lag(x, 0) is x itself; spelled as the bare column so the oracle
    // does not depend on DuckDB's lag(x, 0) corner semantics.
    def stage(x: String): String =
      (0 until HoltLags).map(j =>
        (if (j == 0) x else s"lag($x, $j) OVER w") +
          s"*${1L << (HoltLags - 1 - j)}").mkString(" + ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |s1 AS (
       |  SELECT * FROM (
       |    SELECT event_type, d, y, ${stage("y")} AS n1
       |    FROM daily
       |    WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE n1 IS NOT NULL),
       |s2 AS (
       |  SELECT event_type, d, y, 765*n1 - 2*n2 AS fnum FROM (
       |    SELECT event_type, d, y, n1, ${stage("n1")} AS n2
       |    FROM s1
       |    WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE n2 IS NOT NULL),
       |scored AS (
       |  SELECT event_type, y*65025 - pf AS err, abs(y - py) AS naive_err
       |  FROM (
       |    SELECT event_type, y, lag(fnum, 1) OVER w AS pf,
       |      lag(y, 1) OVER w AS py
       |    FROM s2
       |    WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE pf IS NOT NULL),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(abs(err)) AS BIGINT) AS sa,
       |    CAST(sum(err) AS BIGINT) AS se,
       |    CAST(sum(naive_err) AS BIGINT) AS sn
       |  FROM scored GROUP BY 1)
       |SELECT event_type, n AS n_forecasts,
       |  floor((CAST(sa AS DOUBLE) / 65025 / n)*1e6 + 0.5)/1e6 AS mae,
       |  floor((CAST(se AS DOUBLE) / 65025 / n)*1e6 + 0.5)/1e6 AS bias,
       |  floor((CAST(sn AS DOUBLE) / n)*1e6 + 0.5)/1e6 AS naive_mae
       |FROM g ORDER BY event_type""".stripMargin
  }

  // ---- evt_holt_winters ---------------------------------------------------
  // Dyadic truncated weights: level stage L = 4 lags (Σ2^j = 15),
  // seasonal stage 2 weekly lags (Σ2^j = 3), season length 7 rows.
  //   n1_t  = Σ_{j=0..3} 2^(3−j)·y_{t−j}            (= 15·S1, int)
  //   n2_t  = Σ_{i=0..3} 2^(3−i)·n1_{t−i}           (= 225·S2, int)
  //   brown = 45·n1 − 2·n2                          (= 225·(3S1−2S2))
  //   dev_t = 15·y_t − n1_t                         (= 15·(y − S1))
  //   sea_t = 2·dev_t + dev_{t−7}                   (= 45·s_t, int)
  //   f_u   = (brown_{u−1} + 5·sea_{u−7}) / 225
  //   err_u = 225·y_u − brown_{u−1} − 5·sea_{u−7}   (exact BIGINT)
  // Each stage filters its warm-up NULLs and the next stage lags over
  // the SURVIVING rows (the holtBacktest nested-WHERE semantics,
  // mirrored); first scored row is the 21st per type.
  private val HwLags = 4
  private val HwDen = 15L // Σ_{j=0..3} 2^j

  private[graft] def holtWintersOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    def stage(src: Column, lags: Int, step: Int): Column =
      (0 until lags).map(j =>
        lag(src, j * step).over(w) * lit(1L << (lags - 1 - j))).reduce(_ + _)
    val s1 = Series.daily(events)
      .select(col("event_type"), col("d"), col("y"),
        stage(col("y"), HwLags, 1).as("n1"))
      .filter(col("n1").isNotNull)
    val s2 = s1
      .select(col("event_type"), col("d"), col("y"),
        (lit(15L) * col("y") - col("n1")).as("dev"),
        (lit(3L * HwDen) * col("n1") -
          lit(2L) * stage(col("n1"), HwLags, 1)).as("brown"))
      .filter(col("brown").isNotNull)
    val s3 = s2
      .select(col("event_type"), col("d"), col("y"), col("brown"),
        stage(col("dev"), 2, 7).as("sea"))
      .filter(col("sea").isNotNull)
    s3.select(col("event_type"), col("y"),
        (lag(col("brown"), 1).over(w) +
          lit(5L) * lag(col("sea"), 7).over(w)).as("pf"),
        lag(col("y"), 7).over(w).as("py7"))
      .filter(col("pf").isNotNull && col("py7").isNotNull)
      .select(col("event_type"),
        (col("y") * lit(225L) - col("pf")).as("err"),
        abs(col("y") - col("py7")).as("snaive_err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(abs(col("err"))).as("sa"),
        sum(col("err")).as("se"), sum(col("snaive_err")).as("sn"))
      .selectExpr("event_type", "n AS n_forecasts",
        "floor((CAST(sa AS DOUBLE) / 225 / n)*1e6 + 0.5)/1e6 AS hw_mae",
        "floor((CAST(se AS DOUBLE) / 225 / n)*1e6 + 0.5)/1e6 AS hw_bias",
        "floor((CAST(sn AS DOUBLE) / n)*1e6 + 0.5)/1e6 AS snaive_mae")
      .orderBy("event_type")
  }

  private def holtWinters(s: SparkSession, dir: String): DataFrame =
    holtWintersOn(loadEvents(s, dir))

  private val holtWintersOracle = {
    def stage(x: String, lags: Int, step: Int): String =
      (0 until lags).map(j =>
        (if (j == 0) x else s"lag($x, ${j * step}) OVER w") +
          s"*${1L << (lags - 1 - j)}").mkString(" + ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |s1 AS (
       |  SELECT * FROM (
       |    SELECT event_type, d, y, ${stage("y", HwLags, 1)} AS n1
       |    FROM daily
       |    WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE n1 IS NOT NULL),
       |s2 AS (
       |  SELECT event_type, d, y, 15*y - n1 AS dev, brown FROM (
       |    SELECT event_type, d, y, n1,
       |      45*n1 - 2*(${stage("n1", HwLags, 1)}) AS brown
       |    FROM s1
       |    WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE brown IS NOT NULL),
       |s3 AS (
       |  SELECT * FROM (
       |    SELECT event_type, d, y, brown, ${stage("dev", 2, 7)} AS sea
       |    FROM s2
       |    WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE sea IS NOT NULL),
       |scored AS (
       |  SELECT event_type, y*225 - pf AS err,
       |    abs(y - py7) AS snaive_err
       |  FROM (
       |    SELECT event_type, y,
       |      lag(brown, 1) OVER w + 5*lag(sea, 7) OVER w AS pf,
       |      lag(y, 7) OVER w AS py7
       |    FROM s3
       |    WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE pf IS NOT NULL AND py7 IS NOT NULL),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(abs(err)) AS BIGINT) AS sa,
       |    CAST(sum(err) AS BIGINT) AS se,
       |    CAST(sum(snaive_err) AS BIGINT) AS sn
       |  FROM scored GROUP BY 1)
       |SELECT event_type, n AS n_forecasts,
       |  floor((CAST(sa AS DOUBLE) / 225 / n)*1e6 + 0.5)/1e6 AS hw_mae,
       |  floor((CAST(se AS DOUBLE) / 225 / n)*1e6 + 0.5)/1e6 AS hw_bias,
       |  floor((CAST(sn AS DOUBLE) / n)*1e6 + 0.5)/1e6 AS snaive_mae
       |FROM g ORDER BY event_type""".stripMargin
  }

  // ---- evt_seasonal_naive_backtest ---------------------------------
  // Backtest of the seasonal-naive forecaster (ŷ(d) = y(d−7)) on the
  // daily order-count series: MAPE, sMAPE, and bias over every day
  // with a 7-days-earlier observation. The lag is a gap-safe
  // EQUI-JOIN on d−7 (not a row-offset lag — a missing calendar day
  // would silently shift a lag(7) window), which also keeps the
  // daily-series join co-partitioned at any scale.
  private def seasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.orderCounts(load(s, dir, "orders"))
    val f = daily.select(date_add(col("d"), 7).as("d"), col("c").as("fc"))
    daily.join(f, "d")
      .agg(count(lit(1)).as("n_scored"),
        round(avg(abs(col("c") - col("fc")).cast("double") /
          col("c").cast("double")), 6).as("mape"),
        round(avg(abs(col("c") - col("fc")).cast("double") * 2.0 /
          (col("c") + col("fc")).cast("double")), 6).as("smape"),
        round(avg((col("c") - col("fc")).cast("double")), 6).as("bias"))
  }

  private val seasonalNaiveOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE))
      |SELECT CAST(count(*) AS BIGINT) AS n_scored,
      |  round(avg(CAST(abs(a.c - f.c) AS DOUBLE) / CAST(a.c AS DOUBLE)), 6)
      |    AS mape,
      |  round(avg(CAST(abs(a.c - f.c) AS DOUBLE) * 2.0 /
      |    CAST(a.c + f.c AS DOUBLE)), 6) AS smape,
      |  round(avg(CAST(a.c - f.c AS DOUBLE)), 6) AS bias
      |FROM daily a JOIN daily f ON a.d = f.d + 7""".stripMargin


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_ewma_backtest" -> (ewmaBacktest _),
    "win_holt_backtest" -> (holtBacktest _),
    "evt_holt_winters" -> (holtWinters _),
    "evt_seasonal_naive_backtest" -> (seasonalNaive _)
  )

  val oracle: Map[String, String] = Map(
    "win_ewma_backtest" -> ewmaBacktestOracle,
    "win_holt_backtest" -> holtBacktestOracle,
    "evt_holt_winters" -> holtWintersOracle,
    "evt_seasonal_naive_backtest" -> seasonalNaiveOracle
  )
}
