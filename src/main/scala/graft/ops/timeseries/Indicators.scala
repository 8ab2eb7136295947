package graft.ops.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Trading-style indicators over the daily order series (SURVEY.md
  * §2.24, §2.34, §2.37, §2.38, §2.40, §2.45, §2.45b, §2.57, §2.60,
  * §2.62, §2.64, §2.72; §2.21 for the EWMA):
  *
  *  - over daily revenue ([[Series.revenue]]): Bollinger bands, RSI,
  *    the ulcer index and the expected shortfall (`agg_cvar`);
  *
  *  - over the daily cents candle ([[Series.candle]]): Wilder's true
  *    range and ATR, Donchian channel breakouts, floor-trader pivot
  *    points and the Keltner channel (SMA of the typical price banded
  *    by true range);
  *
  *  - over each nation's daily revenue ([[Series.nationRevenue]]):
  *    truncated-kernel EWMA, MACD, the stochastic oscillator, rolling
  *    skewness/kurtosis, the centered rolling median, and the depth
  *    (`win_drawdown`) and duration (`win_drawdown_duration`) of
  *    drawdowns from the 7-day level's running peak
  *    ([[Series.levelPeak]]);
  *
  *  - month-to-date VWAP over the daily shipped-lineitem sums.
  *
  * Scale shape: every window runs over a |days| or |nation|×|days|
  * aggregate, never the fact; the single-series windows are
  * horizon-bounded (the changepoint precedent).
  *
  * Determinism: revenue stays exact DECIMAL and candles exact cents
  * through every window sum, running max and true range; each
  * statistic assembles once in IEEE double from formula text shared
  * by both engines (the EWMA/MACD kernels are pinned double literals,
  * the MACD/stochastic/skew bodies one generated SQL text), with
  * floor-form 6-dp rounding where the value is surfaced (§1.5).
  */
object Indicators {

  // ---- win_bollinger -----------------------------------------------
  // 20-day Bollinger bands on daily revenue: mid = SMA₂₀, band =
  // mid ± 2σ (population σ from exact decimal Σx/Σx² window sums),
  // full frames only. Breakout days flagged. Assembly is one shared
  // IEEE tree; σ's radicand clamps at 0 so fp cancellation near
  // zero variance cannot produce NaN on either engine.
  private def bollinger(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.revenue(load(s, dir, "orders"))
    val w = Window.orderBy("d").rowsBetween(-19, 0)
    daily
      .withColumn("fn", count(lit(1)).over(w))
      .withColumn("sx", sum(col("rev")).over(w))
      .withColumn("sx2",
        sum((col("rev") * col("rev")).cast("decimal(31,4)")).over(w))
      .filter(col("fn") === 20)
      .select(col("d"), asD(col("rev")).as("rev"),
        (asD(col("sx")) / lit(20.0)).as("mid"),
        sqrt(greatest(
          (asD(col("sx2")) - asD(col("sx")) * asD(col("sx")) / lit(20.0))
            / lit(20.0), lit(0.0))).as("sigma"))
      .select(col("d"), col("rev"), col("mid"), col("sigma"),
        (col("mid") + lit(2.0) * col("sigma")).as("upper"),
        (col("mid") - lit(2.0) * col("sigma")).as("lower"),
        (col("rev") > col("mid") + lit(2.0) * col("sigma") ||
          col("rev") < col("mid") - lit(2.0) * col("sigma"))
          .as("breakout"))
      .orderBy("d")
  }

  private val bollingerOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2))
      |      AS rev
      |  FROM orders GROUP BY 1),
      |win AS (
      |  SELECT d, rev,
      |    count(*) OVER w AS fn,
      |    sum(rev) OVER w AS sx,
      |    sum(CAST(CAST(rev AS DECIMAL(19,2)) * rev AS DECIMAL(31,4)))
      |      OVER w AS sx2
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |a AS (
      |  SELECT d, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 20.0 AS mid,
      |    sqrt(greatest(
      |      (CAST(CAST(sx2 AS VARCHAR) AS DOUBLE)
      |        - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
      |          * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 20.0) / 20.0,
      |      0.0)) AS sigma
      |  FROM win WHERE fn = 20)
      |SELECT d, rev, mid, sigma,
      |  mid + 2.0 * sigma AS upper,
      |  mid - 2.0 * sigma AS lower,
      |  (rev > mid + 2.0 * sigma OR rev < mid - 2.0 * sigma) AS breakout
      |FROM a ORDER BY d""".stripMargin


  // ---- win_rsi -----------------------------------------------------
  // Wilder's RSI (simple-average form) over daily revenue: ±moves
  // from exact decimal day-over-day diffs, 14-row full-frame window
  // sums, RSI = 100 − 100/(1 + gains/losses); an all-gain window
  // surfaces RSI = 100 exactly on both engines.
  private def rsi(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.revenue(load(s, dir, "orders"))
    val lagW = Window.orderBy("d")
    val w = Window.orderBy("d").rowsBetween(-13, 0)
    daily
      .withColumn("diff",
        (col("rev") - lag(col("rev"), 1).over(lagW)).cast("decimal(16,2)"))
      .filter(col("diff").isNotNull)
      .withColumn("gain", greatest(col("diff"), lit(0).cast("decimal(16,2)")))
      .withColumn("loss", greatest(-col("diff"), lit(0).cast("decimal(16,2)")))
      .withColumn("fn", count(lit(1)).over(w))
      .withColumn("sg", sum(col("gain")).over(w))
      .withColumn("sl", sum(col("loss")).over(w))
      .filter(col("fn") === 14)
      .select(col("d"),
        (asD(col("sg")) / lit(14.0)).as("avg_gain"),
        (asD(col("sl")) / lit(14.0)).as("avg_loss"),
        when(asD(col("sl")) === lit(0.0), lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) /
            (lit(1.0) + (asD(col("sg")) / lit(14.0)) /
              (asD(col("sl")) / lit(14.0))))
          .as("rsi"))
      .orderBy("d")
  }

  private val rsiOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2))
      |      AS rev
      |  FROM orders GROUP BY 1),
      |dd AS (
      |  SELECT d, CAST(rev - lag(rev, 1) OVER (ORDER BY d)
      |    AS DECIMAL(16,2)) AS diff
      |  FROM daily),
      |gl AS (
      |  -- CASE, not greatest(): DuckDB's greatest(DECIMAL, DECIMAL)
      |  -- silently returns DOUBLE, which poisons the window sums
      |  SELECT d,
      |    CASE WHEN diff > 0 THEN diff ELSE CAST(0 AS DECIMAL(16,2)) END
      |      AS gain,
      |    CASE WHEN diff < 0 THEN -diff ELSE CAST(0 AS DECIMAL(16,2)) END
      |      AS loss
      |  FROM dd WHERE diff IS NOT NULL),
      |win AS (
      |  SELECT d, count(*) OVER w AS fn,
      |    sum(gain) OVER w AS sg, sum(loss) OVER w AS sl
      |  FROM gl
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT d,
      |  CAST(CAST(sg AS VARCHAR) AS DOUBLE) / 14.0 AS avg_gain,
      |  CAST(CAST(sl AS VARCHAR) AS DOUBLE) / 14.0 AS avg_loss,
      |  CASE WHEN CAST(CAST(sl AS VARCHAR) AS DOUBLE) = 0.0 THEN 100.0
      |    ELSE 100.0 - 100.0 /
      |      (1.0 + (CAST(CAST(sg AS VARCHAR) AS DOUBLE) / 14.0) /
      |        (CAST(CAST(sl AS VARCHAR) AS DOUBLE) / 14.0)) END AS rsi
      |FROM win WHERE fn = 14 ORDER BY d""".stripMargin


  // ---- win_ulcer_index ---------------------------------------------
  // Ulcer index (Martin 1987) in revenue units: running-peak
  // drawdowns of the daily revenue series, 14-day RMS of the
  // drawdown depth, full frames only. Depths and their squares stay
  // EXACT DECIMAL through the window sum; the single sqrt is the
  // only floating-point operation.
  private def ulcerIndex(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.revenue(load(s, dir, "orders"))
    val wPeak = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w14 = Window.orderBy("d").rowsBetween(-13, 0)
    daily
      .withColumn("peak", max(col("rev")).over(wPeak))
      .withColumn("dd", (col("peak") - col("rev")).cast("decimal(16,2)"))
      .withColumn("fn", count(lit(1)).over(w14))
      .withColumn("sdd2",
        sum((col("dd") * col("dd")).cast("decimal(33,4)")).over(w14))
      .filter(col("fn") === 14)
      .select(col("d"), asD(col("dd")).as("drawdown"),
        sqrt(asD(col("sdd2")) / lit(14.0)).as("ulcer"))
      .orderBy("d")
  }

  private val ulcerIndexOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2))
      |      AS rev
      |  FROM orders GROUP BY 1),
      |pk AS (
      |  SELECT d, rev,
      |    CAST(max(rev) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) -
      |      rev AS DECIMAL(16,2)) AS dd
      |  FROM daily),
      |win AS (
      |  SELECT d, dd, count(*) OVER w AS fn,
      |    sum(CAST(CAST(dd AS DECIMAL(19,2)) * dd AS DECIMAL(33,4)))
      |      OVER w AS sdd2
      |  FROM pk
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT d, CAST(CAST(dd AS VARCHAR) AS DOUBLE) AS drawdown,
      |  sqrt(CAST(CAST(sdd2 AS VARCHAR) AS DOUBLE) / 14.0) AS ulcer
      |FROM win WHERE fn = 14 ORDER BY d""".stripMargin


  // ---- agg_cvar ----------------------------------------------------
  // Expected shortfall (CVaR₀.₀₅) of daily revenue: the mean of the
  // worst-5% days, plus the VaR threshold and the single worst day —
  // the tail-risk complement to win_drawdown's path risk. Daily
  // revenue is decimal-exact; the 5th-percentile threshold
  // interpolates those exact values; the tail mean's double drift is
  // absorbed by 6-dp rounding.
  private def cvar(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.byOrderDay(load(s, dir, "orders"),
      asD(sum(money(col("o_totalprice"))).cast("decimal(18,2)")).as("rev"))
    val th = broadcast(daily.agg(
      expr("percentile(rev, 0.05)").as("var05")))
    val worst = Window.orderBy(col("rev").asc, col("d").asc)
    daily.crossJoin(th)
      .withColumn("wr", row_number().over(worst))
      .agg(count(lit(1)).as("n_days"),
        round(first(col("var05")), 6).as("var05"),
        round(avg(when(col("rev") <= col("var05"), col("rev"))), 6)
          .as("cvar05"),
        max(when(col("wr") === 1, col("d"))).as("worst_day"),
        round(max(when(col("wr") === 1, col("rev"))), 6).as("worst_rev"))
  }

  private val cvarOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(15,2)))
      |      AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS rev
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |th AS (SELECT quantile_cont(rev, 0.05) AS var05 FROM daily),
      |w AS (
      |  SELECT d, rev, var05,
      |    row_number() OVER (ORDER BY rev, d) AS wr
      |  FROM daily CROSS JOIN th)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |  round(any_value(var05), 6) AS var05,
      |  round(avg(CASE WHEN rev <= var05 THEN rev END), 6) AS cvar05,
      |  max(CASE WHEN wr = 1 THEN d END) AS worst_day,
      |  round(max(CASE WHEN wr = 1 THEN rev END), 6) AS worst_rev
      |FROM w""".stripMargin


  // ---- win_true_range_atr ----------------------------------------------
  // Wilder's True Range and 14-day ATR: TR folds the intraday
  // high-low span AND the gap vs the prior close into one volatility
  // number; TR and its window sum are exact cents, the ATR assembles
  // once with floor-6.
  private[graft] def trueRangeAtrOn(orders: DataFrame): DataFrame = {
    val daily = Series.candle(orders)
    val lagW = Window.orderBy("d")
    val w14 = Window.orderBy("d").rowsBetween(-13, 0)
    daily
      .withColumn("pc", lag(col("cl"), 1).over(lagW))
      .withColumn("tr", Series.trueRange)
      .withColumn("fn", count(lit(1)).over(w14))
      .withColumn("s14", sum(col("tr")).over(w14))
      .filter(col("fn") === 14)
      .selectExpr("d", "hi AS hi_cents", "lo AS lo_cents",
        "cl AS close_cents", "tr AS tr_cents",
        "floor(((CAST(s14 AS DOUBLE) / 100) / 14)*1e6 + 0.5)/1e6 AS atr")
      .orderBy("d")
  }

  private def trueRangeAtr(s: SparkSession, dir: String): DataFrame =
    trueRangeAtrOn(load(s, dir, "orders"))

  private val trueRangeAtrOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    max(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS hi,
      |    min(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS lo,
      |    max_by(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT),
      |      o_orderkey) AS cl
      |  FROM orders GROUP BY 1),
      |pcs AS (
      |  SELECT d, hi, lo, cl, lag(cl, 1) OVER (ORDER BY d) AS pc
      |  FROM daily),
      |trs AS (
      |  SELECT d, hi, lo, cl,
      |    CASE WHEN pc IS NULL THEN hi - lo
      |     WHEN hi - lo >= abs(hi - pc) AND hi - lo >= abs(lo - pc)
      |       THEN hi - lo
      |     WHEN abs(hi - pc) >= abs(lo - pc) THEN abs(hi - pc)
      |     ELSE abs(lo - pc) END AS tr
      |  FROM pcs),
      |w AS (
      |  SELECT d, hi, lo, cl, tr,
      |    count(*) OVER win AS fn,
      |    CAST(sum(tr) OVER win AS BIGINT) AS s14
      |  FROM trs
      |  WINDOW win AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT d, hi AS hi_cents, lo AS lo_cents, cl AS close_cents,
      |  tr AS tr_cents,
      |  floor(((CAST(s14 AS DOUBLE) / 100) / 14)*1e6 + 0.5)/1e6 AS atr
      |FROM w WHERE fn = 14 ORDER BY d""".stripMargin


  // ---- win_donchian_channel --------------------------------------------
  // 20-day Donchian channel: prior-20-day high/low (current day
  // EXCLUDED, the breakout convention) and an up/down/none verdict.
  private[graft] def donchianChannelOn(orders: DataFrame): DataFrame = {
    val daily = Series.candle(orders)
    val w20 = Window.orderBy("d").rowsBetween(-20, -1)
    daily
      .withColumn("fn", count(lit(1)).over(w20))
      .withColumn("dhi", max(col("hi")).over(w20))
      .withColumn("dlo", min(col("lo")).over(w20))
      .filter(col("fn") === 20)
      .select(col("d"), col("cl").as("close_cents"),
        col("dhi").as("channel_hi_cents"), col("dlo").as("channel_lo_cents"),
        when(col("cl") > col("dhi"), "up")
          .when(col("cl") < col("dlo"), "down")
          .otherwise("none").as("breakout"))
      .orderBy("d")
  }

  private def donchianChannel(s: SparkSession, dir: String): DataFrame =
    donchianChannelOn(load(s, dir, "orders"))

  private val donchianChannelOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    max(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS hi,
      |    min(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS lo,
      |    max_by(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT),
      |      o_orderkey) AS cl
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT d, cl,
      |    count(*) OVER win AS fn,
      |    max(hi) OVER win AS dhi,
      |    min(lo) OVER win AS dlo
      |  FROM daily
      |  WINDOW win AS (ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT d, cl AS close_cents, dhi AS channel_hi_cents,
      |  dlo AS channel_lo_cents,
      |  CASE WHEN cl > dhi THEN 'up' WHEN cl < dlo THEN 'down'
      |   ELSE 'none' END AS breakout
      |FROM w WHERE fn = 20 ORDER BY d""".stripMargin


  // ---- win_pivot_points ------------------------------------------------
  // Classic floor-trader pivot levels (P, R1/S1, R2/S2) for each day
  // from the PREVIOUS day's candle.
  private def level(expr0: String, alias: String): String =
    s"floor((($expr0)/100*1e6) + 0.5)/1e6 AS $alias"

  private[graft] def pivotPointsOn(orders: DataFrame): DataFrame = {
    val daily = Series.candle(orders)
    val w = Window.orderBy("d")
    daily
      .select(col("d"), lag(col("hi"), 1).over(w).as("ph"),
        lag(col("lo"), 1).over(w).as("pl"), lag(col("cl"), 1).over(w).as("pc"))
      .filter(col("ph").isNotNull)
      .selectExpr("d",
        level("CAST(ph + pl + pc AS DOUBLE)/3", "pivot"),
        level("2*CAST(ph + pl + pc AS DOUBLE)/3 - pl", "r1"),
        level("2*CAST(ph + pl + pc AS DOUBLE)/3 - ph", "s1"),
        level("CAST(ph + pl + pc AS DOUBLE)/3 + (ph - pl)", "r2"),
        level("CAST(ph + pl + pc AS DOUBLE)/3 - (ph - pl)", "s2"))
      .orderBy("d")
  }

  private def pivotPoints(s: SparkSession, dir: String): DataFrame =
    pivotPointsOn(load(s, dir, "orders"))

  private val pivotPointsOracle = {
    def lv(e: String, a: String) =
      s"floor((($e)/100*1e6) + 0.5)/1e6 AS $a"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    max(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS hi,
       |    min(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS lo,
       |    max_by(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT),
       |      o_orderkey) AS cl
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT d, lag(hi, 1) OVER (ORDER BY d) AS ph,
       |    lag(lo, 1) OVER (ORDER BY d) AS pl,
       |    lag(cl, 1) OVER (ORDER BY d) AS pc
       |  FROM daily)
       |SELECT d,
       |  ${lv("CAST(ph + pl + pc AS DOUBLE)/3", "pivot")},
       |  ${lv("2*CAST(ph + pl + pc AS DOUBLE)/3 - pl", "r1")},
       |  ${lv("2*CAST(ph + pl + pc AS DOUBLE)/3 - ph", "s1")},
       |  ${lv("CAST(ph + pl + pc AS DOUBLE)/3 + (ph - pl)", "r2")},
       |  ${lv("CAST(ph + pl + pc AS DOUBLE)/3 - (ph - pl)", "s2")}
       |FROM lagged WHERE ph IS NOT NULL ORDER BY d""".stripMargin
  }


  // ---- win_keltner_channel ----------------------------------------------
  // SMA(10) of the typical price (H+L+C)/3 banded at ± 2·ATR(10) —
  // SMA form of both legs (not Wilder's EMA recursion), mirrored in
  // the oracle. The midline flag compares exact integers.
  private val KcN = 10

  private[graft] def keltnerOn(orders: DataFrame): DataFrame = {
    val daily = Series.candle(orders)
    val lagW = Window.orderBy("d")
    val wN = Window.orderBy("d").rowsBetween(-(KcN - 1), 0)
    daily
      .withColumn("pc", lag(col("cl"), 1).over(lagW))
      .withColumn("tr", Series.trueRange)
      .withColumn("tp3", col("hi") + col("lo") + col("cl"))
      .withColumn("fn", count(lit(1)).over(wN))
      .withColumn("stp3", sum(col("tp3")).over(wN))
      .withColumn("str", sum(col("tr")).over(wN))
      .filter(col("fn") === KcN)
      .selectExpr("d", "cl AS close_cents",
        s"floor((CAST(stp3 AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS middle",
        s"floor((CAST(stp3 + 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS upper_band",
        s"floor((CAST(stp3 - 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS lower_band",
        // EXACT integer midline compare on the common denominator 3n
        // (cl vs Σtp3/(3n) ⇔ cl·3n vs Σtp3). The ±2·ATR band flag is
        // degenerate on this candle — TR spans the whole daily price
        // range, so closes are 'inside' at every SF; the midline side
        // is the standard Keltner trend filter and actually varies.
        s"""CASE WHEN cl*3*$KcN > stp3 THEN 'above_mid'
           | WHEN cl*3*$KcN < stp3 THEN 'below_mid'
           | ELSE 'at_mid' END AS midline_side""".stripMargin)
      .orderBy("d")
  }

  private def keltnerChannel(s: SparkSession, dir: String): DataFrame =
    keltnerOn(load(s, dir, "orders"))

  private val keltnerOracle =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    max(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS hi,
       |    min(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS lo,
       |    max_by(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT),
       |      o_orderkey) AS cl
       |  FROM orders GROUP BY 1),
       |pcs AS (
       |  SELECT d, hi, lo, cl, lag(cl, 1) OVER (ORDER BY d) AS pc
       |  FROM daily),
       |trs AS (
       |  SELECT d, hi, lo, cl, hi + lo + cl AS tp3,
       |    CASE WHEN pc IS NULL THEN hi - lo
       |     WHEN hi - lo >= abs(hi - pc) AND hi - lo >= abs(lo - pc)
       |       THEN hi - lo
       |     WHEN abs(hi - pc) >= abs(lo - pc) THEN abs(hi - pc)
       |     ELSE abs(lo - pc) END AS tr
       |  FROM pcs),
       |w AS (
       |  SELECT d, cl,
       |    count(*) OVER win AS fn,
       |    CAST(sum(tp3) OVER win AS BIGINT) AS stp3,
       |    CAST(sum(tr) OVER win AS BIGINT) AS str
       |  FROM trs
       |  WINDOW win AS (ORDER BY d
       |    ROWS BETWEEN ${KcN - 1} PRECEDING AND CURRENT ROW))
       |SELECT d, cl AS close_cents,
       |  floor((CAST(stp3 AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS middle,
       |  floor((CAST(stp3 + 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6
       |    AS upper_band,
       |  floor((CAST(stp3 - 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6
       |    AS lower_band,
       |  CASE WHEN cl*3*$KcN > stp3 THEN 'above_mid'
       |   WHEN cl*3*$KcN < stp3 THEN 'below_mid'
       |   ELSE 'at_mid' END AS midline_side
       |FROM w WHERE fn = $KcN ORDER BY d""".stripMargin


  /** Each nation's daily revenue as the DOUBLE series (n_name, day, x)
    * the EWMA, MACD, stochastic and rolling-skew SQL bodies read. */
  private def nationX(s: SparkSession, dir: String): DataFrame =
    Series.nationRevenue(s, dir)
      .select(col("n_name"), col("d").as("day"), col("rev").cast("double").as("x"))

  // ---- win_ewma_smooth ---------------------------------------------
  // Truncated-kernel EWMA over each nation's daily order revenue:
  // y_t = Σ_{j=0..7} w_j·x_{t-j} / Σ_{j present} w_j with w_j =
  // 0.7^j pinned as exact double LITERALS (no cross-engine pow
  // call). The recursive EWMA is inherently sequential; the
  // 8-term truncation re-expresses it as a fixed window frame —
  // embarrassingly parallel per nation, kernel mass 1−0.7^8 ≈ 94%
  // covered. Daily revenue aggregates as exact DECIMAL (scaled
  // ≪ 2^53, so the double conversion is exact); head-of-series
  // rows renormalize over the weights actually present.
  private val ewmaWeights = Seq(
    "1.0", "0.7", "0.49", "0.343", "0.2401",
    "0.16807", "0.117649", "0.0823543")

  private def ewmaTerms(lagf: (String, Int) => String): (String, String) = {
    val num = ewmaWeights.zipWithIndex.map { case (w, j) =>
      s"coalesce(${lagf("x", j)}, 0.0) * $w"
    }.mkString(" + ")
    val den = ewmaWeights.zipWithIndex.map { case (w, j) =>
      s"CASE WHEN ${lagf("x", j)} IS NULL THEN 0.0 ELSE $w END"
    }.mkString(" + ")
    (num, den)
  }

  private def ewmaSmooth(s: SparkSession, dir: String): DataFrame = {
    val daily = nationX(s, dir)
    val (num, den) = ewmaTerms((c, j) =>
      if (j == 0) c
      else s"lag($c, $j) OVER (PARTITION BY n_name ORDER BY day)")
    daily.createOrReplaceTempView("daily_rev")
    // floor(v·10⁶ + 0.5)/10⁶, not round(v, 6): Spark rounds the exact
    // binary expansion of the double (BigDecimal HALF_UP) while DuckDB
    // rounds via v*10⁶ in floating point — a value ~1e-12 from a .5
    // boundary lands on different sides (the r9 tri-SF straddle,
    // 1/55134 rows at sf0.1). The floor form is computed identically
    // on identical doubles by BOTH engines (the llm_embed_quantize
    // discipline), so the straddle cannot occur.
    // 1e6, not 1000000.0: a plain decimal literal parses as DECIMAL in
    // Spark SQL and drags the division into decimal arithmetic (the
    // result surfaced as DECIMAL, red on dtype); the exponent literal
    // is DOUBLE in both engines, keeping the whole tree IEEE.
    s.sql(
      s"""SELECT n_name, day, round(x, 2) AS revenue,
         |  floor((($num) / ($den)) * 1e6 + 0.5) / 1e6 AS ewma
         |FROM daily_rev ORDER BY n_name, day""".stripMargin)
  }

  private val ewmaOracle = {
    val (num, den) = ewmaTerms((c, j) =>
      if (j == 0) c
      else s"lag($c, $j) OVER (PARTITION BY n_name ORDER BY day)")
    s"""WITH daily_rev AS (
       |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name, day)
       |SELECT n_name, day, round(x, 2) AS revenue,
       |  floor((($num) / ($den)) * 1e6 + 0.5) / 1e6 AS ewma
       |FROM daily_rev ORDER BY n_name, day""".stripMargin
  }


  // ---- win_macd ----------------------------------------------------
  // MACD(12, 26, 9) per nation: the recursive EMAs as truncated fixed
  // kernels (≥95% kernel mass: 18/39/14 terms) with pinned weights;
  // head-of-series rows renormalize over the weights present.
  /** Truncated-kernel weights (1-α)^j as exact double literals —
    * Double.toString round-trips, and both engines parse a decimal
    * literal to the nearest double, so the kernels are bit-identical. */
  private def kernel(alpha: Double, k: Int): Seq[String] = {
    val base = 1.0 - alpha
    Iterator.iterate(1.0)(_ * base).take(k).map(_.toString).toSeq
  }

  /** Σ w_j·lag(x, j) OVER w / Σ_{j present} w_j, renormalized at the
    * head of each series. `x` is the smoothed column name. */
  private def emaExpr(x: String, weights: Seq[String]): String = {
    // Every weight literal is routed through CAST('…' AS DOUBLE) — a
    // VARCHAR, not a bare decimal literal: DuckDB parses a
    // 16-significant-digit bare literal as a wide DECIMAL and the
    // decimal→double cast DOUBLE-ROUNDS once the mantissa exceeds 2^53
    // (§1.5 rule 7 — 9259259259259259 > 2^53, so several (1−α)^j
    // weights landed one ulp off Spark's and 18/55134 rows straddled
    // the 6-dp boundary at sf0.1). The string parse is a correctly
    // rounded strtod on both engines, so the kernels are bit-identical.
    // (It also keeps the denominator's CASE-sum out of DECIMAL(18)
    // overflow, the original reason for the CAST.)
    val num = weights.zipWithIndex.map { case (wj, j) =>
      if (j == 0) s"coalesce($x, 0.0) * CAST('$wj' AS DOUBLE)"
      else s"coalesce(lag($x, $j) OVER w, 0.0) * CAST('$wj' AS DOUBLE)"
    }.mkString(" + ")
    val den = weights.zipWithIndex.map { case (wj, j) =>
      if (j == 0) s"CASE WHEN $x IS NULL THEN 0.0 ELSE CAST('$wj' AS DOUBLE) END"
      else s"CASE WHEN lag($x, $j) OVER w IS NULL THEN 0.0 ELSE CAST('$wj' AS DOUBLE) END"
    }.mkString(" + ")
    s"(($num) / ($den))"
  }

  /** The MACD body over a `daily` relation (n_name, day, x) — ONE
    * generated SQL text for both engines (identical IEEE trees). */
  private def macdSql(daily: String): String = {
    val ema12 = emaExpr("x", kernel(2.0 / 13, 18))
    val ema26 = emaExpr("x", kernel(2.0 / 27, 39))
    val sig = emaExpr("macd", kernel(2.0 / 10, 14))
    // floor(v·10⁶ + 0.5)/10⁶, not round(v, 6): identical on identical
    // doubles in BOTH engines — Spark's exact-binary HALF_UP vs
    // DuckDB's v*10⁶ float rounding straddled a .5 boundary on 18/55134
    // rows at sf0.1 (r9 tri-SF note). MACD values go negative; the
    // floor form ties halves toward +inf on both engines alike, which
    // is all the cross-engine compare needs.
    // 1e6 (DOUBLE in both SQL dialects), not 1000000.0 (DECIMAL in
    // Spark SQL — it dragged the division into decimal arithmetic).
    def r6(v: String) = s"floor(($v) * 1e6 + 0.5) / 1e6"
    s"""WITH $daily
       |m AS (
       |  SELECT n_name, day, ($ema12 - $ema26) AS macd
       |  FROM daily WINDOW w AS (PARTITION BY n_name ORDER BY day))
       |SELECT n_name, day, ${r6("macd")} AS macd,
       |  ${r6(sig)} AS signal_line,
       |  ${r6(s"macd - $sig")} AS histogram
       |FROM m WINDOW w AS (PARTITION BY n_name ORDER BY day)
       |ORDER BY n_name, day""".stripMargin
  }

  /** Test hook: the generated MACD SQL over an externally-registered
    * `graft_macd_daily` view (Round27Spec feeds a constant series to
    * assert the zero fixpoint). */
  private[graft] def macdSqlForTest: String =
    macdSql("daily AS (SELECT * FROM graft_macd_daily),")

  private def macd(s: SparkSession, dir: String): DataFrame = {
    nationX(s, dir).createOrReplaceTempView("graft_macd_daily")
    s.sql(macdSql("daily AS (SELECT * FROM graft_macd_daily),"))
  }

  private val macdOracle = macdSql(
    """daily AS (
      |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, day),""".stripMargin)


  // ---- win_stochastic ----------------------------------------------
  private def stochasticSql(daily: String): String =
    s"""WITH $daily
       |k AS (
       |  SELECT n_name, day, x,
       |    min(x) OVER w14 AS lo14, max(x) OVER w14 AS hi14
       |  FROM daily
       |  WINDOW w14 AS (PARTITION BY n_name ORDER BY day
       |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
       |pk AS (
       |  SELECT n_name, day,
       |    100.0 * (x - lo14) / nullif(hi14 - lo14, 0.0) AS pct_k
       |  FROM k)
       |SELECT n_name, day, round(pct_k, 6) AS pct_k,
       |  round(avg(pct_k) OVER (PARTITION BY n_name ORDER BY day
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS pct_d
       |FROM pk ORDER BY n_name, day""".stripMargin

  private def stochastic(s: SparkSession, dir: String): DataFrame = {
    nationX(s, dir).createOrReplaceTempView("graft_stoch_daily")
    s.sql(stochasticSql("daily AS (SELECT * FROM graft_stoch_daily),"))
  }

  private val stochasticOracle = stochasticSql(
    """daily AS (
      |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, day),""".stripMargin)


  // ---- win_rolling_skew --------------------------------------------
  // Exact power sums of daily revenue CENTS inside the frame; the
  // assembly formulas are shared TEXT so the IEEE trees match.
  private val rxd = "CAST(x AS DECIMAL(18,2))"
  private val rx2 = s"CAST($rxd * $rxd AS DECIMAL(38,4))"
  private val rx3 = s"CAST($rx2 * $rxd AS DECIMAL(38,6))"
  private val rx4 = s"CAST($rx2 * $rx2 AS DECIMAL(38,8))"
  private val rm2F = "(s2/n - (s1/n)*(s1/n))"
  private val rskewF =
    s"round((s3/n - 3.0*(s1/n)*$rm2F - (s1/n)*(s1/n)*(s1/n)) / ($rm2F * sqrt($rm2F)), 6)"
  private val rkurtF =
    s"round((s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) " +
      s"- 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / ($rm2F*$rm2F) - 3.0, 6)"

  /** `sumCast` renders the decimal-window-sum→double cast per engine
    * (§1.5 r7: the oracle routes through VARCHAR because DuckDB's
    * direct decimal→double cast double-rounds past 2^53). */
  private def rollingSkewSql(daily: String, sumCast: String => String)
      : String = {
    def ws(inner: String, alias: String) =
      s"${sumCast(s"sum($inner) OVER w30")} AS $alias"
    s"""WITH $daily
       |m AS (
       |  SELECT n_name, day,
       |    CAST(count(*) OVER w30 AS DOUBLE) AS n,
       |    ${ws(rxd, "s1")},
       |    ${ws(rx2, "s2")},
       |    ${ws(rx3, "s3")},
       |    ${ws(rx4, "s4")}
       |  FROM daily
       |  WINDOW w30 AS (PARTITION BY n_name ORDER BY day
       |                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
       |SELECT n_name, day, CAST(n AS BIGINT) AS n_days,
       |  round(s1/n, 6) AS mean_rev,
       |  $rskewF AS skewness,
       |  $rkurtF AS kurtosis
       |FROM m WHERE n >= 10
       |ORDER BY n_name, day""".stripMargin
  }

  /** Test hook: the generated rolling-moments SQL over an externally
    * registered `graft_skew_daily` view (Round27Spec feeds an
    * alternating two-point series to assert zero skewness). */
  private[graft] def rollingSkewSqlForTest: String =
    rollingSkewSql("daily AS (SELECT * FROM graft_skew_daily),",
      inner => s"CAST($inner AS DOUBLE)")

  private def rollingSkew(s: SparkSession, dir: String): DataFrame = {
    nationX(s, dir).createOrReplaceTempView("graft_skew_daily")
    s.sql(rollingSkewSql(
      "daily AS (SELECT * FROM graft_skew_daily),",
      inner => s"CAST($inner AS DOUBLE)"))
  }

  private val rollingSkewOracle = rollingSkewSql(
    """daily AS (
      |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
      |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
      |      AS DOUBLE) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, day),""".stripMargin,
    inner => s"CAST(CAST($inner AS VARCHAR) AS DOUBLE)")


  // ---- win_rolling_median ------------------------------------------
  // Exact 7-row centered rolling median of daily nation revenue.
  // Spark has no holistic window aggregate, so the frame is collected
  // (bounded: ≤ 7 values), sorted, and interpolated — the same
  // average-of-middle-two continuous median DuckDB's median() window
  // computes over DOUBLE input.
  private def rollingMedian(s: SparkSession, dir: String): DataFrame = {
    val wf = Window.partitionBy("n_name").orderBy("d").rowsBetween(-3, 3)
    Series.nationRevenue(s, dir)
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
       |  ${Series.nationDailySql})
       |SELECT n_name, d,
       |  round(median(CAST(rev AS DOUBLE)) OVER (PARTITION BY n_name ORDER BY d
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS roll_median
       |FROM daily ORDER BY n_name, d""".stripMargin


  // ---- win_drawdown ------------------------------------------------
  // Max drawdown per nation on the 7-day rolling-revenue level
  // series: running peak minus current level over the running peak.
  // Every cumulative quantity (rolling sum, running max) is exact
  // DECIMAL; the one division is the surfaced score. The worst
  // drawdown's date breaks ties toward the earliest occurrence.
  private def drawdown(s: SparkSession, dir: String): DataFrame = {
    val dd = Series.levelPeak(Series.nationRevenue(s, dir))
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
       |  ${Series.nationDailySql}),
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


  // ---- win_drawdown_duration -------------------------------------------
  // Underwater = level strictly below the running peak (exact
  // DECIMAL comparison). Spells via gap-islands: rn_all − rn_under
  // is constant within a consecutive underwater run.
  private[graft] def drawdownDurationOn(daily: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("n_name").orderBy("d")
    val flagged = Series.levelPeak(daily)
      .withColumn("rn_all", row_number().over(wAll))
      .withColumn("under", col("level") < col("peak"))
    val spells = flagged.filter(col("under"))
      .withColumn("rn_u", row_number().over(wAll))
      .groupBy(col("n_name"), (col("rn_all") - col("rn_u")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_spells"),
        sum(col("len")).as("n_underwater_days"),
        max(col("len")).as("max_spell_days"))
    daily.groupBy(col("n_name")).agg(count(lit(1)).as("n_days"))
      .join(spells, Seq("n_name"), "left")
      .selectExpr("n_name", "n_days",
        "coalesce(n_underwater_days, CAST(0 AS BIGINT)) AS n_underwater_days",
        "coalesce(n_spells, CAST(0 AS BIGINT)) AS n_spells",
        "coalesce(max_spell_days, CAST(0 AS BIGINT)) AS max_spell_days")
      .orderBy("n_name")
  }

  private def drawdownDuration(s: SparkSession, dir: String): DataFrame =
    drawdownDurationOn(Series.nationRevenue(s, dir).localCheckpoint())

  private val drawdownDurationOracle =
    s"""WITH daily AS (
       |  ${Series.nationDailySql}),
       |lvl AS (
       |  SELECT n_name, d,
       |    sum(rev) OVER (PARTITION BY n_name ORDER BY d
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS level
       |  FROM daily),
       |pk AS (
       |  SELECT n_name, d, level,
       |    max(level) OVER (PARTITION BY n_name ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
       |    row_number() OVER (PARTITION BY n_name ORDER BY d) AS rn_all
       |  FROM lvl),
       |und AS (
       |  SELECT n_name, rn_all,
       |    row_number() OVER (PARTITION BY n_name ORDER BY d) AS rn_u
       |  FROM pk WHERE level < peak),
       |isl AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS len
       |  FROM und GROUP BY n_name, rn_all - rn_u),
       |sp AS (
       |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_spells,
       |    CAST(sum(len) AS BIGINT) AS n_underwater_days,
       |    CAST(max(len) AS BIGINT) AS max_spell_days
       |  FROM isl GROUP BY 1),
       |nd AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_days
       |       FROM daily GROUP BY 1)
       |SELECT n_name, n_days,
       |  coalesce(n_underwater_days, CAST(0 AS BIGINT)) AS n_underwater_days,
       |  coalesce(n_spells, CAST(0 AS BIGINT)) AS n_spells,
       |  coalesce(max_spell_days, CAST(0 AS BIGINT)) AS max_spell_days
       |FROM nd LEFT JOIN sp USING (n_name) ORDER BY n_name""".stripMargin


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


  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_bollinger" -> (bollinger _),
    "win_rsi" -> (rsi _),
    "win_ulcer_index" -> (ulcerIndex _),
    "agg_cvar" -> (cvar _),
    "win_true_range_atr" -> (trueRangeAtr _),
    "win_donchian_channel" -> (donchianChannel _),
    "win_pivot_points" -> (pivotPoints _),
    "win_keltner_channel" -> (keltnerChannel _),
    "win_ewma_smooth" -> (ewmaSmooth _),
    "win_macd" -> (macd _),
    "win_stochastic" -> (stochastic _),
    "win_rolling_skew" -> (rollingSkew _),
    "win_rolling_median" -> (rollingMedian _),
    "win_drawdown" -> (drawdown _),
    "win_drawdown_duration" -> (drawdownDuration _),
    "win_vwap" -> (vwap _)
  )

  val oracle: Map[String, String] = Map(
    "win_bollinger" -> bollingerOracle,
    "win_rsi" -> rsiOracle,
    "win_ulcer_index" -> ulcerIndexOracle,
    "agg_cvar" -> cvarOracle,
    "win_true_range_atr" -> trueRangeAtrOracle,
    "win_donchian_channel" -> donchianChannelOracle,
    "win_pivot_points" -> pivotPointsOracle,
    "win_keltner_channel" -> keltnerOracle,
    "win_ewma_smooth" -> ewmaOracle,
    "win_macd" -> macdOracle,
    "win_stochastic" -> stochasticOracle,
    "win_rolling_skew" -> rollingSkewOracle,
    "win_rolling_median" -> rollingMedianOracle,
    "win_drawdown" -> drawdownOracle,
    "win_drawdown_duration" -> drawdownDurationOracle,
    "win_vwap" -> vwapOracle
  )
}
