package graft.ops.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Control charts and drift monitors over the daily series
  * (SURVEY.md §2.50, §2.51, §2.66, §2.86, §2.87):
  *
  *  - [[shewhart]]: Shewhart individuals (I-MR) chart per event type —
  *    center line, moving-range estimate of short-term sigma (MR̄/d₂
  *    via the standard 2.66·MR̄ = 3σ̂ constant), the UCL/LCL limits,
  *    and the out-of-control day counts: the day-level 3σ alarm every
  *    ops dashboard draws first.
  *
  *  - [[ewmaChart]]: EWMA chart — the exponentially-weighted mean
  *    reacts to SMALL PERSISTENT shifts a Shewhart chart misses while
  *    forgetting old data the way CUSUM never does. λ = 1/2 dyadic,
  *    truncated at 16 lags (the win_ewma_backtest discipline): the
  *    statistic's numerator is the exact-integer dot product
  *    Σ_{j=0..16} y_{t−j}·2^(16−j) over 131071 (= 2^17 − 1). Control
  *    limits use the ASYMPTOTIC EWMA sigma μ ± 3σ̂·sqrt(λ/(2−λ)) =
  *    μ ± sqrt(3)·σ̂ with σ̂ the moving-range estimate MR̄/1.128
  *    shared with the Shewhart row; days without a full 16-lag window
  *    score nothing (the steady-state limit is only honest once the
  *    weights have saturated).
  *
  *  - [[cusumDrift]]: CUSUM drift detection — the sequential change
  *    monitor ops teams actually run (evt_changepoint finds the single
  *    best split in hindsight; CUSUM accumulates evidence day by day
  *    and reports the peak). The max(0, S + dev) recursion is NOT
  *    window-expressible directly, but its closed form IS: S_t = C_t −
  *    min(0, min_{i≤t} C_i) over the running deviation sum C — two
  *    window passes sharing one sort, all integers.
  *
  *  - [[pageHinkley]]: Page-Hinkley statistics — the classic
  *    change-detection form streaming ML libraries ship: the
  *    cumulative deviation from the series mean minus its running
  *    minimum. Batch form, no reset-after-alarm — surfaced as the max
  *    statistic plus alarm-day counts in BOTH directions (increase:
  *    M_t − min_{s≤t} M_s; decrease: max_{s≤t} M_s − M_t, extrema
  *    including the empty prefix 0). M_t is kept EXACT by scaling
  *    through the mean's denominator: M_t = nd·cum_t − t·sy; the
  *    alarm bar is the Shewhart 2.66·MR̄.
  *
  *  - [[anomalyMad]]: median-absolute-deviation anomaly days — the
  *    robust |y − med| > 3·MAD rule, where mean/σ rules break under
  *    the very outliers they hunt.
  *
  * Scale shapes: one lag/cum window stack over [[Series.daily]]
  * (localCheckpoint'd where two consumers read it), one hash
  * aggregate per type, ≤5-row stats broadcast back into the same
  * daily aggregate — passes over |types|·|days|, zero passes over raw
  * events beyond the first COUNT.
  *
  * Determinism: Σy, Σ|Δy|, every EWMA numerator, CUSUM and M_t are
  * exact BIGINTs; medians are picked values; limits assemble once
  * from identical formula text (2.66·MR̄ is a decimal-literal
  * PRODUCT onto a double — §1.5 rule 8 safe; sqrt(3) is
  * correctly-rounded IEEE on both engines); violations compare the
  * identically-assembled doubles; surfaced stats floor-6-dp.
  */
object Control {

  // ---- evt_shewhart_individuals ------------------------------------------
  private val ShUcl = "(CAST(sy AS DOUBLE)/nd + 2.66*(CAST(smr AS DOUBLE)/(nd - 1)))"
  private val ShLcl = "(CAST(sy AS DOUBLE)/nd - 2.66*(CAST(smr AS DOUBLE)/(nd - 1)))"

  private[graft] def shewhartOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events).localCheckpoint()
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val stats = daily
      .select(col("event_type"), col("y"),
        abs(col("y") - lag(col("y"), 1).over(w)).as("mr"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("y")).as("sy"),
        sum(col("mr")).as("smr"))
      .filter(col("nd") > 1)
    daily.join(broadcast(stats), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("nd")).as("nd"), max(col("sy")).as("sy"),
        max(col("smr")).as("smr"),
        sum(expr(s"CASE WHEN CAST(y AS DOUBLE) > $ShUcl THEN 1 ELSE 0 END"))
          .cast("long").as("n_above_ucl"),
        sum(expr(s"CASE WHEN CAST(y AS DOUBLE) < $ShLcl THEN 1 ELSE 0 END"))
          .cast("long").as("n_below_lcl"))
      .selectExpr("event_type", "nd AS n_days",
        "floor((CAST(sy AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS center",
        "floor((CAST(smr AS DOUBLE)/(nd - 1))*1e6 + 0.5)/1e6 AS mr_bar",
        s"floor(($ShUcl)*1e6 + 0.5)/1e6 AS ucl",
        s"floor(($ShLcl)*1e6 + 0.5)/1e6 AS lcl",
        "n_above_ucl", "n_below_lcl")
      .orderBy("event_type")
  }

  private def shewhart(s: SparkSession, dir: String): DataFrame =
    shewhartOn(loadEvents(s, dir))

  private val shewhartOracle =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |mrs AS (
       |  SELECT event_type, y,
       |    abs(y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY d))
       |      AS mr
       |  FROM daily),
       |stats AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(mr) AS BIGINT) AS smr
       |  FROM mrs GROUP BY 1 HAVING count(*) > 1),
       |g AS (
       |  SELECT daily.event_type, max(nd) AS nd, max(sy) AS sy,
       |    max(smr) AS smr,
       |    CAST(sum(CASE WHEN CAST(y AS DOUBLE) > $ShUcl THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_above_ucl,
       |    CAST(sum(CASE WHEN CAST(y AS DOUBLE) < $ShLcl THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_below_lcl
       |  FROM daily JOIN stats ON daily.event_type = stats.event_type
       |  GROUP BY 1)
       |SELECT event_type, nd AS n_days,
       |  floor((CAST(sy AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS center,
       |  floor((CAST(smr AS DOUBLE)/(nd - 1))*1e6 + 0.5)/1e6 AS mr_bar,
       |  floor(($ShUcl)*1e6 + 0.5)/1e6 AS ucl,
       |  floor(($ShLcl)*1e6 + 0.5)/1e6 AS lcl,
       |  n_above_ucl, n_below_lcl
       |FROM g ORDER BY event_type""".stripMargin

  // ---- evt_ewma_chart -------------------------------------------------------
  private val EwLags = 16
  private val EwDenom = (1L << (EwLags + 1)) - 1 // 131071

  private val EwSigma = "(CAST(smr AS DOUBLE)/(nd - 1)/1.128)"
  private val EwUcl = s"(CAST(sy AS DOUBLE)/nd + sqrt(3)*$EwSigma)"
  private val EwLcl = s"(CAST(sy AS DOUBLE)/nd - sqrt(3)*$EwSigma)"
  private val EwZ = s"(CAST(znum AS DOUBLE)/$EwDenom)"

  private[graft] def ewmaChartOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
      .localCheckpoint() // two consumers: MR stats + the lag window
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val stats = daily
      .select(col("event_type"), col("y"),
        abs(col("y") - lag(col("y"), 1).over(w)).as("mr"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("y")).as("sy"),
        sum(col("mr")).as("smr"))
      .filter(col("nd") > 1)
    val lagCols = (1 to EwLags).map(j => lag(col("y"), j).over(w).as(s"l$j"))
    // znum = y·2^16 + Σ_{j=1..16} l_j·2^(16−j): exact-integer EWMA
    // numerator (the backtest dot product with the current day in).
    val zNum = (1 to EwLags)
      .map(j => col(s"l$j") * lit(1L << (EwLags - j)))
      .foldLeft(col("y") * lit(1L << EwLags))(_ + _)
    daily
      .select(col("event_type") +: col("y") +: lagCols: _*)
      .filter(col(s"l$EwLags").isNotNull)
      .select(col("event_type"), zNum.as("znum"))
      .join(broadcast(stats), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"), max(col("nd")).as("nd"),
        max(col("sy")).as("sy"), max(col("smr")).as("smr"),
        sum(expr(s"CASE WHEN $EwZ > $EwUcl THEN 1 ELSE 0 END"))
          .cast("long").as("n_above_ucl"),
        sum(expr(s"CASE WHEN $EwZ < $EwLcl THEN 1 ELSE 0 END"))
          .cast("long").as("n_below_lcl"))
      .selectExpr("event_type", "n_scored",
        "floor((CAST(sy AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS center",
        s"floor(($EwSigma)*1e6 + 0.5)/1e6 AS sigma_hat",
        s"floor(($EwUcl)*1e6 + 0.5)/1e6 AS ucl",
        s"floor(($EwLcl)*1e6 + 0.5)/1e6 AS lcl",
        "n_above_ucl", "n_below_lcl")
      .orderBy("event_type")
  }

  private def ewmaChart(s: SparkSession, dir: String): DataFrame =
    ewmaChartOn(loadEvents(s, dir))

  private val ewmaChartOracle = {
    val lagDefs = (1 to EwLags).map(j => s"lag(y, $j) OVER w AS l$j")
      .mkString(",\n    ")
    val zNum = (s"y*${1L << EwLags}" +: (1 to EwLags)
      .map(j => s"l$j*${1L << (EwLags - j)}")).mkString(" + ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |stats AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(abs(y - ly)) AS BIGINT) AS smr
       |  FROM (SELECT event_type, y,
       |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS ly
       |    FROM daily)
       |  GROUP BY 1 HAVING count(*) > 1),
       |zrows AS (
       |  SELECT event_type, CAST($zNum AS BIGINT) AS znum FROM (
       |    SELECT event_type, y,
       |      $lagDefs
       |    FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d))
       |  WHERE l$EwLags IS NOT NULL),
       |g AS (
       |  SELECT zrows.event_type, CAST(count(*) AS BIGINT) AS n_scored,
       |    max(nd) AS nd, max(sy) AS sy, max(smr) AS smr,
       |    CAST(sum(CASE WHEN $EwZ > $EwUcl THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_above_ucl,
       |    CAST(sum(CASE WHEN $EwZ < $EwLcl THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_below_lcl
       |  FROM zrows JOIN stats ON zrows.event_type = stats.event_type
       |  GROUP BY 1)
       |SELECT event_type, n_scored,
       |  floor((CAST(sy AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS center,
       |  floor(($EwSigma)*1e6 + 0.5)/1e6 AS sigma_hat,
       |  floor(($EwUcl)*1e6 + 0.5)/1e6 AS ucl,
       |  floor(($EwLcl)*1e6 + 0.5)/1e6 AS lcl,
       |  n_above_ucl, n_below_lcl
       |FROM g ORDER BY event_type""".stripMargin
  }

  // ---- win_cusum_drift -------------------------------------------------
  // Per event type: daily counts y_t against the integer reference
  // k = total DIV n_days; C_t = Σ(y_i − k); the one-sided CUSUM
  // S_t = C_t − min(0, min_{i≤t} C_i) (closed form of the standard
  // max(0, S_{t-1} + dev_t) recursion). Reports the peak S, the
  // first day attaining it, and the net deviation. Gaps between
  // observed days advance the sequence, not the calendar. DIV floors
  // k, so deviations carry the ≤ n_days positive remainder — exact
  // and engine-identical.
  private[graft] def cusumDriftOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
    val ref = daily.groupBy(col("event_type"))
      .agg(sum(col("y")).as("sy"), count(lit(1)).as("nd"))
      .select(col("event_type"), col("sy"), col("nd"),
        expr("sy DIV nd").as("k"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = Window.partitionBy(col("event_type"))
      .orderBy(desc("s"), col("d"))
    daily.join(broadcast(ref), "event_type")
      .select(col("event_type"), col("d"), col("sy"), col("nd"), col("k"),
        sum(col("y") - col("k")).over(w).as("c"))
      .select(col("event_type"), col("d"), col("sy"), col("nd"), col("k"),
        (col("c") - least(min(col("c")).over(w), lit(0L))).as("s"))
      .withColumn("rn", row_number().over(rk))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("k").as("k_ref"),
        col("nd").as("n_days"), col("s").as("max_cusum"),
        col("d").as("peak_day"),
        (col("sy") - col("nd") * col("k")).as("net_dev"))
      .orderBy("event_type")
  }

  private def cusumDrift(s: SparkSession, dir: String): DataFrame =
    cusumDriftOn(loadEvents(s, dir))

  private val cusumDriftOracle =
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |daily AS (
      |  SELECT event_type, d, CAST(count(*) AS BIGINT) AS y
      |  FROM e GROUP BY 1, 2),
      |ref AS (
      |  SELECT event_type, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM daily GROUP BY 1),
      |c AS (
      |  SELECT event_type, d, sy, nd, sy // nd AS k,
      |    sum(y - sy // nd) OVER (PARTITION BY event_type ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM daily JOIN ref USING (event_type)),
      |s AS (
      |  SELECT event_type, d, sy, nd, k,
      |    c - least(min(c) OVER (PARTITION BY event_type ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
      |  FROM c),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY s DESC, d) AS rn FROM s)
      |SELECT event_type, k AS k_ref, nd AS n_days,
      |  CAST(s AS BIGINT) AS max_cusum, d AS peak_day,
      |  CAST(sy - nd * k AS BIGINT) AS net_dev
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  // ---- evt_page_hinkley ----------------------------------------------------
  private val PhBar = "(2.66*(CAST(smr AS DOUBLE)/(nd - 1)))"

  private[graft] def pageHinkleyOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events).localCheckpoint()
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = daily
      .select(col("event_type"), col("y"),
        abs(col("y") - lag(col("y"), 1).over(w)).as("mr"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("y")).as("sy"),
        sum(col("mr")).as("smr"))
      .filter(col("nd") > 1)
    // M_t = nd·cum_t − t·sy — the mean-centered cumulative sum scaled
    // by nd so it stays an exact BIGINT; running extrema INCLUDE the
    // empty prefix (M_0 = 0), hence the least/greatest against 0.
    val m = daily
      .join(broadcast(stats), "event_type")
      .select(col("event_type"), col("d"), col("nd"), col("smr"),
        (col("nd") * sum(col("y")).over(wCum)
          - row_number().over(w) * col("sy")).as("mt"))
      .select(col("event_type"), col("nd"), col("smr"),
        (col("mt") - least(lit(0L), min(col("mt")).over(wCum))).as("ph_inc"),
        (greatest(lit(0L), max(col("mt")).over(wCum)) - col("mt")).as("ph_dec"))
    m.groupBy(col("event_type"))
      .agg(max(col("nd")).as("nd"), max(col("smr")).as("smr"),
        max(col("ph_inc")).as("phi"), max(col("ph_dec")).as("phd"),
        sum(expr(s"CASE WHEN CAST(ph_inc AS DOUBLE)/nd > $PhBar THEN 1 ELSE 0 END"))
          .cast("long").as("n_alarm_inc"),
        sum(expr(s"CASE WHEN CAST(ph_dec AS DOUBLE)/nd > $PhBar THEN 1 ELSE 0 END"))
          .cast("long").as("n_alarm_dec"))
      .selectExpr("event_type", "nd AS n_days",
        "floor((CAST(phi AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS ph_inc_max",
        "floor((CAST(phd AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS ph_dec_max",
        s"floor(($PhBar)*1e6 + 0.5)/1e6 AS alarm_bar",
        "n_alarm_inc", "n_alarm_dec")
      .orderBy("event_type")
  }

  private def pageHinkley(s: SparkSession, dir: String): DataFrame =
    pageHinkleyOn(loadEvents(s, dir))

  private val pageHinkleyOracle =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |stats AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(abs(y - ly)) AS BIGINT) AS smr
       |  FROM (SELECT event_type, y,
       |    lag(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS ly
       |    FROM daily)
       |  GROUP BY 1 HAVING count(*) > 1),
       |m AS (
       |  SELECT daily.event_type, d, nd, smr,
       |    nd*(CAST(sum(y) OVER w AS BIGINT))
       |      - (CAST(row_number() OVER w AS BIGINT))*sy AS mt
       |  FROM daily JOIN stats ON daily.event_type = stats.event_type
       |  WINDOW w AS (PARTITION BY daily.event_type ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ph AS (
       |  SELECT event_type, nd, smr,
       |    mt - least(CAST(0 AS BIGINT), min(mt) OVER w) AS ph_inc,
       |    greatest(CAST(0 AS BIGINT), max(mt) OVER w) - mt AS ph_dec
       |  FROM m
       |  WINDOW w AS (PARTITION BY event_type ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |g AS (
       |  SELECT event_type, max(nd) AS nd, max(smr) AS smr,
       |    max(ph_inc) AS phi, max(ph_dec) AS phd,
       |    CAST(sum(CASE WHEN CAST(ph_inc AS DOUBLE)/nd > $PhBar
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_inc,
       |    CAST(sum(CASE WHEN CAST(ph_dec AS DOUBLE)/nd > $PhBar
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_dec
       |  FROM ph GROUP BY 1)
       |SELECT event_type, nd AS n_days,
       |  floor((CAST(phi AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS ph_inc_max,
       |  floor((CAST(phd AS DOUBLE)/nd)*1e6 + 0.5)/1e6 AS ph_dec_max,
       |  floor(($PhBar)*1e6 + 0.5)/1e6 AS alarm_bar,
       |  n_alarm_inc, n_alarm_dec
       |FROM g ORDER BY event_type""".stripMargin

  // ---- evt_anomaly_mad -------------------------------------------------
  // Robust anomaly days per event type: med = picked median of daily
  // counts, MAD = picked median of |y − med|, anomaly when
  // |y − med| > 3·MAD — all integer comparisons (the 2·cum ≥ n pick
  // twice). Where agg-mean/σ rules inflate their own threshold under
  // the outliers they hunt, the MAD screen does not.
  private[graft] def anomalyMadOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
      .localCheckpoint()

    // Picked median of `v` per type over a (type, v) count relation.
    def pickedMedian(df: DataFrame, v: String, as: String): DataFrame = {
      val cnts = df.groupBy(col("event_type"), col(v))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cnts
        .select(col("event_type"), col(v),
          sum(col("c")).over(wc).as("cum"))
        .join(broadcast(cnts.groupBy(col("event_type"))
          .agg(sum(col("c")).as("n"))), "event_type")
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("n"), col(v))).as(as))
    }

    val med = pickedMedian(daily, "y", "median_daily")
    val dev = daily.join(broadcast(med), "event_type")
      .select(col("event_type"),
        abs(col("y") - col("median_daily")).as("dev"))
    val mad = pickedMedian(dev, "dev", "mad")
    daily.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        min(col("median_daily")).as("median_daily"),
        min(col("mad")).as("mad"),
        sum(when(abs(col("y") - col("median_daily")) > col("mad") * 3, 1L)
          .otherwise(0L)).as("n_anomalies"))
      .orderBy("event_type")
  }

  private def anomalyMad(s: SparkSession, dir: String): DataFrame =
    anomalyMadOn(loadEvents(s, dir))

  private val anomalyMadOracle =
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |daily AS (
      |  SELECT event_type, d, CAST(count(*) AS BIGINT) AS y
      |  FROM e GROUP BY 1, 2),
      |yc AS (SELECT event_type, y, count(*) AS c FROM daily GROUP BY 1, 2),
      |ycum AS (
      |  SELECT event_type, y,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM yc),
      |med AS (
      |  SELECT event_type,
      |    min(CASE WHEN cum * 2 >= n THEN y END) AS median_daily
      |  FROM ycum GROUP BY 1),
      |dv AS (
      |  SELECT daily.event_type, abs(y - median_daily) AS dev
      |  FROM daily JOIN med USING (event_type)),
      |dc AS (SELECT event_type, dev, count(*) AS c FROM dv GROUP BY 1, 2),
      |dcum AS (
      |  SELECT event_type, dev,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY dev
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM dc),
      |mad AS (
      |  SELECT event_type,
      |    min(CASE WHEN cum * 2 >= n THEN dev END) AS mad
      |  FROM dcum GROUP BY 1)
      |SELECT daily.event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(min(median_daily) AS BIGINT) AS median_daily,
      |  CAST(min(mad) AS BIGINT) AS mad,
      |  CAST(sum(CASE WHEN abs(y - median_daily) > mad * 3
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM daily JOIN med USING (event_type) JOIN mad USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_shewhart_individuals" -> (shewhart _),
    "evt_ewma_chart" -> (ewmaChart _),
    "win_cusum_drift" -> (cusumDrift _),
    "evt_page_hinkley" -> (pageHinkley _),
    "evt_anomaly_mad" -> (anomalyMad _)
  )

  val oracle: Map[String, String] = Map(
    "evt_shewhart_individuals" -> shewhartOracle,
    "evt_ewma_chart" -> ewmaChartOracle,
    "win_cusum_drift" -> cusumDriftOracle,
    "evt_page_hinkley" -> pageHinkleyOracle,
    "evt_anomaly_mad" -> anomalyMadOracle
  )
}
