package graft.ops.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Calendar coverage, randomness, trend-recency and seasonality of
  * the daily series (SURVEY.md §2.31, §2.36, §2.55, §2.56, §2.58,
  * §2.82, §2.88):
  *
  *  - [[calendarGaps]]: calendar-completeness audit per event type —
  *    observed days vs the first→last span, missing-day total, gap
  *    count, and the longest gap. `evt_gap_fill` FILLS holes for
  *    downstream math; this AUDITS them (the "did ingestion skip
  *    days?" question a pipeline owner asks first).
  *
  *  - [[runsTest]]: Wald-Wolfowitz runs test — runs of daily counts
  *    above/below the picked median (ties dropped), z-scored against
  *    the randomness null. `win_turning_points` tests LOCAL extrema;
  *    the runs test detects sign PERSISTENCE (long above-median
  *    stretches) that turning points miss.
  *
  *  - [[turningPoints]]: turning-point randomness test — count of
  *    strict local extrema vs the 2(n−2)/3 expectation, z-scored with
  *    variance (16n−29)/90. `win_mann_kendall` tests TREND; this tests
  *    RANDOMNESS.
  *
  *  - [[aroon]]: the 14-day Aroon oscillator — the time-since-extreme
  *    indicator: aroon_up = 100·(13 − days_since_14d_high)/13, down
  *    with the low, oscillator = up − down. Tie rule: the MOST RECENT
  *    extreme (the conventional reading), implemented as the first
  *    match over the lag pivot.
  *
  *  - [[seasonalStrength]]: weekday seasonality strength — one-way
  *    ANOVA effect size η² = SS_between/SS_total of daily counts
  *    grouped by ISO weekday: the single score that ranks TYPES by
  *    how seasonal they are.
  *
  *  - [[periodogram]]: the discrete-Fourier power table at candidate
  *    periods 2..10 rows — `evt_seasonal_strength` SCORES one assumed
  *    period; this row HUNTS the period: P(p) = (Σ dev_t·cos(2πt/p))²
  *    + (Σ dev_t·sin)² with dev the exactly-scaled deviation
  *    nd·y_t − T (integer mean-removal — no double subtraction before
  *    the transform). Row-index phase (not calendar), mirrored in the
  *    oracle.
  *
  *  - [[seasonalDecompose]]: additive weekday decomposition of the
  *    daily order counts — trend = centered 7-day moving average
  *    ([[Series.detrended]]), seasonal index = mean detrended value
  *    per weekday, with each weekday's residual spread.
  *
  *  - [[anomalyStl]]: the days whose residual after trend and
  *    weekday index exceeds 3× the residual sd.
  *
  * Scale shapes: every row windows over [[Series.daily]] (lag columns
  * share ONE (type, d) sort); the picked median broadcasts back (the
  * evt_anomaly_mad discipline); Aroon's days-since-extreme is a fixed
  * 14-branch CASE over one lag pivot (no engine-specific
  * argmax-over-window semantics); seasonal strength pivots the 7
  * weekday groups into FIXED-ORDER columns of one hash aggregate; the
  * periodogram crosses the series with the 9-row period list
  * (|types|·|days|·9) into one hash aggregate.
  *
  * Determinism: day arithmetic, run/gap/extremum counts and weekday
  * sums are exact integers (DuckDB DATE−DATE is BIGINT — both sides
  * cast); every ratio assembles once with each division forced into
  * DOUBLE (§1.5 rule 8), `nullif` guarding degenerate denominators;
  * periodogram phase angles are 2π·(t mod p)/p over EXACT integer
  * (t mod p, p), so the only cross-engine drift is the ~1-ulp libm
  * cos/sin difference, far inside the 6-dp floor.
  */
object Patterns {

  // ---- dq_calendar_gaps ------------------------------------------------
  private[graft] def calendarGapsOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    Series.daily(events)
      .select(col("event_type"), col("d"),
        datediff(col("d"), lag(col("d"), 1).over(w)).cast("long").as("step"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        (max(col("step") - 1)).as("max_gap_raw"),
        sum(when(col("step") > 1, 1L).otherwise(0L)).as("n_gaps"),
        sum(when(col("step") > 1, col("step") - 1).otherwise(0L))
          .as("n_missing_days"),
        (datediff(max(col("d")), min(col("d"))) + 1).cast("long")
          .as("span_days"))
      .selectExpr("event_type", "span_days", "n_days",
        "n_missing_days", "n_gaps",
        "coalesce(max_gap_raw, CAST(0 AS BIGINT)) AS max_gap_days")
      .orderBy("event_type")
  }

  private def calendarGaps(s: SparkSession, dir: String): DataFrame =
    calendarGapsOn(loadEvents(s, dir))

  private val calendarGapsOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, d,
      |    CAST(d - lag(d, 1) OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS step
      |  FROM daily),
      |g AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(max(step - 1) AS BIGINT) AS max_gap_raw,
      |    CAST(sum(CASE WHEN step > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_gaps,
      |    CAST(sum(CASE WHEN step > 1 THEN step - 1 ELSE 0 END) AS BIGINT)
      |      AS n_missing_days,
      |    CAST(max(d) - min(d) + 1 AS BIGINT) AS span_days
      |  FROM st GROUP BY 1)
      |SELECT event_type, span_days, n_days, n_missing_days, n_gaps,
      |  coalesce(max_gap_raw, CAST(0 AS BIGINT)) AS max_gap_days
      |FROM g ORDER BY event_type""".stripMargin

  // ---- win_runs_test ---------------------------------------------------
  // Median-tie days drop out (the standard reduction); R = 1 + sign
  // changes; E[R] = 1 + 2·n1·n0/n, Var[R] = 2n1n0(2n1n0 − n) /
  // (n²(n−1)); z NULL when one side is empty (Var = 0).
  private[graft] def runsTestOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events).localCheckpoint()
    val cnts = daily.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = cnts
      .select(col("event_type"), col("y"), sum(col("c")).over(wc).as("cum"))
      .join(broadcast(cnts.groupBy(col("event_type"))
        .agg(sum(col("c")).as("n"))), "event_type")
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") * 2 >= col("n"), col("y"))).as("med"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    daily.join(broadcast(med), "event_type")
      .filter(col("y") =!= col("med"))
      .select(col("event_type"), col("d"), col("med").as("median_daily"),
        when(col("y") > col("med"), 1L).otherwise(0L).as("s"))
      .select(col("event_type"), col("median_daily"), col("s"),
        lag(col("s"), 1).over(w).as("ps"))
      .groupBy(col("event_type"))
      .agg(min(col("median_daily")).as("median_daily"),
        count(lit(1)).as("n_scored"),
        sum(col("s")).as("n_above"),
        sum(lit(1L) - col("s")).as("n_below"),
        (sum(when(col("ps").isNotNull && col("s") =!= col("ps"), 1L)
          .otherwise(0L)) + 1).as("n_runs"))
      .selectExpr("event_type", "median_daily", "n_scored", "n_above",
        "n_below", "n_runs",
        // nullif on the n²(n−1) denominator: n_scored == 1 would
        // otherwise divide by zero (NaN/Inf in Spark, error paths in
        // the oracle) — degenerate series yield NULL z instead.
        """floor(((n_runs - (1 + (2*CAST(n_above AS DOUBLE)*n_below)
          |     / n_scored))
          | / nullif(sqrt((2*CAST(n_above AS DOUBLE)*n_below
          |     * (2*CAST(n_above AS DOUBLE)*n_below - n_scored))
          |   / nullif(CAST(n_scored AS DOUBLE)*n_scored*(n_scored - 1),
          |       0)), 0))
          | *1e6 + 0.5)/1e6 AS z""".stripMargin)
      .orderBy("event_type")
  }

  private def runsTest(s: SparkSession, dir: String): DataFrame =
    runsTestOn(loadEvents(s, dir))

  private val runsTestOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |yc AS (SELECT event_type, y, count(*) AS c FROM daily GROUP BY 1, 2),
      |ycum AS (
      |  SELECT event_type, y,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM yc),
      |med AS (
      |  SELECT event_type,
      |    CAST(min(CASE WHEN cum * 2 >= n THEN y END) AS BIGINT) AS med
      |  FROM ycum GROUP BY 1),
      |sg AS (
      |  SELECT daily.event_type, d, med,
      |    CASE WHEN y > med THEN 1 ELSE 0 END AS s
      |  FROM daily JOIN med USING (event_type)
      |  WHERE y <> med),
      |lg AS (
      |  SELECT event_type, med, s,
      |    lag(s, 1) OVER (PARTITION BY event_type ORDER BY d) AS ps
      |  FROM sg),
      |g AS (
      |  SELECT event_type, CAST(min(med) AS BIGINT) AS median_daily,
      |    CAST(count(*) AS BIGINT) AS n_scored,
      |    CAST(sum(s) AS BIGINT) AS n_above,
      |    CAST(sum(1 - s) AS BIGINT) AS n_below,
      |    CAST(sum(CASE WHEN ps IS NOT NULL AND s <> ps THEN 1 ELSE 0 END)
      |      + 1 AS BIGINT) AS n_runs
      |  FROM lg GROUP BY 1)
      |SELECT event_type, median_daily, n_scored, n_above, n_below, n_runs,
      |  floor(((n_runs - (1 + (2*CAST(n_above AS DOUBLE)*n_below)
      |       / n_scored))
      |   / nullif(sqrt((2*CAST(n_above AS DOUBLE)*n_below
      |       * (2*CAST(n_above AS DOUBLE)*n_below - n_scored))
      |     / nullif(CAST(n_scored AS DOUBLE)*n_scored*(n_scored - 1),
      |         0)), 0))
      |   *1e6 + 0.5)/1e6 AS z
      |FROM g ORDER BY event_type""".stripMargin

  // ---- win_turning_points ----------------------------------------------
  // Strict extrema only: (y_t − y_{t−1})·(y_{t+1} − y_t) < 0; flat
  // shoulders are not turning points. E[tp] = 2(n−2)/3,
  // Var[tp] = (16n − 29)/90 under the randomness null.
  private[graft] def turningPointsOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    daily
      .select(col("event_type"),
        (col("y") - lag(col("y"), 1).over(w)).as("db"),
        (lead(col("y"), 1).over(w) - col("y")).as("df"))
      .groupBy(col("event_type"))
      .agg((count(lit(1))).as("n_days"),
        sum(when(col("db") * col("df") < 0, 1L).otherwise(0L))
          .as("n_turning_points"))
      .selectExpr("event_type", "n_days", "n_turning_points",
        // 2·(n−2) stays exact in DOUBLE before the /3 — a "2.0"
        // literal is DECIMAL in BOTH engines and decimal division
        // carries engine-specific scale (a 1-ulp z straddle at
        // sf0.001 caught this), so every division here is forced
        // into IEEE DOUBLE explicitly.
        "floor(((2*CAST(n_days - 2 AS DOUBLE))/3)*1e6 + 0.5)/1e6 AS expected_tp",
        // n_days == 1 makes 16n−29 negative: Spark's sqrt would emit
        // NaN where DuckDB raises, so degenerate series yield NULL z.
        """CASE WHEN n_days >= 2 THEN
          | floor(((n_turning_points - (2*CAST(n_days - 2 AS DOUBLE))/3)
          | / sqrt((16*CAST(n_days AS DOUBLE) - 29)/90))*1e6 + 0.5)/1e6
          | END AS z""".stripMargin)
      .orderBy("event_type")
  }

  private def turningPoints(s: SparkSession, dir: String): DataFrame =
    turningPointsOn(loadEvents(s, dir))

  private val turningPointsOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |dif AS (
      |  SELECT event_type,
      |    y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS db,
      |    lead(y, 1) OVER (PARTITION BY event_type ORDER BY d) - y AS df
      |  FROM daily),
      |g AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN db * df < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_turning_points
      |  FROM dif GROUP BY 1)
      |SELECT event_type, n_days, n_turning_points,
      |  floor(((2*CAST(n_days - 2 AS DOUBLE))/3)*1e6 + 0.5)/1e6
      |    AS expected_tp,
      |  CASE WHEN n_days >= 2 THEN
      |   floor(((n_turning_points - (2*CAST(n_days - 2 AS DOUBLE))/3)
      |   / sqrt((16*CAST(n_days AS DOUBLE) - 29)/90))*1e6 + 0.5)/1e6
      |   END AS z
      |FROM g ORDER BY event_type""".stripMargin

  // ---- win_aroon ---------------------------------------------------------
  private val AroonLags = 13 // window = current day + 13 preceding = 14

  private def sinceCase(agg: String): String =
    (0 to AroonLags).map(j =>
      s"WHEN ${if (j == 0) "y" else s"l$j"} = $agg THEN $j")
      .mkString("CASE ", " ", " END")

  private val gMax = (0 to AroonLags)
    .map(j => if (j == 0) "y" else s"l$j").mkString("greatest(", ", ", ")")
  private val gMin = (0 to AroonLags)
    .map(j => if (j == 0) "y" else s"l$j").mkString("least(", ", ", ")")

  private[graft] def aroonOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val lagCols = (1 to AroonLags).map(j => lag(col("y"), j).over(w).as(s"l$j"))
    daily
      .select(col("event_type") +: col("d") +: col("y") +: lagCols: _*)
      .filter(col(s"l$AroonLags").isNotNull)
      .selectExpr("event_type", "d", "y",
        s"CAST(${sinceCase(gMax)} AS BIGINT) AS days_since_high",
        s"CAST(${sinceCase(gMin)} AS BIGINT) AS days_since_low")
      .selectExpr("event_type", "d", "y", "days_since_high",
        "days_since_low",
        s"""floor((CAST(100*($AroonLags - days_since_high) AS DOUBLE)/$AroonLags)
           |*1e6 + 0.5)/1e6 AS aroon_up""".stripMargin,
        s"""floor((CAST(100*($AroonLags - days_since_low) AS DOUBLE)/$AroonLags)
           |*1e6 + 0.5)/1e6 AS aroon_down""".stripMargin,
        s"""floor((CAST(100*(days_since_low - days_since_high) AS DOUBLE)
           |/$AroonLags)*1e6 + 0.5)/1e6 AS aroon_osc""".stripMargin)
      .orderBy("event_type", "d")
  }

  private def aroon(s: SparkSession, dir: String): DataFrame =
    aroonOn(loadEvents(s, dir))

  private val aroonOracle = {
    val lagDefs = (1 to AroonLags).map(j => s"lag(y, $j) OVER w AS l$j")
      .mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT event_type, d, y,
       |    $lagDefs
       |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
       |s AS (
       |  SELECT event_type, d, y,
       |    CAST(${sinceCase(gMax)} AS BIGINT) AS days_since_high,
       |    CAST(${sinceCase(gMin)} AS BIGINT) AS days_since_low
       |  FROM lagged WHERE l$AroonLags IS NOT NULL)
       |SELECT event_type, d, y, days_since_high, days_since_low,
       |  floor((CAST(100*($AroonLags - days_since_high) AS DOUBLE)/$AroonLags)
       |   *1e6 + 0.5)/1e6 AS aroon_up,
       |  floor((CAST(100*($AroonLags - days_since_low) AS DOUBLE)/$AroonLags)
       |   *1e6 + 0.5)/1e6 AS aroon_down,
       |  floor((CAST(100*(days_since_low - days_since_high) AS DOUBLE)
       |   /$AroonLags)*1e6 + 0.5)/1e6 AS aroon_osc
       |FROM s ORDER BY event_type, d""".stripMargin
  }

  // ---- evt_seasonal_strength -------------------------------------------
  // η² = (B − C)/(S2 − C), C = T²/N, B = Σ_g T_g²/n_g with the 7
  // weekday groups pivoted to FIXED-ORDER columns so B is one
  // deterministic expression. Constant series ⇒ SS_total = 0.0
  // exactly (both sides integer-valued doubles) ⇒ NULL via nullif.
  private[graft] def seasonalStrengthOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
      .select(col("event_type"), (weekday(col("d")) + 1).as("dow"), col("y"))
    val terms = (1 to 7).map { g =>
      s"coalesce((CAST(t$g AS DOUBLE)*t$g)/nullif(n$g, 0), 0)"
    }.mkString(" + ")
    val aggs = count(lit(1)).as("n_days") +:
      sum(col("y")).as("t") +:
      sum(col("y") * col("y")).as("s2") +:
      (1 to 7).flatMap { g =>
        Seq(sum(when(col("dow") === g, col("y")).otherwise(0L)).as(s"t$g"),
          sum(when(col("dow") === g, 1L).otherwise(0L)).as(s"n$g"))
      }
    daily.groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("event_type", "n_days", "t AS n_events",
        s"""floor(((($terms) - (CAST(t AS DOUBLE)*t)/n_days)
           | / nullif(CAST(s2 AS DOUBLE)
           |     - (CAST(t AS DOUBLE)*t)/n_days, 0))*1e6 + 0.5)/1e6
           | AS eta2""".stripMargin)
      .orderBy("event_type")
  }

  private def seasonalStrength(s: SparkSession, dir: String): DataFrame =
    seasonalStrengthOn(loadEvents(s, dir))

  private val seasonalStrengthOracle = {
    val terms = (1 to 7).map { g =>
      s"coalesce((CAST(t$g AS DOUBLE)*t$g)/nullif(n$g, 0), 0)"
    }.mkString(" + ")
    val pivots = (1 to 7).flatMap { g =>
      Seq(s"CAST(sum(CASE WHEN dow = $g THEN y ELSE 0 END) AS BIGINT) AS t$g",
        s"CAST(sum(CASE WHEN dow = $g THEN 1 ELSE 0 END) AS BIGINT) AS n$g")
    }.mkString(",\n      |    ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |dw AS (SELECT event_type, CAST(isodow(d) AS BIGINT) AS dow, y
       |       FROM daily),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(y) AS BIGINT) AS t,
       |    CAST(sum(y*y) AS BIGINT) AS s2,
       |    $pivots
       |  FROM dw GROUP BY 1)
       |SELECT event_type, n_days, t AS n_events,
       |  floor(((($terms) - (CAST(t AS DOUBLE)*t)/n_days)
       |   / nullif(CAST(s2 AS DOUBLE)
       |       - (CAST(t AS DOUBLE)*t)/n_days, 0))*1e6 + 0.5)/1e6
       |   AS eta2
       |FROM g ORDER BY event_type""".stripMargin
  }

  // ---- evt_periodogram ----------------------------------------------------
  private val PgLo = 2L
  private val PgHi = 10L

  private def pgTerm(fn: String): String =
    s"sum(CAST(nd*y - t AS DOUBLE) * $fn(2*pi()*CAST(tt % p AS DOUBLE)/p))"
  private val pgFinal: Seq[String] = Seq(
    "event_type", "p AS period", "nd AS n_days",
    "floor(((sc*sc + ss*ss) / (CAST(nd AS DOUBLE)*nd*nd))*1e6 + 0.5)/1e6" +
      " AS power_scaled")

  private[graft] def periodogramOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wall = Window.partitionBy(col("event_type"))
    val idx = Series.daily(events)
      .select(col("event_type"), col("y"),
        row_number().over(w).cast("long").as("tt"),
        count(lit(1)).over(wall).as("nd"),
        sum(col("y")).over(wall).as("t"))
    idx.withColumn("p", explode(expr(s"sequence(CAST($PgLo AS BIGINT), " +
        s"CAST($PgHi AS BIGINT))")))
      .groupBy(col("event_type"), col("p"))
      .agg(max(col("nd")).as("nd"),
        expr(pgTerm("cos")).as("sc"),
        expr(pgTerm("sin")).as("ss"))
      .selectExpr(pgFinal: _*)
      .orderBy("event_type", "period")
  }

  private def periodogram(s: SparkSession, dir: String): DataFrame =
    periodogramOn(loadEvents(s, dir))

  private val periodogramOracle =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, y,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
       |      AS BIGINT) AS tt,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd,
       |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS t
       |  FROM daily),
       |pp AS (SELECT unnest(generate_series(CAST($PgLo AS BIGINT),
       |  CAST($PgHi AS BIGINT))) AS p),
       |g AS (
       |  SELECT event_type, p, max(nd) AS nd,
       |    ${pgTerm("cos")} AS sc,
       |    ${pgTerm("sin")} AS ss
       |  FROM idx CROSS JOIN pp GROUP BY 1, 2)
       |SELECT ${pgFinal.mkString(",\n  ")}
       |FROM g ORDER BY event_type, period""".stripMargin

  // ---- win_seasonal_decompose --------------------------------------
  // Additive seasonal decomposition of the daily order series
  // (STL-lite): trend = centered 7-day moving average (full frames
  // only), detrended = c − trend, seasonal index = mean detrended
  // value per ISO weekday. Surfaces the 7 weekday indices plus each
  // weekday's residual spread (sd of detrended − seasonal). The
  // whole computation runs over the ~2.4k-row daily aggregate —
  // horizon-bounded, the changepoint precedent.
  private def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val det = Series.detrended(load(s, dir, "orders"))
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


  // ---- evt_anomaly_stl ---------------------------------------------
  // Seasonally-adjusted anomaly days: reuse win_seasonal_decompose's
  // trend (centered 7-day MA) and weekday index, then flag days
  // where |residual| exceeds 3× the global residual sd — the
  // decomposition-aware upgrade of evt_anomaly_iqr's raw fences.
  // Surfaces only flagged days (bounded by the horizon).
  private def anomalyStl(s: SparkSession, dir: String): DataFrame = {
    val det = Series.detrended(load(s, dir, "orders"))
    val seas = det.groupBy("dow").agg(avg(col("dev")).as("si"))
    val resid = det.join(broadcast(seas), "dow")
      .select(col("d"), col("c"), col("trend"), col("si"),
        (col("dev") - col("si")).as("r"))
    val sd = broadcast(resid.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"))
      .select(sqrt((col("sr2") - col("sr") * col("sr") / col("n")) /
        (col("n") - 1.0)).as("rsd")))
    resid.crossJoin(sd)
      .filter(abs(col("r")) > col("rsd") * 3.0)
      .select(col("d"), col("c"), round(col("trend"), 6).as("trend"),
        round(col("si"), 6).as("seasonal"),
        round(col("r"), 6).as("residual"),
        round(abs(col("r")) / col("rsd"), 6).as("sigma"))
      .orderBy("d")
  }

  private val anomalyStlOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |t AS (
      |  SELECT d, c, CAST(count(*) OVER w AS BIGINT) AS fn,
      |    CAST(sum(c) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
      |      AS trend
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (
      |  SELECT d, c, trend, CAST(dayofweek(d) + 1 AS INT) AS dow,
      |    CAST(c AS DOUBLE) - trend AS dev
      |  FROM t WHERE fn = 7),
      |seas AS (SELECT dow, avg(dev) AS si FROM det GROUP BY dow),
      |resid AS (
      |  SELECT det.d, det.c, det.trend, seas.si, det.dev - seas.si AS r
      |  FROM det JOIN seas ON det.dow = seas.dow),
      |sd AS (
      |  SELECT sqrt((sum(r * r) - sum(r) * sum(r) / count(*)) /
      |    (count(*) - 1.0)) AS rsd FROM resid)
      |SELECT d, c, round(trend, 6) AS trend, round(si, 6) AS seasonal,
      |  round(r, 6) AS residual, round(abs(r) / rsd, 6) AS sigma
      |FROM resid CROSS JOIN sd
      |WHERE abs(r) > rsd * 3.0
      |ORDER BY d""".stripMargin


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_calendar_gaps" -> (calendarGaps _),
    "win_runs_test" -> (runsTest _),
    "win_turning_points" -> (turningPoints _),
    "win_aroon" -> (aroon _),
    "evt_seasonal_strength" -> (seasonalStrength _),
    "evt_periodogram" -> (periodogram _),
    "win_seasonal_decompose" -> (seasonalDecompose _),
    "evt_anomaly_stl" -> (anomalyStl _)
  )

  val oracle: Map[String, String] = Map(
    "dq_calendar_gaps" -> calendarGapsOracle,
    "win_runs_test" -> runsTestOracle,
    "win_turning_points" -> turningPointsOracle,
    "win_aroon" -> aroonOracle,
    "evt_seasonal_strength" -> seasonalStrengthOracle,
    "evt_periodogram" -> periodogramOracle,
    "win_seasonal_decompose" -> seasonalDecomposeOracle,
    "evt_anomaly_stl" -> anomalyStlOracle
  )
}
