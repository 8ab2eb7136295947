package graft.ops.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Serial and cross-series correlation of the daily series
  * (SURVEY.md §2.24, §2.30, §2.61, §2.69, §2.72, §2.75, §2.87):
  *
  *  - [[ljungBox]]: Ljung-Box Q(7) per event type — pools SEVEN lags
  *    of the count series into the one portmanteau statistic ("is
  *    there ANY autocorrelation structure?") with the χ²₇ 5% verdict:
  *    the whiteness gate a forecasting pipeline runs before trusting
  *    residuals.
  *
  *  - [[acfTable]]: the lag-1..7 autocorrelation TABLE per event type
  *    — the individual correlogram `evt_ljung_box` consumes
  *    internally, one row per (type, lag).
  *
  *  - [[pacfTable]]: the lag-1..7 PARTIAL autocorrelation table via
  *    the Durbin-Levinson recursion, unrolled to 7 fixed stages. The
  *    PACF removes the shorter-lag pass-through — the ACF/PACF pair is
  *    how an order is actually picked for an AR model.
  *
  *  - [[crossCorrelation]]: the lag −3..+3 cross-correlation function
  *    between the click and purchase daily series — "does click
  *    volume LEAD purchases?", the lead-lag screen run before any
  *    cross-series regression.
  *
  *  - [[grangerLite]]: lag-1 Granger causality between the click and
  *    purchase daily series, BOTH directions — the F-test comparing
  *    the restricted AR(1) (y on its own lag) against the
  *    unrestricted model adding the other series' lag: "does x's PAST
  *    improve the prediction of y beyond y's own past?". Lag 1,
  *    constant included, asymptotic F(1,∞) 5% critical 3.841459
  *    (documented, mirrored in the oracle).
  *
  *  - [[durbinWatson]]: Durbin-Watson residual-autocorrelation test of
  *    the per-type daily-count linear trend — `evt_ljung_box` tests
  *    raw-series whiteness; DW tests the RESIDUALS of the fit, the "is
  *    OLS even valid here" gate. DW = Σ(e_t−e_{t−1})²/Σe_t² ∈ [0,4],
  *    flagged positive-autocorrelation at the conventional 1.5 cut.
  *
  *  - [[autocorr]]: lag-1 and lag-7 autocorrelation of the global
  *    daily order revenue ([[Series.byOrderDay]]).
  *
  *  - [[rollingCorr]]: 30-day rolling Pearson correlation between
  *    daily order count and daily revenue — the volume/value
  *    co-movement monitor, full frames only.
  *
  * Scale shapes: the correlograms read ONE [[Series.lagMoments]]
  * co-moment hash aggregate (lag windows over [[Series.daily]]) and
  * unpivot with `stack`; PACF's recursion is 7 chained 1-row
  * projection stages with no data motion after the aggregate; the
  * cross-series rows window over the |days|-bounded [[Series.paired]]
  * pivot; Durbin-Watson is one indexed daily pass, a 5-row stats
  * broadcast, and one residual lag window; the order-series rows run
  * single-partition windows over ≤ one row per calendar day.
  *
  * Determinism: every co-moment is an exact BIGINT (Granger's
  * cross-products in DECIMAL(38,0) with VARCHAR routing, §1.5 r7/r9);
  * every ρ_k is the one [[Series.rhoF]] text; the OLS/F assembly and
  * each Durbin-Levinson stage are generated ONCE as formula text and
  * pasted into both the Spark selectExpr chain and the oracle, so
  * both engines run the IDENTICAL sequence of double operations; the
  * χ² verdicts compare AFTER the 6-dp floor.
  */
object Correlation {

  // ---- evt_ljung_box ---------------------------------------------------
  private val LbLags = 7

  private def qF: String =
    s"""floor((CAST(nd AS DOUBLE)*(nd + 2)*(${(1 to LbLags)
        .map(k => s"(${Series.rhoF(k)}*${Series.rhoF(k)})/(nd - $k)")
        .mkString("\n + ")}))*1e6 + 0.5)/1e6""".stripMargin

  private[graft] def ljungBoxOn(events: DataFrame): DataFrame = {
    Series.lagMoments(events, LbLags)
      .selectExpr("event_type", "nd AS n_days",
        s"floor((${Series.rhoF(1)})*1e6 + 0.5)/1e6 AS rho1",
        s"$qF AS lb_q7",
        s"($qF > 14.067140) AS reject_whiteness_5pct")
      .orderBy("event_type")
  }

  private def ljungBox(s: SparkSession, dir: String): DataFrame =
    ljungBoxOn(loadEvents(s, dir))

  private def ljungBoxOracle: String = {
    val lagDefs = (1 to LbLags).map(k => s"lag(y, $k) OVER w AS l$k")
      .mkString(",\n    ")
    val aggDefs = (1 to LbLags).map(k =>
      s"""CAST(count(l$k) AS BIGINT) AS n$k,
         |    CAST(sum(CASE WHEN l$k IS NOT NULL THEN y END) AS BIGINT) AS sa$k,
         |    CAST(sum(l$k) AS BIGINT) AS sb$k,
         |    CAST(sum(CASE WHEN l$k IS NOT NULL THEN y*y END) AS BIGINT) AS saa$k,
         |    CAST(sum(l$k*l$k) AS BIGINT) AS sbb$k,
         |    CAST(sum(y*l$k) AS BIGINT) AS sab$k""".stripMargin)
      .mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT event_type, y,
       |    $lagDefs
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    $aggDefs
       |  FROM lagged GROUP BY 1)
       |SELECT event_type, nd AS n_days,
       |  floor((${Series.rhoF(1)})*1e6 + 0.5)/1e6 AS rho1,
       |  $qF AS lb_q7,
       |  ($qF > 14.067140) AS reject_whiteness_5pct
       |FROM g ORDER BY event_type""".stripMargin
  }

  // ---- win_acf_table -----------------------------------------------------
  private val AcfLags = 7

  private[graft] def acfTableOn(events: DataFrame): DataFrame = {
    val stackArgs = (1 to AcfLags).map(k =>
      s"CAST($k AS BIGINT), floor((${Series.rhoF(k)})*1e6 + 0.5)/1e6")
      .mkString(", ")
    Series.lagMoments(events, AcfLags)
      .selectExpr("event_type", "nd AS n_days",
        s"stack($AcfLags, $stackArgs) AS (lag, acf)")
      .orderBy("event_type", "lag")
  }

  private def acfTable(s: SparkSession, dir: String): DataFrame =
    acfTableOn(loadEvents(s, dir))

  private val acfOracle = {
    val branches = (1 to AcfLags).map(k =>
      s"""SELECT event_type, nd AS n_days, CAST($k AS BIGINT) AS lag,
         |  floor((${Series.rhoF(k)})*1e6 + 0.5)/1e6 AS acf
         |FROM g""".stripMargin).mkString("\nUNION ALL\n")
    val moments = (1 to AcfLags).flatMap(k => Seq(
      s"CAST(count(l$k) AS BIGINT) AS n$k",
      s"CAST(sum(CASE WHEN l$k IS NOT NULL THEN y END) AS BIGINT) AS sa$k",
      s"CAST(sum(l$k) AS BIGINT) AS sb$k",
      s"CAST(sum(CASE WHEN l$k IS NOT NULL THEN y*y END) AS BIGINT) AS saa$k",
      s"CAST(sum(l$k*l$k) AS BIGINT) AS sbb$k",
      s"CAST(sum(y*l$k) AS BIGINT) AS sab$k")).mkString(",\n    ")
    val lagCols = (1 to AcfLags).map(k =>
      s"lag(y, $k) OVER (PARTITION BY event_type ORDER BY d) AS l$k")
      .mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT event_type, y,
       |    $lagCols
       |  FROM daily),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    $moments
       |  FROM lagged GROUP BY 1)
       |$branches
       |ORDER BY event_type, lag""".stripMargin
  }

  // ---- evt_pacf_table --------------------------------------------------------
  private val PacfLags = 7

  // Durbin-Levinson stage k: φ_kk = (ρ_k − Σ_{j<k} φ_{k−1,j}·ρ_{k−j})
  // / (1 − Σ_{j<k} φ_{k−1,j}·ρ_j), then φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j}.
  // Columns named p{k}_{j}; ρ as raw (unfloored) doubles r1..rK so
  // the recursion sees identical inputs in both engines.
  private def dlStage(k: Int): Seq[String] =
    if (k == 1) Seq("r1 AS p1_1")
    else {
      val num = s"(r$k - (${(1 until k)
        .map(j => s"p${k - 1}_$j * r${k - j}").mkString(" + ")}))"
      val den = s"(1 - (${(1 until k)
        .map(j => s"p${k - 1}_$j * r$j").mkString(" + ")}))"
      val pkk = s"$num / nullif($den, 0)"
      (1 until k).map(j =>
        s"p${k - 1}_$j - ($pkk) * p${k - 1}_${k - j} AS p${k}_$j") :+
        s"$pkk AS p${k}_$k"
    }

  private[graft] def pacfOn(events: DataFrame): DataFrame = {
    val rhoCols = (1 to PacfLags).map(k =>
      s"${Series.rhoF(k)} AS r$k")
    var df = Series.lagMoments(events, PacfLags)
      .selectExpr("event_type" +: "nd" +: rhoCols: _*)
    for (k <- 1 to PacfLags) df = df.selectExpr("*" +: dlStage(k): _*)
    val stackArgs = (1 to PacfLags).map(k =>
      s"CAST($k AS BIGINT), floor((p${k}_$k)*1e6 + 0.5)/1e6")
      .mkString(", ")
    df.selectExpr("event_type", "nd AS n_days",
        s"stack($PacfLags, $stackArgs) AS (lag, pacf)")
      .orderBy("event_type", "lag")
  }

  private def pacfTable(s: SparkSession, dir: String): DataFrame =
    pacfOn(loadEvents(s, dir))

  private val pacfOracle = {
    val moments = (1 to PacfLags).flatMap(k => Seq(
      s"CAST(count(l$k) AS BIGINT) AS n$k",
      s"CAST(sum(CASE WHEN l$k IS NOT NULL THEN y END) AS BIGINT) AS sa$k",
      s"CAST(sum(l$k) AS BIGINT) AS sb$k",
      s"CAST(sum(CASE WHEN l$k IS NOT NULL THEN y*y END) AS BIGINT) AS saa$k",
      s"CAST(sum(l$k*l$k) AS BIGINT) AS sbb$k",
      s"CAST(sum(y*l$k) AS BIGINT) AS sab$k")).mkString(",\n    ")
    val lagCols = (1 to PacfLags).map(k =>
      s"lag(y, $k) OVER (PARTITION BY event_type ORDER BY d) AS l$k")
      .mkString(",\n    ")
    val rhoCols = (1 to PacfLags).map(k =>
      s"${Series.rhoF(k)} AS r$k").mkString(",\n    ")
    val stages = (1 to PacfLags).map(k =>
      s"s$k AS (SELECT *, ${dlStage(k).mkString(", ")} FROM s${k - 1})")
      .mkString(",\n")
    val branches = (1 to PacfLags).map(k =>
      s"""SELECT event_type, nd AS n_days, CAST($k AS BIGINT) AS lag,
         |  floor((p${k}_$k)*1e6 + 0.5)/1e6 AS pacf
         |FROM s$PacfLags""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT event_type, y,
       |    $lagCols
       |  FROM daily),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    $moments
       |  FROM lagged GROUP BY 1),
       |s0 AS (
       |  SELECT event_type, nd,
       |    $rhoCols
       |  FROM g),
       |$stages
       |$branches
       |ORDER BY event_type, lag""".stripMargin
  }

  // ---- evt_cross_correlation ---------------------------------------------
  // ρ at slot i (lag = i − CcfLags) is Series.rhoF(i) over the slot's
  // six co-moments (x against the shifted y).
  private val CcfLags = 3
  private val CcfX = "click"
  private val CcfY = "purchase"

  private[graft] def crossCorrOn(events: DataFrame): DataFrame = {
    val daily = Series.paired(events, CcfX, CcfY)
    val w = Window.orderBy("d") // |days|-bounded
    val shifted = daily.select(
      col("d") +: col("x") +:
        (0 to 2 * CcfLags).map { i =>
          val l = i - CcfLags
          val c = if (l < 0) lag(col("y"), -l).over(w)
            else if (l > 0) lead(col("y"), l).over(w)
            else col("y")
          c.as(s"y$i")
        }: _*)
    val aggs = (0 to 2 * CcfLags).flatMap { i => Seq(
      count(col(s"y$i")).as(s"n$i"),
      sum(when(col(s"y$i").isNotNull, col("x"))).as(s"sa$i"),
      sum(col(s"y$i")).as(s"sb$i"),
      sum(when(col(s"y$i").isNotNull, col("x") * col("x"))).as(s"saa$i"),
      sum(col(s"y$i") * col(s"y$i")).as(s"sbb$i"),
      sum(col("x") * col(s"y$i")).as(s"sab$i")) }
    val stackArgs = (0 to 2 * CcfLags).map(i =>
      s"CAST(${i - CcfLags} AS BIGINT), n$i, " +
        s"floor((${Series.rhoF(i)})*1e6 + 0.5)/1e6").mkString(", ")
    shifted.groupBy().agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${2 * CcfLags + 1}, $stackArgs) AS (lag, n_pairs, ccf)")
      .orderBy("lag")
  }

  private def crossCorrelation(s: SparkSession, dir: String): DataFrame =
    crossCorrOn(loadEvents(s, dir))

  private val crossCorrOracle = {
    val shifts = (0 to 2 * CcfLags).map { i =>
      val l = i - CcfLags
      if (l < 0) s"lag(y, ${-l}) OVER w AS y$i"
      else if (l > 0) s"lead(y, $l) OVER w AS y$i"
      else s"y AS y$i"
    }.mkString(",\n    ")
    val moments = (0 to 2 * CcfLags).flatMap(i => Seq(
      s"CAST(count(y$i) AS BIGINT) AS n$i",
      s"CAST(sum(CASE WHEN y$i IS NOT NULL THEN x END) AS BIGINT) AS sa$i",
      s"CAST(sum(y$i) AS BIGINT) AS sb$i",
      s"CAST(sum(CASE WHEN y$i IS NOT NULL THEN x*x END) AS BIGINT) AS saa$i",
      s"CAST(sum(y$i*y$i) AS BIGINT) AS sbb$i",
      s"CAST(sum(x*y$i) AS BIGINT) AS sab$i")).mkString(",\n    ")
    val branches = (0 to 2 * CcfLags).map(i =>
      s"""SELECT CAST(${i - CcfLags} AS BIGINT) AS lag, n$i AS n_pairs,
         |  floor((${Series.rhoF(i)})*1e6 + 0.5)/1e6 AS ccf FROM g"""
        .stripMargin).mkString("\nUNION ALL\n")
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(sum(CASE WHEN event_type = '$CcfX' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN event_type = '$CcfY' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS y
       |  FROM events WHERE event_type IN ('$CcfX', '$CcfY')
       |  GROUP BY 1),
       |shifted AS (
       |  SELECT d, x,
       |    $shifts
       |  FROM daily WINDOW w AS (ORDER BY d)),
       |g AS (
       |  SELECT
       |    $moments
       |  FROM shifted)
       |$branches
       |ORDER BY lag""".stripMargin
  }

  // ---- evt_granger_lite ----------------------------------------------------
  private val GrX = "click"
  private val GrY = "purchase"

  // Centered moments from raw sums (m = #obs; u = own lag, v = cross
  // lag, w = target), then the q=1 F-test of dropping v.
  private val grStage1 = Seq(
    "suu - CAST(su AS DOUBLE)*su/m AS cuu",
    "svv - CAST(sv AS DOUBLE)*sv/m AS cvv",
    "sww - CAST(sw AS DOUBLE)*sw/m AS cww",
    "suv - CAST(su AS DOUBLE)*sv/m AS cuv",
    "suw - CAST(su AS DOUBLE)*sw/m AS cuw",
    "svw - CAST(sv AS DOUBLE)*sw/m AS cvw")
  private val grStage2 = Seq(
    "(cvv*cuw - cuv*cvw) / nullif(cuu*cvv - cuv*cuv, 0) AS bu",
    "(cuu*cvw - cuv*cuw) / nullif(cuu*cvv - cuv*cuv, 0) AS bv")
  private val grStage3 = Seq(
    "cww - bu*cuw - bv*cvw AS sse_u",
    "cww - cuw*cuw/nullif(cuu, 0) AS sse_r")
  private val grF =
    "(((sse_r - sse_u)*(m - 3)) / nullif(sse_u, 0))"
  private val grFF = s"floor(($grF)*1e6 + 0.5)/1e6"

  private[graft] def grangerOn(events: DataFrame): DataFrame = {
    val daily = Series.paired(events, GrX, GrY)
    val w = Window.orderBy("d") // |days|-bounded
    val shifted = daily
      .select(col("x"), col("y"),
        lag(col("x"), 1).over(w).as("xl"),
        lag(col("y"), 1).over(w).as("yl"))
      .filter(col("xl").isNotNull)
      .localCheckpoint()
    def leg(dirName: String, wc: String, uc: String, vc: String) =
      shifted
        .select(col(wc).as("w_"), col(uc).as("u_"), col(vc).as("v_"))
        .groupBy()
        .agg(count(lit(1)).as("m"),
          sum(col("u_")).as("su"), sum(col("v_")).as("sv"),
          sum(col("w_")).as("sw"),
          sum(expr("CAST(u_ AS DECIMAL(19,0)) * CAST(u_ AS DECIMAL(19,0))"))
            .cast("double").as("suu"),
          sum(expr("CAST(v_ AS DECIMAL(19,0)) * CAST(v_ AS DECIMAL(19,0))"))
            .cast("double").as("svv"),
          sum(expr("CAST(w_ AS DECIMAL(19,0)) * CAST(w_ AS DECIMAL(19,0))"))
            .cast("double").as("sww"),
          sum(expr("CAST(u_ AS DECIMAL(19,0)) * CAST(v_ AS DECIMAL(19,0))"))
            .cast("double").as("suv"),
          sum(expr("CAST(u_ AS DECIMAL(19,0)) * CAST(w_ AS DECIMAL(19,0))"))
            .cast("double").as("suw"),
          sum(expr("CAST(v_ AS DECIMAL(19,0)) * CAST(w_ AS DECIMAL(19,0))"))
            .cast("double").as("svw"))
        .selectExpr("*" +: grStage1: _*)
        .selectExpr("*" +: grStage2: _*)
        .selectExpr("*" +: grStage3: _*)
        .selectExpr(s"'$dirName' AS direction", "m AS n_obs",
          s"$grFF AS f_stat",
          s"($grFF > 3.841459) AS reject_no_cause_5pct")
    leg(s"$GrX->$GrY", "y", "yl", "xl")
      .unionAll(leg(s"$GrY->$GrX", "x", "xl", "yl"))
      .orderBy("direction")
  }

  private def grangerLite(s: SparkSession, dir: String): DataFrame =
    grangerOn(loadEvents(s, dir))

  private val grangerOracle = {
    def legSql(dirName: String, wc: String, uc: String, vc: String) =
      s"""SELECT '$dirName' AS direction, m AS n_obs,
         |  $grFF AS f_stat,
         |  ($grFF > 3.841459) AS reject_no_cause_5pct
         |FROM (SELECT *, ${grStage3.mkString(", ")}
         |  FROM (SELECT *, ${grStage2.mkString(", ")}
         |    FROM (SELECT *, ${grStage1.mkString(", ")}
         |      FROM (
         |        SELECT CAST(count(*) AS BIGINT) AS m,
         |          CAST(sum($uc) AS BIGINT) AS su,
         |          CAST(sum($vc) AS BIGINT) AS sv,
         |          CAST(sum($wc) AS BIGINT) AS sw,
         |          CAST(CAST(sum(CAST($uc AS DECIMAL(19,0))
         |            * CAST($uc AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS suu,
         |          CAST(CAST(sum(CAST($vc AS DECIMAL(19,0))
         |            * CAST($vc AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS svv,
         |          CAST(CAST(sum(CAST($wc AS DECIMAL(19,0))
         |            * CAST($wc AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sww,
         |          CAST(CAST(sum(CAST($uc AS DECIMAL(19,0))
         |            * CAST($vc AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS suv,
         |          CAST(CAST(sum(CAST($uc AS DECIMAL(19,0))
         |            * CAST($wc AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS suw,
         |          CAST(CAST(sum(CAST($vc AS DECIMAL(19,0))
         |            * CAST($wc AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS svw
         |        FROM shifted) t1) t2) t3) t4""".stripMargin
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(sum(CASE WHEN event_type = '$GrX' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN event_type = '$GrY' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS y
       |  FROM events WHERE event_type IN ('$GrX', '$GrY')
       |  GROUP BY 1),
       |lagged AS (
       |  SELECT x, y,
       |    lag(x, 1) OVER (ORDER BY d) AS xl,
       |    lag(y, 1) OVER (ORDER BY d) AS yl
       |  FROM daily),
       |shifted AS (SELECT * FROM lagged WHERE xl IS NOT NULL)
       |${legSql(s"$GrX->$GrY", "y", "yl", "xl")}
       |UNION ALL
       |${legSql(s"$GrY->$GrX", "x", "xl", "yl")}
       |ORDER BY direction""".stripMargin
  }

  // ---- evt_durbin_watson ---------------------------------------------------
  // Residuals are kept EXACT (denB = n·Sty − St·Sy, den = n·Stt − St²,
  // all BIGINT). ẽ magnitudes stay ≤ ~1e14 at sf0.1 (< 2^53), so the
  // doubles that enter the two square sums are EXACT per term; only
  // the final Σ carries the usual ~1e-15 relative sum-order drift —
  // inside the floor-6 presentation.
  private[graft] def durbinWatsonOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
      .localCheckpoint()
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val indexed = daily
      .select(col("event_type"), col("y"),
        row_number().over(w).cast("long").as("t"))
      .localCheckpoint() // stats + residual pass share one sort
    val stats = indexed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("y")).as("sy"), sum(col("t") * col("t")).as("stt"),
        sum(col("t") * col("y")).as("sty"))
      .filter(col("n") > 2)
      .selectExpr("event_type", "n", "st", "sy",
        "n*sty - st*sy AS denb", "n*stt - st*st AS den")
    // ẽ_t = n·den·y − (den·Sy − denB·St) − n·denB·t: the residual
    // scaled by n·den, exact BIGINT (≲1e14 at sf0.1 — exact in the
    // double it becomes); the scale cancels in the DW ratio.
    val wT = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val resid = indexed
      .join(broadcast(stats), "event_type")
      .select(col("event_type"), col("n"), col("denb"), col("den"), col("t"),
        (col("n") * col("den") * col("y")
          - (col("den") * col("sy") - col("denb") * col("st"))
          - col("n") * col("denb") * col("t")).cast("double").as("e"))
      .select(col("event_type"), col("n"), col("denb"), col("den"),
        col("e"), lag(col("e"), 1).over(wT).as("ep"))
    resid.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("denb")).as("denb"),
        max(col("den")).as("den"),
        sum(col("e") * col("e")).as("see"),
        sum(expr("CASE WHEN ep IS NULL THEN 0.0 ELSE (e - ep)*(e - ep) END"))
          .as("sdd"))
      .selectExpr("event_type", "n AS n_days",
        "floor((CAST(denb AS DOUBLE)/den)*1e6 + 0.5)/1e6 AS slope",
        "floor((sdd/nullif(see, 0))*1e6 + 0.5)/1e6 AS dw",
        "(sdd/nullif(see, 0) < 1.5) AS positive_autocorr_dw15")
      .orderBy("event_type")
  }

  private def durbinWatson(s: SparkSession, dir: String): DataFrame =
    durbinWatsonOn(loadEvents(s, dir))

  private val durbinWatsonOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS t
      |  FROM daily),
      |stats AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(t*t) AS BIGINT) AS stt, CAST(sum(t*y) AS BIGINT) AS sty
      |  FROM idx GROUP BY 1 HAVING count(*) > 2),
      |coef AS (
      |  SELECT event_type, n, st, sy,
      |    n*sty - st*sy AS denb, n*stt - st*st AS den
      |  FROM stats),
      |resid AS (
      |  SELECT idx.event_type, n, denb, den,
      |    CAST(n*den*y - (den*sy - denb*st) - n*denb*t AS DOUBLE) AS e,
      |    lag(CAST(n*den*y - (den*sy - denb*st) - n*denb*t AS DOUBLE), 1)
      |      OVER (PARTITION BY idx.event_type ORDER BY t) AS ep
      |  FROM idx JOIN coef ON idx.event_type = coef.event_type),
      |g AS (
      |  SELECT event_type, max(n) AS n, max(denb) AS denb,
      |    max(den) AS den,
      |    sum(e*e) AS see,
      |    sum(CASE WHEN ep IS NULL THEN 0.0 ELSE (e - ep)*(e - ep) END)
      |      AS sdd
      |  FROM resid GROUP BY 1)
      |SELECT event_type, n AS n_days,
      |  floor((CAST(denb AS DOUBLE)/den)*1e6 + 0.5)/1e6 AS slope,
      |  floor((sdd/nullif(see, 0))*1e6 + 0.5)/1e6 AS dw,
      |  (sdd/nullif(see, 0) < 1.5) AS positive_autocorr_dw15
      |FROM g ORDER BY event_type""".stripMargin

  // ---- agg_autocorr ------------------------------------------------
  // Lag-1 and lag-7 autocorrelation of the global daily revenue
  // series. The lag windows run in one partition over ≤ one row per
  // calendar day (horizon-bounded, the agg_histogram argument); each
  // lag's Pearson correlation is computed over exactly the rows where
  // that lag exists, pinned by explicit NOT NULL filters on both
  // sides rather than trusting null-skipping symmetry.
  private def autocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.byOrderDay(load(s, dir, "orders"),
      sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("x"))
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


  // ---- win_rolling_corr --------------------------------------------
  // 30-day rolling Pearson correlation between daily order count and
  // daily revenue — the co-movement monitor between volume and value.
  // Window sums accumulate EXACT values (bigint counts, decimal
  // revenue and decimal cross-products); the correlation assembles
  // once per row from six exact sums via shared IEEE text. Output
  // restricted to full 30-row frames (warm-up excluded — a partial
  // frame's correlation is not comparable).
  private def rollingCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.byOrderDay(load(s, dir, "orders"),
      count(lit(1)).as("x"),
      sum(money(col("o_totalprice"))).cast("decimal(18,2)").as("y"))
    val w = Window.orderBy("d").rowsBetween(-29, Window.currentRow)
    val corrF =
      """round((sxy - sx * sy / n) /
        |  (sqrt(sx2 - sx * sx / n) * sqrt(sy2 - sy * sy / n)), 6)"""
        .stripMargin
    daily
      .withColumn("n", count(lit(1)).over(w).cast("double"))
      .withColumn("sx", sum(col("x")).over(w).cast("double"))
      .withColumn("sy", sum(col("y")).over(w).cast("double"))
      .withColumn("sxy", sum(col("x") * col("y")).over(w).cast("double"))
      .withColumn("sx2", sum(col("x") * col("x")).over(w).cast("double"))
      .withColumn("sy2",
        sum((col("y") * col("y")).cast("decimal(38,4)")).over(w)
          .cast("double"))
      .filter(col("n") === 30.0)
      .select(col("d"), col("x"), asD(col("y")).as("y"),
        expr(corrF).as("corr30"))
      .orderBy("d")
  }

  private val rollingCorrOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS x,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(18,2)) AS y
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |s AS (
      |  SELECT d, x, y,
      |    CAST(count(*) OVER w AS DOUBLE) AS n,
      |    CAST(sum(x) OVER w AS DOUBLE) AS sx,
      |    CAST(CAST(sum(y) OVER w AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(sum(x * y) OVER w AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(sum(x * x) OVER w AS DOUBLE) AS sx2,
      |    CAST(CAST(sum(CAST(CAST(y AS DECIMAL(19,2)) * y
      |      AS DECIMAL(38,4))) OVER w AS VARCHAR) AS DOUBLE) AS sy2
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
      |SELECT d, x, CAST(CAST(y AS VARCHAR) AS DOUBLE) AS y,
      |  round((sxy - sx * sy / n) /
      |    (sqrt(sx2 - sx * sx / n) * sqrt(sy2 - sy * sy / n)), 6) AS corr30
      |FROM s WHERE n = 30.0
      |ORDER BY d""".stripMargin


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_ljung_box" -> (ljungBox _),
    "win_acf_table" -> (acfTable _),
    "evt_pacf_table" -> (pacfTable _),
    "evt_cross_correlation" -> (crossCorrelation _),
    "evt_granger_lite" -> (grangerLite _),
    "evt_durbin_watson" -> (durbinWatson _),
    "agg_autocorr" -> (autocorr _),
    "win_rolling_corr" -> (rollingCorr _)
  )

  val oracle: Map[String, String] = Map(
    "evt_ljung_box" -> ljungBoxOracle,
    "win_acf_table" -> acfOracle,
    "evt_pacf_table" -> pacfOracle,
    "evt_cross_correlation" -> crossCorrOracle,
    "evt_granger_lite" -> grangerOracle,
    "evt_durbin_watson" -> durbinWatsonOracle,
    "agg_autocorr" -> autocorrOracle,
    "win_rolling_corr" -> rollingCorrOracle
  )
}
