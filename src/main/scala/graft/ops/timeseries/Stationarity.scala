package graft.ops.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Stationarity, random-walk, trend and structural-break tests over
  * the daily series (SURVEY.md §2.25, §2.26, §2.56, §2.60, §2.62,
  * §2.69, §2.77, §2.80, §2.89, §2.90):
  *
  *  - [[kpssLevel]]: KPSS level-stationarity statistic (short-run
  *    variance form, l = 0) — its null is stationarity, so it catches
  *    drifting series the random-walk diagnostics treat as the null.
  *
  *  - [[adfUnitRoot]]: Dickey-Fuller unit-root test — the COMPLEMENT
  *    of KPSS: DF's null is a unit root, and the textbook protocol
  *    reads them TOGETHER (KPSS rejects + DF rejects ⇒ conflicting,
  *    both retain ⇒ underpowered, ...), so this row surfaces both
  *    verdicts side-by-side. Regression form Δy_t = α + γ·y_{t−1},
  *    t-statistic on γ̂ against the 5% constant-only asymptotic
  *    critical value −2.86 (Fuller 1976 table; no trend term, no
  *    augmentation lags — the DF(0) member of the ADF family,
  *    documented choice mirrored in the oracle).
  *
  *  - [[hurstRs]]: rescaled-range (R/S) analysis — average R/S over
  *    full blocks of 8/16/32 days: range scaling, the Hurst
  *    long-memory diagnostic (persistent series: R/S grows faster than
  *    √n; the three block sizes give the curve whose slope is H).
  *
  *  - [[varianceRatio]]: Lo-MacKinlay VR(4) = Var(4-step overlapping
  *    diffs)/(4·Var(1-step diffs)) over the observed daily-count
  *    sequence. ≈1 for a random walk, <1 mean-reverting, >1 trending.
  *
  *  - [[segmentedTrend]]: interrupted-time-series style segmented
  *    regression — OLS trends on the FIRST and SECOND halves of the
  *    series, surfacing the slope change and the level jump at the
  *    cut: the no-control-available causal screen ("did the trend
  *    break at the midpoint?").
  *
  *  - [[chowTest]]: the Chow F-test on the same two-regime OLS — the
  *    segmented row surfaces WHAT changed; this one WHETHER the split
  *    model beats the pooled line at 5%:
  *    F = ((SSR_p − SSR_1 − SSR_2)/k) / ((SSR_1 + SSR_2)/(m − 2k)),
  *    k = 2, against the large-sample F(2, ∞) 5% point χ²₂/2 =
  *    2.995732 (per-type df₂ ≈ 26 here, where the exact point is
  *    ~3.37, so the flag is mildly anti-conservative; the f_stat
  *    column is the portable value).
  *
  *  - [[seasonalMannKendall]]: the Hirsch–Slack seasonal Mann–Kendall
  *    trend test with WEEKDAY strata. `win_mann_kendall` pools every
  *    pair, so a strong weekly cycle reads as noise or masks a real
  *    drift; the seasonal form compares each weekday only with the
  *    same weekday (S' = Σ_g S_g, Var' = Σ_g Var_g with per-stratum
  *    tie correction) and applies the same ±1 continuity correction as
  *    the pooled row.
  *
  *  - [[changepoint]]: CUSUM changepoint of the daily order counts
  *    ([[Series.orderCounts]]) — the date of the maximum |CUSUM| and
  *    the mean level on each side.
  *
  *  - [[orderTheilSen]] (`agg_theil_sen`) and [[theilSen]]
  *    (`evt_theil_sen_trend`): the Theil–Sen robust slope — the
  *    median of all pairwise slopes — of the daily order counts and
  *    of each event type's day-indexed counts ([[Series.dayIndexed]]);
  *    a single wild day moves OLS, not the pairwise-slope median.
  *
  *  - [[pettitt]]: Pettitt's rank change-point test per event type —
  *    WHERE the level shifted; V_i = Σ_j sgn(x_i − x_j) collapses to
  *    midranks and U_t to one cumulative window; K = max|U_t|,
  *    p ≈ min(1, 2·exp(−6K²/(T³+T²))).
  *
  *  - [[buishand]]: Buishand's rescaled-range statistic per event
  *    type — the cumulative-deviation lens beside Pettitt's rank lens
  *    (a sustained drift of the mean vs a median shift); the scaled
  *    partial sums S'_t = T·cum_t − t·Σx are exact BIGINTs and the
  *    row surfaces the statistic (critical values are tabulated per
  *    T, Buishand 1982).
  *
  * Scale shapes: every row starts from a daily series and windows
  * over at most |types|·|days| rows (never raw events or orders) into
  * one hash aggregate per type; R/S explodes it 3× (once per block
  * size); the seasonal MK pair join is per (type, weekday), bounded
  * by (span/7)² per stratum — a TIME-HORIZON constant, like the
  * Theil–Sen pair grids (≤ days² pairs).
  *
  * Determinism: partial sums stay integral by the Hurst scaling
  * (n·S_t = n·cum_t − t·T); every square or cross product that can
  * leave BIGINT range (KPSS Σ(n·S_t)², ADF/Chow/segmented moments)
  * accumulates in exact DECIMAL(38,0) (§1.5 r9) with the oracle's
  * VARCHAR routing (§1.5 r7); statistics assemble once from shared
  * formula text, with the perfect-fit guards (CASE … > 0 before a
  * sqrt or ratio) applied identically on both engines; verdicts
  * compare AFTER the 6-dp floor.
  */
object Stationarity {

  // ---- evt_kpss_level --------------------------------------------------
  // stat = Σ_t S_t² / (n²·σ̂²) with S_t the partial sums of
  // deviations and σ̂² the population variance; both scale by n into
  // integers: n·S_t = n·cum_t − t·T and n²·σ̂² = n·Σy² − T², so
  // stat = Σ(n·S_t)² / (n²·(n·Σy² − T²)).
  // nullif guards the constant-series degenerate (zero variance):
  // NULL stat/verdict instead of engine-specific Inf handling.
  private val kpssStatF =
    """floor((ssq / (CAST(nd AS DOUBLE)*nd*nullif(CAST(nq AS DOUBLE),
      | 0)))*1e6 + 0.5)/1e6""".stripMargin

  private[graft] def kpssLevelOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wcum = Window.partitionBy(col("event_type")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("event_type"))
    Series.daily(events)
      .select(col("event_type"), col("y").cast("long").as("y"),
        row_number().over(w).cast("long").as("t"))
      .withColumn("cum", sum(col("y")).over(wcum))
      .withColumn("tt", sum(col("y")).over(wall))
      .withColumn("nd", count(lit(1)).over(wall))
      .withColumn("ns", col("nd") * col("cum") - col("t") * col("tt"))
      .groupBy(col("event_type"))
      .agg(max(col("nd")).as("nd"),
        sum(expr("CAST(ns AS DECIMAL(19,0)) * CAST(ns AS DECIMAL(19,0))"))
          .cast("double").as("ssq"),
        (max(col("nd")) * sum(col("y") * col("y")) -
          max(col("tt")) * max(col("tt"))).as("nq"))
      .selectExpr("event_type", "nd AS n_days",
        s"$kpssStatF AS kpss_stat",
        s"($kpssStatF > 0.463) AS reject_level_stationary_5pct")
      .orderBy("event_type")
  }

  private def kpssLevel(s: SparkSession, dir: String): DataFrame =
    kpssLevelOn(loadEvents(s, dir))

  // evt_adf_unit_root embeds this as a subquery to surface the KPSS
  // verdict beside the ADF one.
  private val kpssLevelOracle =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |ind AS (
       |  SELECT event_type, y,
       |    CAST(row_number() OVER w AS BIGINT) AS t,
       |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
       |ns AS (
       |  SELECT event_type, y, nd, tt, nd*cum - t*tt AS ns FROM ind),
       |g AS (
       |  SELECT event_type, CAST(max(nd) AS BIGINT) AS nd,
       |    CAST(CAST(sum(CAST(ns AS DECIMAL(19,0))
       |      * CAST(ns AS DECIMAL(19,0))) AS VARCHAR)
       |      AS DOUBLE) AS ssq,
       |    CAST(max(nd)*sum(y*y) - max(tt)*max(tt) AS BIGINT) AS nq
       |  FROM ns GROUP BY 1)
       |SELECT event_type, nd AS n_days,
       |  $kpssStatF AS kpss_stat,
       |  ($kpssStatF > 0.463) AS reject_level_stationary_5pct
       |FROM g ORDER BY event_type""".stripMargin

  // ---- evt_adf_unit_root -------------------------------------------------
  // Centered second moments (m = #lag-pairs): cxx = Σx² − (Σx)²/m,
  // cxy = Σx·Δy − Σx·ΣΔy/m, cyy = Σ(Δy)² − (ΣΔy)²/m; γ̂ = cxy/cxx,
  // SSE = cyy − γ̂·cxy, t = γ̂ / sqrt(SSE/(m−2)/cxx). The variance
  // ratio is gated > 0 BEFORE the sqrt: a PERFECT fit leaves SSE a
  // few ulp either side of zero, and sqrt of the tiny-negative side
  // is NaN — which Spark surfaces as NaN while the brute/oracle
  // contract wants NULL (scalacheck-found on alternating series).
  private val adfT =
    """((cxy / nullif(cxx, 0))
      | / nullif(sqrt(CASE WHEN ((cyy - (cxy / nullif(cxx, 0))*cxy)
      |   / nullif(m - 2, 0)) / nullif(cxx, 0) > 0
      |   THEN ((cyy - (cxy / nullif(cxx, 0))*cxy)
      |   / nullif(m - 2, 0)) / nullif(cxx, 0) END), 0))""".stripMargin
  private val adfTF = s"floor(($adfT)*1e6 + 0.5)/1e6"

  private[graft] def adfOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val lagged = Series.daily(events)
      .select(col("event_type"), col("y"),
        lag(col("y"), 1).over(w).as("x"))
      .filter(col("x").isNotNull)
      .select(col("event_type"), col("x"), (col("y") - col("x")).as("dy"))
    lagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"),
        sum(col("dy")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))"))
          .cast("double").as("sxx"),
        sum(expr("CAST(x AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))"))
          .cast("double").as("sxy"),
        sum(expr("CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))"))
          .cast("double").as("syy"))
      .selectExpr("event_type", "m",
        "sxx - CAST(sx AS DOUBLE)*sx/m AS cxx",
        "sxy - CAST(sx AS DOUBLE)*sy/m AS cxy",
        "syy - CAST(sy AS DOUBLE)*sy/m AS cyy")
      .selectExpr("event_type", "m + 1 AS n_days",
        s"$adfTF AS adf_t_stat",
        s"($adfTF < -2.86) AS reject_unit_root_5pct")
  }

  private def adfUnitRoot(s: SparkSession, dir: String): DataFrame = {
    val ev = loadEvents(s, dir)
    adfOn(ev)
      .join(kpssLevelOn(ev)
        .select(col("event_type"),
          col("reject_level_stationary_5pct")
            .as("kpss_reject_level_stationary_5pct")),
        Seq("event_type"), "left")
      .orderBy("event_type")
  }

  private val adfOracle =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT event_type, y,
       |    lag(y) OVER (PARTITION BY event_type ORDER BY d) AS x
       |  FROM daily),
       |pairs AS (
       |  SELECT event_type, x, y - x AS dy FROM lagged
       |  WHERE x IS NOT NULL),
       |g AS (
       |  SELECT event_type,
       |    CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(dy) AS BIGINT) AS sy,
       |    CAST(CAST(sum(CAST(x AS DECIMAL(19,0))
       |      * CAST(x AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxx,
       |    CAST(CAST(sum(CAST(x AS DECIMAL(19,0))
       |      * CAST(dy AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sxy,
       |    CAST(CAST(sum(CAST(dy AS DECIMAL(19,0))
       |      * CAST(dy AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS syy
       |  FROM pairs GROUP BY 1),
       |c AS (
       |  SELECT event_type, m,
       |    sxx - CAST(sx AS DOUBLE)*sx/m AS cxx,
       |    sxy - CAST(sx AS DOUBLE)*sy/m AS cxy,
       |    syy - CAST(sy AS DOUBLE)*sy/m AS cyy
       |  FROM g),
       |adf AS (
       |  SELECT event_type, m + 1 AS n_days,
       |    $adfTF AS adf_t_stat,
       |    ($adfTF < -2.86) AS reject_unit_root_5pct
       |  FROM c)
       |SELECT adf.event_type, adf.n_days, adf.adf_t_stat,
       |  adf.reject_unit_root_5pct,
       |  kp.reject_level_stationary_5pct
       |    AS kpss_reject_level_stationary_5pct
       |FROM adf LEFT JOIN (
       |$kpssLevelOracle
       |) kp ON adf.event_type = kp.event_type
       |ORDER BY adf.event_type""".stripMargin

  // ---- evt_hurst_rs ----------------------------------------------------
  // Block statistics stay integral by scaling deviations by the block
  // size n: dev_t = n·y_t − S (S = block sum), Z_t = n·cum_t − t·S,
  // R_scaled = max(Z,0) − min(Z,0), and n²·Var = n·Σy² − S², so
  // R/S = R_scaled / sqrt(n·Σy² − S²) — ONE double assembly per
  // block, then an averaged curve point per (type, n). Constant
  // blocks (zero variance) are excluded via nullif and counted
  // separately (n_blocks vs n_scored).
  private[graft] def hurstRsOn(events: DataFrame): DataFrame = {
    val wrn = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wcum = Window.partitionBy(col("event_type"), col("bn"), col("blk"))
      .orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wblk = Window.partitionBy(col("event_type"), col("bn"), col("blk"))
    Series.daily(events)
      .select(col("event_type"), col("y").cast("long").as("y"),
        row_number().over(wrn).cast("long").as("rn"))
      .select(col("event_type"), col("y"), col("rn"),
        explode(array(lit(8L), lit(16L), lit(32L))).as("bn"))
      .selectExpr("event_type", "bn", "y", "rn",
        "(rn - 1) div bn AS blk", "(rn - 1) % bn + 1 AS rib")
      .withColumn("cum", sum(col("y")).over(wcum))
      .withColumn("sb", sum(col("y")).over(wblk))
      .withColumn("z", col("bn") * col("cum") - col("rib") * col("sb"))
      .groupBy(col("event_type"), col("bn"), col("blk"))
      .agg(count(lit(1)).as("cnt"), max(col("sb")).as("s"),
        sum(col("y") * col("y")).as("qq"),
        max(col("z")).as("zmax"), min(col("z")).as("zmin"))
      .filter(col("cnt") === col("bn"))
      .selectExpr("event_type", "bn",
        """(CASE WHEN zmax > 0 THEN zmax ELSE 0 END
          |  - CASE WHEN zmin < 0 THEN zmin ELSE 0 END) AS r""".stripMargin,
        "bn * qq - s * s AS q")
      .groupBy(col("event_type"), col("bn").as("block_n"))
      .agg(count(lit(1)).as("n_blocks"),
        count(when(col("q") > 0, 1L)).as("n_scored"),
        expr("""floor(avg(CAST(r AS DOUBLE)
          | / nullif(sqrt(CAST(q AS DOUBLE)), 0))*1e6 + 0.5)/1e6"""
          .stripMargin).as("avg_rs"))
      .orderBy("event_type", "block_n")
  }

  private def hurstRs(s: SparkSession, dir: String): DataFrame =
    hurstRsOn(loadEvents(s, dir))

  private val hurstRsOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |rn AS (
      |  SELECT event_type, y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS rn
      |  FROM daily),
      |sized AS (
      |  SELECT event_type, y, rn, CAST(bn.bn AS BIGINT) AS bn,
      |    (rn - 1) // CAST(bn.bn AS BIGINT) AS blk,
      |    (rn - 1) % CAST(bn.bn AS BIGINT) + 1 AS rib
      |  FROM rn CROSS JOIN (SELECT unnest([8, 16, 32]) AS bn) bn),
      |zs AS (
      |  SELECT event_type, bn, blk, y,
      |    bn * CAST(sum(y) OVER (PARTITION BY event_type, bn, blk
      |      ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT)
      |     - rib * CAST(sum(y) OVER (PARTITION BY event_type, bn, blk)
      |      AS BIGINT) AS z,
      |    CAST(sum(y) OVER (PARTITION BY event_type, bn, blk) AS BIGINT)
      |      AS sb
      |  FROM sized),
      |blocks AS (
      |  SELECT event_type, bn, blk, CAST(count(*) AS BIGINT) AS cnt,
      |    max(sb) AS s, CAST(sum(y * y) AS BIGINT) AS qq,
      |    CAST(max(z) AS BIGINT) AS zmax, CAST(min(z) AS BIGINT) AS zmin
      |  FROM zs GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT event_type, bn,
      |    (CASE WHEN zmax > 0 THEN zmax ELSE 0 END
      |      - CASE WHEN zmin < 0 THEN zmin ELSE 0 END) AS r,
      |    bn * qq - s * s AS q
      |  FROM blocks WHERE cnt = bn)
      |SELECT event_type, bn AS block_n, CAST(count(*) AS BIGINT)
      |    AS n_blocks,
      |  CAST(count(CASE WHEN q > 0 THEN 1 END) AS BIGINT) AS n_scored,
      |  floor(avg(CAST(r AS DOUBLE)
      |   / nullif(sqrt(CAST(q AS DOUBLE)), 0))*1e6 + 0.5)/1e6 AS avg_rs
      |FROM scored GROUP BY 1, 2 ORDER BY event_type, block_n""".stripMargin

  // ---- evt_variance_ratio ----------------------------------------------
  // Row-lag semantics over the OBSERVED day sequence (the corpus is
  // gap-free daily; calendar gaps would shift both engines
  // identically). Population variances from exact integer sums:
  // Var_k = (m_k·Σd² − (Σd)²)/m_k².
  private[graft] def varianceRatioOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    daily
      .select(col("event_type"),
        (col("y") - lag(col("y"), 1).over(w)).as("d1"),
        (col("y") - lag(col("y"), 4).over(w)).as("d4"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        count(col("d1")).as("m1"), sum(col("d1")).as("s1"),
        sum(col("d1") * col("d1")).as("q1"),
        count(col("d4")).as("m4"), sum(col("d4")).as("s4"),
        sum(col("d4") * col("d4")).as("q4"))
      .selectExpr("event_type", "n_days",
        """floor(((CAST(m1 AS DOUBLE)*q1 - CAST(s1 AS DOUBLE)*s1)
          | / (CAST(m1 AS DOUBLE)*m1))*1e6 + 0.5)/1e6 AS var1""".stripMargin,
        """floor(((CAST(m4 AS DOUBLE)*q4 - CAST(s4 AS DOUBLE)*s4)
          | / (CAST(m4 AS DOUBLE)*m4))*1e6 + 0.5)/1e6 AS var4""".stripMargin,
        """floor((((CAST(m4 AS DOUBLE)*q4 - CAST(s4 AS DOUBLE)*s4)
          |   / (4 * CAST(m4 AS DOUBLE)*m4))
          | / nullif((CAST(m1 AS DOUBLE)*q1 - CAST(s1 AS DOUBLE)*s1)
          |   / (CAST(m1 AS DOUBLE)*m1), 0))*1e6 + 0.5)/1e6
          | AS vr4""".stripMargin)
      .orderBy("event_type")
  }

  private def varianceRatio(s: SparkSession, dir: String): DataFrame =
    varianceRatioOn(loadEvents(s, dir))

  private val varianceRatioOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |dif AS (
      |  SELECT event_type,
      |    y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS d1,
      |    y - lag(y, 4) OVER (PARTITION BY event_type ORDER BY d) AS d4
      |  FROM daily),
      |g AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(count(d1) AS BIGINT) AS m1,
      |    CAST(sum(d1) AS BIGINT) AS s1,
      |    CAST(sum(d1*d1) AS BIGINT) AS q1,
      |    CAST(count(d4) AS BIGINT) AS m4,
      |    CAST(sum(d4) AS BIGINT) AS s4,
      |    CAST(sum(d4*d4) AS BIGINT) AS q4
      |  FROM dif GROUP BY 1)
      |SELECT event_type, n_days,
      |  floor(((CAST(m1 AS DOUBLE)*q1 - CAST(s1 AS DOUBLE)*s1)
      |   / (CAST(m1 AS DOUBLE)*m1))*1e6 + 0.5)/1e6 AS var1,
      |  floor(((CAST(m4 AS DOUBLE)*q4 - CAST(s4 AS DOUBLE)*s4)
      |   / (CAST(m4 AS DOUBLE)*m4))*1e6 + 0.5)/1e6 AS var4,
      |  floor((((CAST(m4 AS DOUBLE)*q4 - CAST(s4 AS DOUBLE)*s4)
      |     / (4 * CAST(m4 AS DOUBLE)*m4))
      |   / nullif((CAST(m1 AS DOUBLE)*q1 - CAST(s1 AS DOUBLE)*s1)
      |     / (CAST(m1 AS DOUBLE)*m1), 0))*1e6 + 0.5)/1e6
      |   AS vr4
      |FROM g ORDER BY event_type""".stripMargin

  // ---- evt_segmented_trend --------------------------------------------------
  // Per segment i ∈ {1, 2}: slope, then intercept, then the fitted
  // values at the first post-cut index x = t0 + 1.
  private def stB(i: Int): String =
    s"""((CAST(m$i AS DOUBLE)*sty$i - CAST(st$i AS DOUBLE)*sy$i)
       | / nullif(CAST(m$i AS DOUBLE)*stt$i
       |   - CAST(st$i AS DOUBLE)*st$i, 0))""".stripMargin
  private val stStage1 = Seq(
    s"${stB(1)} AS b1", s"${stB(2)} AS b2")
  private val stStage2 = Seq(
    "(sy1 - b1*st1) / nullif(CAST(m1 AS DOUBLE), 0) AS a1",
    "(sy2 - b2*st2) / nullif(CAST(m2 AS DOUBLE), 0) AS a2")
  private val stJump =
    "((a2 + b2*(t0 + 1)) - (a1 + b1*(t0 + 1)))"

  private[graft] def segmentedTrendOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wall = Window.partitionBy(col("event_type"))
    val daily = Series.daily(events)
      .select(col("event_type"), col("y"),
        row_number().over(w).cast("long").as("t"))
      .withColumn("nd", count(lit(1)).over(wall))
      .withColumn("t0", expr("(nd + 1) div 2"))
    def seg(i: Int, cond: String) = Seq(
      sum(expr(s"CASE WHEN $cond THEN 1 ELSE 0 END")).as(s"m$i"),
      sum(expr(s"CASE WHEN $cond THEN t ELSE 0 END")).as(s"st$i"),
      sum(expr(s"CASE WHEN $cond THEN y ELSE 0 END")).as(s"sy$i"),
      sum(expr(s"CASE WHEN $cond THEN CAST(t AS DECIMAL(19,0))" +
        s" * CAST(t AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"))
        .cast("double").as(s"stt$i"),
      sum(expr(s"CASE WHEN $cond THEN CAST(t AS DECIMAL(19,0))" +
        s" * CAST(y AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"))
        .cast("double").as(s"sty$i"))
    val aggs = max(col("t0")).as("t0") +:
      (seg(1, "t <= t0") ++ seg(2, "t > t0"))
    daily.groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(Seq("event_type", "t0", "m1", "m2", "st1", "st2",
        "sy1", "sy2", "stt1", "stt2", "sty1", "sty2") ++ stStage1: _*)
      .selectExpr("*" +: stStage2: _*)
      .selectExpr("event_type",
        "CAST(m1 + m2 AS BIGINT) AS n_days",
        "t0 AS cut_index",
        "floor(b1*1e6 + 0.5)/1e6 AS slope_pre",
        "floor(b2*1e6 + 0.5)/1e6 AS slope_post",
        "floor((b2 - b1)*1e6 + 0.5)/1e6 AS slope_change",
        s"floor(($stJump)*1e6 + 0.5)/1e6 AS level_jump")
      .orderBy("event_type")
  }

  private def segmentedTrend(s: SparkSession, dir: String): DataFrame =
    segmentedTrendOn(loadEvents(s, dir))

  private val segmentedTrendOracle = {
    def segSql(i: Int, cond: String) = Seq(
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS m$i",
      s"CAST(sum(CASE WHEN $cond THEN t ELSE 0 END) AS BIGINT) AS st$i",
      s"CAST(sum(CASE WHEN $cond THEN y ELSE 0 END) AS BIGINT) AS sy$i",
      s"""CAST(CAST(sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(19,0))
         |  * CAST(t AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |  AS VARCHAR) AS DOUBLE) AS stt$i""".stripMargin,
      s"""CAST(CAST(sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(19,0))
         |  * CAST(y AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |  AS VARCHAR) AS DOUBLE) AS sty$i""".stripMargin)
    val aggDefs = (Seq("CAST(max(t0) AS BIGINT) AS t0") ++
      segSql(1, "t <= t0") ++ segSql(2, "t > t0")).mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, y,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
       |      AS BIGINT) AS t,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
       |  FROM daily),
       |cut AS (SELECT *, (nd + 1) // 2 AS t0 FROM idx),
       |g AS (
       |  SELECT event_type,
       |    $aggDefs
       |  FROM cut GROUP BY 1),
       |s1 AS (SELECT *, ${stStage1.mkString(", ")} FROM g),
       |s2 AS (SELECT *, ${stStage2.mkString(", ")} FROM s1)
       |SELECT event_type,
       |  CAST(m1 + m2 AS BIGINT) AS n_days,
       |  t0 AS cut_index,
       |  floor(b1*1e6 + 0.5)/1e6 AS slope_pre,
       |  floor(b2*1e6 + 0.5)/1e6 AS slope_post,
       |  floor((b2 - b1)*1e6 + 0.5)/1e6 AS slope_change,
       |  floor(($stJump)*1e6 + 0.5)/1e6 AS level_jump
       |FROM s2 ORDER BY event_type""".stripMargin
  }

  // ---- evt_chow_test ------------------------------------------------------
  private def chowSeg(i: Int): Seq[String] = {
    val cond = if (i == 1) "t <= t0" else "t > t0"
    Seq(
      s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS m$i",
      s"CAST(sum(CASE WHEN $cond THEN t ELSE 0 END) AS BIGINT) AS st$i",
      s"CAST(sum(CASE WHEN $cond THEN y ELSE 0 END) AS BIGINT) AS sy$i",
      s"""sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(19,0))
         |  * CAST(t AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |  AS stt$i""".stripMargin,
      s"""sum(CASE WHEN $cond THEN CAST(t AS DECIMAL(19,0))
         |  * CAST(y AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |  AS sty$i""".stripMargin,
      s"""sum(CASE WHEN $cond THEN CAST(y AS DECIMAL(19,0))
         |  * CAST(y AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |  AS syy$i""".stripMargin)
  }

  // Centered second moments per regime and pooled — every input
  // exact, each quotient double (shared text). The pooled sums are
  // single additions of exact values (one IEEE op, same both sides).
  private def chowCentered(tag: String, m: String, st: String, sy: String,
      stt: String, sty: String, syy: String): Seq[String] = Seq(
    s"($stt) - CAST($st AS DOUBLE)*($st)/($m) AS cxx$tag",
    s"($sty) - CAST($st AS DOUBLE)*($sy)/($m) AS cxy$tag",
    s"($syy) - CAST($sy AS DOUBLE)*($sy)/($m) AS cyy$tag")
  private val chowStage1: Seq[String] =
    chowCentered("1", "m1", "st1", "sy1", "stt1", "sty1", "syy1") ++
    chowCentered("2", "m2", "st2", "sy2", "stt2", "sty2", "syy2") ++
    chowCentered("p", "m1 + m2", "st1 + st2", "sy1 + sy2",
      "stt1 + stt2", "sty1 + sty2", "syy1 + syy2")
  private def ssr(tag: String): String =
    s"cyy$tag - cxy$tag*cxy$tag/nullif(cxx$tag, 0) AS ssr$tag"
  private val chowStage2 = Seq(ssr("1"), ssr("2"), ssr("p"))
  // Residual-variance gate BEFORE the ratio (the ADF discipline):
  // perfect fits leave ssr1+ssr2 a few ulp either side of 0, and the
  // unguarded F would be ±huge-or-inf with the sign diverging across
  // engines. NULL m−4 (too few days) rides the same CASE to NULL.
  private val chowF =
    """(CASE WHEN (ssr1 + ssr2) / nullif(CAST(m1 + m2 AS DOUBLE) - 4, 0) > 0
      |  THEN ((ssrp - ssr1 - ssr2)/2)
      |    / ((ssr1 + ssr2) / (CAST(m1 + m2 AS DOUBLE) - 4)) END)""".stripMargin
  private val chowFF = s"floor(($chowF)*1e6 + 0.5)/1e6"
  private val chowFinal: Seq[String] = Seq(
    "event_type", "CAST(m1 + m2 AS BIGINT) AS n_days", "t0 AS cut_index",
    s"$chowFF AS f_stat",
    s"($chowFF > 2.995732) AS reject_stability_5pct")

  private[graft] def chowOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wall = Window.partitionBy(col("event_type"))
    val cut = Series.daily(events)
      .select(col("event_type"), col("y"),
        row_number().over(w).cast("long").as("t"))
      .withColumn("nd", count(lit(1)).over(wall))
      .withColumn("t0", expr("(nd + 1) div 2"))
    // expr() parses the "… AS name" aliases embedded in the shared
    // moment strings, so the agg list IS the oracle's agg list.
    val moments = (chowSeg(1) ++ chowSeg(2)).map(s => expr(s))
    cut.groupBy(col("event_type"))
      .agg(max(col("t0")).as("t0"), moments: _*)
      .selectExpr(Seq("event_type", "t0", "m1", "m2", "st1", "st2",
        "sy1", "sy2",
        "CAST(stt1 AS DOUBLE) AS stt1", "CAST(stt2 AS DOUBLE) AS stt2",
        "CAST(sty1 AS DOUBLE) AS sty1", "CAST(sty2 AS DOUBLE) AS sty2",
        "CAST(syy1 AS DOUBLE) AS syy1", "CAST(syy2 AS DOUBLE) AS syy2"): _*)
      .selectExpr("*" +: chowStage1: _*)
      .selectExpr("*" +: chowStage2: _*)
      .selectExpr(chowFinal: _*)
      .orderBy("event_type")
  }

  private def chowTest(s: SparkSession, dir: String): DataFrame =
    chowOn(loadEvents(s, dir))

  private val chowOracle = {
    val aggDefs = ("CAST(max(t0) AS BIGINT) AS t0" +:
      (chowSeg(1) ++ chowSeg(2))).mkString(",\n    ")
    // The decimal moment sums route through VARCHAR on the way to
    // DOUBLE (§1.5 r7 — DuckDB's HUGEINT-backed wide decimals do not
    // round-trip to double the way Spark's BigDecimal does).
    val toD = (1 to 2).flatMap(i => Seq(s"stt$i", s"sty$i", s"syy$i"))
      .map(c => s"CAST(CAST($c AS VARCHAR) AS DOUBLE) AS $c")
      .mkString(", ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, y,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
       |      AS BIGINT) AS t,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
       |  FROM daily),
       |cut AS (SELECT *, (nd + 1) // 2 AS t0 FROM idx),
       |g AS (
       |  SELECT event_type,
       |    $aggDefs
       |  FROM cut GROUP BY 1),
       |gd AS (SELECT event_type, t0, m1, m2, st1, st2, sy1, sy2, $toD
       |  FROM g),
       |s1 AS (SELECT *, ${chowStage1.mkString(", ")} FROM gd),
       |s2 AS (SELECT *, ${chowStage2.mkString(", ")} FROM s1)
       |SELECT ${chowFinal.mkString(",\n  ")}
       |FROM s2 ORDER BY event_type""".stripMargin
  }

  // ---- evt_seasonal_mann_kendall ------------------------------------------
  private[graft] def seasonalMannKendallOn(events: DataFrame): DataFrame = {
    val daily = Series.daily(events).withColumnRenamed("y", "c")
      // ISO weekday stratum (1 = Monday … 7 = Sunday on both engines)
      .withColumn("g", (weekday(col("d")) + lit(1)).cast("int"))
      .localCheckpoint() // pair join both sides + the tie aggregate
    val sStat = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.g") === col("b.g") && col("a.d") < col("b.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("bigint")).as("s"))
    // Per-stratum MK variance needs n and the tie spectrum WITHIN the
    // stratum; both come from one (type, weekday, count-value) agg.
    val strata = daily.groupBy(col("event_type"), col("g"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"), col("g"))
      .agg(sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tc"))
      .select(col("event_type"), col("n"),
        expr("CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - CAST(tc AS DOUBLE)")
          .as("vg"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_days"),
        count(lit(1)).as("n_strata"),
        (sum(col("vg")) / 18.0).as("var_s"))
    sStat.join(strata, "event_type")
      .filter(col("n_days") >= 10)
      .selectExpr("event_type", "n_days", "n_strata", "s",
        "round(var_s, 6) AS var_s",
        """round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
          |     WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
          |     ELSE CAST(0 AS DOUBLE) END, 6) AS z""".stripMargin)
      .orderBy("event_type")
  }

  private def seasonalMannKendall(s: SparkSession, dir: String): DataFrame =
    seasonalMannKendallOn(loadEvents(s, dir))

  private val seasonalMkOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(isodow(CAST(ts AS DATE)) AS INT) AS g,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |s AS (
      |  SELECT a.event_type, CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.g = b.g AND a.d < b.d
      |  GROUP BY a.event_type),
      |ties AS (
      |  SELECT event_type, g, CAST(sum(t) AS BIGINT) AS n,
      |    CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tc
      |  FROM (SELECT event_type, g, c, CAST(count(*) AS BIGINT) AS t
      |        FROM daily GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_days,
      |    CAST(count(*) AS BIGINT) AS n_strata,
      |    sum(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
      |      - CAST(tc AS DOUBLE)) / 18.0 AS var_s
      |  FROM ties GROUP BY 1)
      |SELECT s.event_type AS event_type, n_days, n_strata, s,
      |  round(var_s, 6) AS var_s,
      |  round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
      |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
      |    ELSE CAST(0 AS DOUBLE) END, 6) AS z
      |FROM s JOIN st ON s.event_type = st.event_type
      |WHERE n_days >= 10
      |ORDER BY s.event_type""".stripMargin

  // ---- evt_changepoint ---------------------------------------------
  // CUSUM changepoint on daily order counts: standardize each day
  // against the global mean/sd (computed from exact Σc, Σc² via the
  // explicit textbook formula — the agg_regression discipline, since
  // stddev() builtins disagree across engines), cumulate in date
  // order, and report the date of the maximum |CUSUM| (earliest on
  // ties) with the mean level on each side of the break.
  private def changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Series.orderCounts(load(s, dir, "orders"))
    val tot = broadcast(daily.agg(
      count(lit(1)).as("n"),
      sum(col("c")).cast("bigint").as("sc"),
      sum(col("c") * col("c")).cast("bigint").as("sc2")))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily.crossJoin(tot)
      .withColumn("mean", col("sc").cast("double") / col("n").cast("double"))
      .withColumn("sd", sqrt((col("sc2").cast("double") -
        col("sc").cast("double") * col("sc").cast("double") /
          col("n").cast("double")) / (col("n").cast("double") - 1.0)))
      .withColumn("s", sum((col("c").cast("double") - col("mean")) / col("sd"))
        .over(w))
    val cp = cusum
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("s")).desc, col("d"))))
      .filter(col("rk") === 1)
      .select(col("d").as("cp_date"), round(abs(col("s")), 6).as("max_abs_cusum"))
    daily.crossJoin(broadcast(cp))
      .agg(first(col("cp_date"), ignoreNulls = true).as("cp_date"),
        first(col("max_abs_cusum"), ignoreNulls = true).as("max_abs_cusum"),
        count(lit(1)).as("n_days"),
        round(sum(when(col("d") <= col("cp_date"), col("c")).otherwise(0L))
          .cast("double") /
          sum(when(col("d") <= col("cp_date"), 1L).otherwise(0L)).cast("double"),
          6).as("mean_before"),
        round(sum(when(col("d") > col("cp_date"), col("c")).otherwise(0L))
          .cast("double") /
          sum(when(col("d") > col("cp_date"), 1L).otherwise(0L)).cast("double"),
          6).as("mean_after"))
      .select(col("n_days"), col("cp_date"), col("max_abs_cusum"),
        col("mean_before"), col("mean_after"))
  }

  private val changepointOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
      |    CAST(sum(c * c) AS BIGINT) AS sc2
      |  FROM daily),
      |cusum AS (
      |  SELECT d, c,
      |    sum((CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) /
      |      sqrt((CAST(sc2 AS DOUBLE) -
      |        CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) /
      |        (CAST(n AS DOUBLE) - 1.0))) OVER (
      |      ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM daily CROSS JOIN tot),
      |cp AS (
      |  SELECT d AS cp_date, round(abs(s), 6) AS max_abs_cusum
      |  FROM cusum ORDER BY abs(s) DESC, d LIMIT 1)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
      |  cp_date, max_abs_cusum,
      |  (SELECT round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |   FROM daily, cp WHERE d <= cp_date) AS mean_before,
      |  (SELECT round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |   FROM daily, cp WHERE d > cp_date) AS mean_after
      |FROM cp""".stripMargin


  // ---- agg_theil_sen -----------------------------------------------
  // Theil–Sen robust slope of the daily order-count series: the
  // MEDIAN of all pairwise slopes (c_j−c_i)/(d_j−d_i). The series is
  // horizon-bounded (~2.4k days → ~2.9M pairs — a CONSTANT in corpus
  // size; at 100 TB the daily aggregate is the same ~2.4k rows, only
  // the first groupBy grows). Slopes are exact-integer ratios;
  // percentile interpolation at the even-count midpoint averages two
  // such doubles — deterministic. Intercept via the textbook
  // median(c) − slope·median(day_index) with day_index = days since
  // the series minimum (exact ints both).
  private def orderTheilSen(s: SparkSession, dir: String): DataFrame = {
    val dailyRaw = Series.orderCounts(load(s, dir, "orders"))
    // series start as a 1-row broadcast, not a global window — the
    // changepoint discipline (no single-partition WindowExec)
    val daily = dailyRaw
      .crossJoin(broadcast(dailyRaw.agg(min(col("d")).as("d0"))))
      .select(col("c"), datediff(col("d"), col("d0")).cast("bigint").as("di"))
    val pairs = daily.as("a")
      .join(broadcast(daily.as("b")), col("a.di") < col("b.di"))
      .select(((col("b.c") - col("a.c")).cast("double") /
        (col("b.di") - col("a.di")).cast("double")).as("slope"))
    val slope = pairs.agg(count(lit(1)).as("n_pairs"),
      expr("percentile(slope, 0.5)").as("slope"))
    daily.agg(count(lit(1)).as("n_days"),
      expr("percentile(CAST(c AS DOUBLE), 0.5)").as("med_c"),
      expr("percentile(CAST(di AS DOUBLE), 0.5)").as("med_di"))
      .crossJoin(broadcast(slope))
      .select(col("n_days"), col("n_pairs"),
        round(col("slope"), 6).as("slope"),
        round(col("med_c") - col("slope") * col("med_di"), 6)
          .as("intercept"))
  }

  private val orderTheilSenOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |dd AS (
      |  SELECT c, CAST(d - (SELECT min(d) FROM daily) AS BIGINT) AS di
      |  FROM daily),
      |pairs AS (
      |  SELECT CAST(b.c - a.c AS DOUBLE) / CAST(b.di - a.di AS DOUBLE)
      |    AS slope
      |  FROM dd a JOIN dd b ON a.di < b.di),
      |sl AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |    quantile_cont(slope, 0.5) AS slope
      |  FROM pairs),
      |base AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    quantile_cont(CAST(c AS DOUBLE), 0.5) AS med_c,
      |    quantile_cont(CAST(di AS DOUBLE), 0.5) AS med_di
      |  FROM dd)
      |SELECT n_days, n_pairs, round(slope, 6) AS slope,
      |  round(med_c - slope * med_di, 6) AS intercept
      |FROM base CROSS JOIN sl""".stripMargin


  // ---- evt_theil_sen_trend ---------------------------------------------

  private[graft] def theilSenOn(events: DataFrame): DataFrame = {
    val daily = Series.dayIndexed(events)
      .localCheckpoint() // both sides of the pair join + the day count
    val pairs = daily.select(col("event_type"), col("dd").as("d1"),
        col("y").as("y1"))
      .join(daily.select(col("event_type"), col("dd").as("d2"),
        col("y").as("y2")), Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"), expr(
        "CAST(y2 - y1 AS DOUBLE) / CAST(d2 - d1 AS DOUBLE)").as("s"))
    val sg = pairs.groupBy(col("event_type"), col("s"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = sg
      .select(col("event_type"), col("s"), sum(col("c")).over(wc).as("cum"))
      .join(broadcast(sg.groupBy(col("event_type"))
        .agg(sum(col("c")).as("np"))), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("np")).as("n_pairs"),
        min(when(col("cum") * 2 >= col("np"), col("s"))).as("sen"))
    daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      .join(med, "event_type")
      .selectExpr("event_type", "n_days", "n_pairs",
        "floor(sen*1e6 + 0.5)/1e6 AS sen_slope")
      .orderBy("event_type")
  }

  private def theilSen(s: SparkSession, dir: String): DataFrame =
    theilSenOn(loadEvents(s, dir))

  private val theilSenOracle =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS dd,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type,
      |    CAST(b.y - a.y AS DOUBLE) / CAST(b.dd - a.dd AS DOUBLE) AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.dd < b.dd),
      |sg AS (SELECT event_type, s, CAST(count(*) AS BIGINT) AS c
      |  FROM pairs GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, s, c,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS np
      |  FROM sg),
      |med AS (
      |  SELECT event_type, min(np) AS n_pairs,
      |    min(CASE WHEN cum * 2 >= np THEN s END) AS sen
      |  FROM cum GROUP BY 1),
      |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY 1)
      |SELECT nd.event_type AS event_type, n_days, n_pairs,
      |  floor(sen*1e6 + 0.5)/1e6 AS sen_slope
      |FROM nd JOIN med ON nd.event_type = med.event_type
      |ORDER BY nd.event_type""".stripMargin


  // ---- evt_pettitt_changepoint ----------------------------------------
  private val pettittP =
    """least(1.0E0, 2.0E0*exp(-6.0E0*CAST(k_stat AS DOUBLE)*CAST(k_stat AS DOUBLE)
      |  / (CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE)
      |     + CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE))))""".stripMargin
  private val pettittSelect = Seq("event_type", "n_days", "k_stat",
    "change_dd",
    s"floor(($pettittP)*1e6 + 0.5)/1e6 AS p_approx",
    s"($pettittP < 0.05E0) AS change_detected_5pct")

  private[graft] def pettittOn(events: DataFrame): DataFrame = {
    val daily = Series.dayIndexed(events)
    val byType = Window.partitionBy(col("event_type"))
    val ranked = daily
      .withColumn("tt", count(lit(1)).over(byType))
      .withColumn("rmin", rank().over(byType.orderBy(col("y"))).cast("long"))
      .withColumn("tw", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col("y"))))
      .select(col("event_type"), col("dd"), col("tt"),
        (lit(2L) * (col("rmin") - 1L) + col("tw") - col("tt")).as("v"))
    val u = ranked
      .withColumn("u", sum(col("v")).over(byType.orderBy(col("dd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("idx", row_number().over(byType.orderBy(col("dd"))))
      .filter(col("idx") < col("tt")) // U_T ≡ 0, excluded by convention
      .localCheckpoint(false) // feeds the max AND the argmax join
    val k = u.groupBy(col("event_type"))
      .agg((max(col("tt")) /* constant per type */).as("nd"),
        max(abs(col("u"))).as("k_stat"))
    val at = u.join(broadcast(k), Seq("event_type"))
      .filter(abs(col("u")) === col("k_stat"))
      .groupBy(col("event_type")).agg(min(col("dd")).as("change_dd"))
    k.join(at, Seq("event_type"))
      .select(col("event_type"), col("nd").as("n_days"),
        col("k_stat").cast("bigint").as("k_stat"), col("change_dd"))
      .selectExpr(pettittSelect: _*)
      .orderBy("event_type")
  }

  private def pettitt(s: SparkSession, dir: String): DataFrame =
    pettittOn(loadEvents(s, dir))

  private val pettittOracle =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS dd,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |ranked AS (
       |  SELECT event_type, dd,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
       |    2*(CAST(rank() OVER (PARTITION BY event_type ORDER BY y) AS BIGINT) - 1)
       |      + CAST(count(*) OVER (PARTITION BY event_type, y) AS BIGINT)
       |      - CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS v
       |  FROM daily),
       |u AS (
       |  SELECT event_type, dd, tt,
       |    CAST(sum(v) OVER (PARTITION BY event_type ORDER BY dd
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS u,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY dd) AS BIGINT) AS idx
       |  FROM ranked),
       |ub AS (SELECT * FROM u WHERE idx < tt),
       |k AS (
       |  SELECT event_type, max(tt) AS n_days, max(abs(u)) AS k_stat
       |  FROM ub GROUP BY 1),
       |at AS (
       |  SELECT ub.event_type, min(ub.dd) AS change_dd
       |  FROM ub JOIN k ON ub.event_type = k.event_type
       |    AND abs(ub.u) = k.k_stat
       |  GROUP BY 1)
       |SELECT ${pettittSelect.mkString(",\n  ")}
       |FROM k JOIN at USING (event_type)
       |ORDER BY event_type""".stripMargin


  // ---- evt_buishand_range ---------------------------------------------
  private val brSelect = Seq("event_type", "n_days",
    """floor((CAST(rr AS DOUBLE)/nullif(CAST(n_days AS DOUBLE), 0))*1e6 + 0.5)/1e6
      | AS buishand_r""".stripMargin,
    """floor((CAST(rr AS DOUBLE)
      |  / nullif(sqrt(CAST(n_days*sxx - sx*sx AS DOUBLE))
      |      * sqrt(CAST(n_days AS DOUBLE)), 0))*1e6 + 0.5)/1e6
      | AS r_rescaled""".stripMargin)

  private[graft] def buishandOn(events: DataFrame): DataFrame = {
    val daily = Series.dayIndexed(events)
    val byType = Window.partitionBy(col("event_type"))
    // S'_t = T·cum_t − t·Σx: exact BIGINTs (the mean never
    // materializes as a rational); S'_0 = S'_T = 0 are members of the
    // range by construction, so max ≥ 0 ≥ min without special rows.
    val sp = daily
      .withColumn("tt", count(lit(1)).over(byType))
      .withColumn("sx", sum(col("y")).over(byType))
      .withColumn("sxx", sum(col("y") * col("y")).over(byType))
      .withColumn("cum", sum(col("y")).over(byType.orderBy(col("dd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("idx", row_number().over(byType.orderBy(col("dd"))))
      .select(col("event_type"), col("tt"), col("sx"), col("sxx"),
        (col("tt") * col("cum") - col("idx") * col("sx")).as("s2"))
    sp.groupBy(col("event_type"))
      .agg(max(col("tt")).as("n_days"), max(col("sx")).as("sx"),
        max(col("sxx")).as("sxx"),
        (greatest(max(col("s2")), lit(0L)) -
          least(min(col("s2")), lit(0L))).as("rr"))
      .selectExpr(brSelect: _*)
      .orderBy("event_type")
  }

  private def buishand(s: SparkSession, dir: String): DataFrame =
    buishandOn(loadEvents(s, dir))

  private val brOracle =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS dd,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |sp AS (
       |  SELECT event_type,
       |    CAST(count(*) OVER w0 AS BIGINT) AS tt,
       |    CAST(sum(y) OVER w0 AS BIGINT) AS sx,
       |    CAST(sum(y*y) OVER w0 AS BIGINT) AS sxx,
       |    CAST(count(*) OVER w0 AS BIGINT)
       |      * CAST(sum(y) OVER (PARTITION BY event_type ORDER BY dd
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - CAST(row_number() OVER (PARTITION BY event_type ORDER BY dd) AS BIGINT)
       |      * CAST(sum(y) OVER w0 AS BIGINT) AS s2
       |  FROM daily
       |  WINDOW w0 AS (PARTITION BY event_type)),
       |g AS (
       |  SELECT event_type, max(tt) AS n_days, max(sx) AS sx,
       |    max(sxx) AS sxx,
       |    greatest(max(s2), 0) - least(min(s2), 0) AS rr
       |  FROM sp GROUP BY 1)
       |SELECT ${brSelect.mkString(",\n  ")}
       |FROM g
       |ORDER BY event_type""".stripMargin


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_kpss_level" -> (kpssLevel _),
    "evt_adf_unit_root" -> (adfUnitRoot _),
    "evt_hurst_rs" -> (hurstRs _),
    "evt_variance_ratio" -> (varianceRatio _),
    "evt_segmented_trend" -> (segmentedTrend _),
    "evt_chow_test" -> (chowTest _),
    "evt_seasonal_mann_kendall" -> (seasonalMannKendall _),
    "evt_changepoint" -> (changepoint _),
    "agg_theil_sen" -> (orderTheilSen _),
    "evt_theil_sen_trend" -> (theilSen _),
    "evt_pettitt_changepoint" -> (pettitt _),
    "evt_buishand_range" -> (buishand _)
  )

  val oracle: Map[String, String] = Map(
    "evt_kpss_level" -> kpssLevelOracle,
    "evt_adf_unit_root" -> adfOracle,
    "evt_hurst_rs" -> hurstRsOracle,
    "evt_variance_ratio" -> varianceRatioOracle,
    "evt_segmented_trend" -> segmentedTrendOracle,
    "evt_chow_test" -> chowOracle,
    "evt_seasonal_mann_kendall" -> seasonalMkOracle,
    "evt_changepoint" -> changepointOracle,
    "agg_theil_sen" -> orderTheilSenOracle,
    "evt_theil_sen_trend" -> theilSenOracle,
    "evt_pettitt_changepoint" -> pettittOracle,
    "evt_buishand_range" -> brOracle
  )
}
