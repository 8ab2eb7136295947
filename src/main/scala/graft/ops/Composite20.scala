package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.37 — round-16 batch: interval concurrency,
  * volatility bands, RSI, weekly growth accounting, and discrete
  * percentiles.
  *
  * Scale shapes: concurrency is a sweep-line over ±1 boundary events (per-type
  * running sum; at cluster scale the same plan range-partitions time
  * and carries per-range offsets — a two-pass distributed prefix
  * sum); the band/RSI windows run over the horizon-bounded daily
  * series; lifecycle is (user, week) dedup + two user-keyed joins.
  *
  * Determinism: sweep-line
  * running sums use the default RANGE frame so tied boundaries share
  * their group-end value (peak and argmin-time are then
  * order-independent); band/RSI statistics accumulate in exact
  * DECIMAL and assemble ONCE in IEEE double with identical
  * expression trees on both engines (growth_decompose discipline —
  * no cross-engine round()); discrete percentiles pick actual data
  * values by exact rank, so no interpolation can drift.
  */
object Composite20 {

  // ---- evt_concurrency_peak ----------------------------------------
  // Sweep-line peak concurrency: each event holds a [ts, ts+30min)
  // interval; boundaries become (+1, −1) deltas and a per-type
  // running sum finds the peak overlap and its earliest instant.
  // Ties order (t, delta) with ends (−1) before starts (+1), and the
  // default RANGE frame gives every tied row its GROUP-END sum, so
  // the surfaced peak and argmin time cannot depend on intra-tie
  // order. Per-type series are single-partition here; at cluster
  // scale the identical algebra range-partitions t and adds
  // per-range prefix offsets (two-pass scan, no semantic change).
  private def concurrencyPeak(s: SparkSession, dir: String): DataFrame = {
    val e = loadEvents(s, dir)
    val bounds = e.select(col("event_type"), col("ts").as("t"),
        lit(1L).as("delta"))
      .unionAll(e.select(col("event_type"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
        lit(-1L).as("delta")))
    val run = bounds.withColumn("run",
      sum(col("delta")).over(
        Window.partitionBy("event_type").orderBy("t", "delta")))
    val peak = run.groupBy("event_type").agg(max(col("run")).as("peak"))
    run.join(broadcast(peak), "event_type")
      .filter(col("run") === col("peak"))
      .groupBy(col("event_type"), col("peak"))
      .agg(min(col("t")).as("peak_at"))
      .select(col("event_type"), col("peak"), col("peak_at"))
      .orderBy("event_type")
  }

  private val concurrencyPeakOracle =
    """WITH b AS (
      |  SELECT event_type, ts AS t, CAST(1 AS BIGINT) AS delta
      |  FROM events
      |  UNION ALL
      |  SELECT event_type, ts + INTERVAL 30 MINUTE AS t,
      |    CAST(-1 AS BIGINT) AS delta
      |  FROM events),
      |r AS (
      |  SELECT event_type, t, delta,
      |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta)
      |      AS run
      |  FROM b),
      |p AS (SELECT event_type, CAST(max(run) AS BIGINT) AS peak
      |      FROM r GROUP BY 1)
      |SELECT r.event_type, p.peak, CAST(min(r.t) AS TIMESTAMP) AS peak_at
      |FROM r JOIN p ON r.event_type = p.event_type AND r.run = p.peak
      |GROUP BY r.event_type, p.peak
      |ORDER BY r.event_type""".stripMargin

  // ---- win_bollinger -----------------------------------------------
  // 20-day Bollinger bands on daily revenue: mid = SMA₂₀, band =
  // mid ± 2σ (population σ from exact decimal Σx/Σx² window sums),
  // full frames only. Breakout days flagged. Assembly is one shared
  // IEEE tree; σ's radicand clamps at 0 so fp cancellation near
  // zero variance cannot produce NaN on either engine.
  private def bollinger(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(money(col("o_totalprice"))).cast("decimal(15,2)").as("rev"))
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
    val daily = load(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(money(col("o_totalprice"))).cast("decimal(15,2)").as("rev"))
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

  // ---- evt_lifecycle_state -----------------------------------------
  // Weekly growth accounting (the new/retained/resurrected/churned
  // ledger): activity dedups to (user, week) FIRST; "new" = first
  // active week, "retained" = also active the prior week,
  // "resurrected" = active before but not the prior week; churned(w)
  // counts prior-week actives who are absent at w, via a gap-safe
  // equi-join on week−7 (seasonal-naive discipline — a row-offset
  // lag would shift across gap weeks).
  private def lifecycleState(s: SparkSession, dir: String): DataFrame = {
    val uw = loadEvents(s, dir)
      .select(col("user_id"), trunc(to_date(col("ts")), "week").as("w"))
      .distinct()
    val firsts = uw.groupBy("user_id").agg(min(col("w")).as("fw"))
    val prevMark = uw.select(col("user_id"),
      date_add(col("w"), 7).as("w"), lit(1).as("prev"))
    val states = uw.join(firsts, "user_id")
      .join(prevMark, Seq("user_id", "w"), "left")
      .select(col("w"),
        when(col("w") === col("fw"), "new")
          .when(col("prev").isNotNull, "retained")
          .otherwise("resurrected").as("state"))
    val perWeek = states.groupBy("w").agg(
      count(lit(1)).as("n_active"),
      sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("state") === "retained", 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("state") === "resurrected", 1L).otherwise(0L))
        .as("n_resurrected"))
    val prevActive = uw.groupBy("w").agg(count(lit(1)).as("pa"))
      .select(date_add(col("w"), 7).as("w"), col("pa"))
    perWeek.join(prevActive, Seq("w"), "left")
      .select(col("w"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        (coalesce(col("pa"), lit(0L)) - col("n_retained")).as("n_churned"))
      .orderBy("w")
  }

  private val lifecycleStateOracle =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
      |  FROM events),
      |firsts AS (SELECT user_id, min(w) AS fw FROM uw GROUP BY 1),
      |states AS (
      |  SELECT uw.w,
      |    CASE WHEN uw.w = f.fw THEN 'new'
      |      WHEN p.user_id IS NOT NULL THEN 'retained'
      |      ELSE 'resurrected' END AS state
      |  FROM uw JOIN firsts f ON uw.user_id = f.user_id
      |  LEFT JOIN (SELECT user_id, w + 7 AS w FROM uw) p
      |    ON uw.user_id = p.user_id AND uw.w = p.w),
      |per_week AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS n_active,
      |    CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_retained,
      |    CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_resurrected
      |  FROM states GROUP BY 1),
      |prev_active AS (
      |  SELECT w + 7 AS w, CAST(count(*) AS BIGINT) AS pa
      |  FROM uw GROUP BY 1)
      |SELECT pw.w, pw.n_active, pw.n_new, pw.n_retained,
      |  pw.n_resurrected,
      |  coalesce(pa.pa, 0) - pw.n_retained AS n_churned
      |FROM per_week pw LEFT JOIN prev_active pa ON pw.w = pa.w
      |ORDER BY pw.w""".stripMargin

  // ---- agg_percentile_disc -----------------------------------------
  // Type-preserving discrete percentiles (p25/p50/p75 of order value
  // per priority): the value AT exact rank ⌈p·n⌉ in (value, key)
  // order — an actual data point, so no interpolation arithmetic
  // exists to drift cross-engine. One ranking window + one
  // conditional-min hash aggregate.
  private def percentileDisc(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
      .select(col("o_orderpriority").as("prio"),
        money(col("o_totalprice")).as("v"), col("o_orderkey"))
    val w = Window.partitionBy("prio").orderBy(col("v"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("prio")))
      .groupBy("prio")
      .agg(
        asD(min(when(col("rn") >= ceil(lit(0.25) * col("n")), col("v"))))
          .as("p25"),
        asD(min(when(col("rn") >= ceil(lit(0.50) * col("n")), col("v"))))
          .as("p50"),
        asD(min(when(col("rn") >= ceil(lit(0.75) * col("n")), col("v"))))
          .as("p75"))
      .orderBy("prio")
  }

  private val percentileDiscOracle =
    """WITH o AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(o_totalprice AS DECIMAL(15,2)) AS v, o_orderkey
      |  FROM orders),
      |r AS (
      |  SELECT prio, v,
      |    row_number() OVER (PARTITION BY prio ORDER BY v, o_orderkey)
      |      AS rn,
      |    count(*) OVER (PARTITION BY prio) AS n
      |  FROM o)
      |SELECT prio,
      |  CAST(CAST(min(CASE WHEN rn >= ceil(0.25 * n) THEN v END)
      |    AS VARCHAR) AS DOUBLE) AS p25,
      |  CAST(CAST(min(CASE WHEN rn >= ceil(0.50 * n) THEN v END)
      |    AS VARCHAR) AS DOUBLE) AS p50,
      |  CAST(CAST(min(CASE WHEN rn >= ceil(0.75 * n) THEN v END)
      |    AS VARCHAR) AS DOUBLE) AS p75
      |FROM r GROUP BY prio ORDER BY prio""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_concurrency_peak" -> (concurrencyPeak _),
    "win_bollinger" -> (bollinger _),
    "win_rsi" -> (rsi _),
    "evt_lifecycle_state" -> (lifecycleState _),
    "agg_percentile_disc" -> (percentileDisc _)
  )

  val oracle: Map[String, String] = Map(
    "evt_concurrency_peak" -> concurrencyPeakOracle,
    "win_bollinger" -> bollingerOracle,
    "win_rsi" -> rsiOracle,
    "evt_lifecycle_state" -> lifecycleStateOracle,
    "agg_percentile_disc" -> percentileDiscOracle
  )
}
