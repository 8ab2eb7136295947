package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.37 — round-16 batch: interval concurrency, weekly
  * growth accounting, and discrete percentiles. (The batch's
  * Bollinger bands and RSI are in [[timeseries.Indicators]].)
  *
  * Scale shapes: concurrency is a sweep-line over ±1 boundary events (per-type
  * running sum; at cluster scale the same plan range-partitions time
  * and carries per-range offsets — a two-pass distributed prefix
  * sum); lifecycle is (user, week) dedup + two user-keyed joins.
  *
  * Determinism: sweep-line
  * running sums use the default RANGE frame so tied boundaries share
  * their group-end value (peak and argmin-time are then
  * order-independent); discrete percentiles pick actual data
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
    "evt_lifecycle_state" -> (lifecycleState _),
    "agg_percentile_disc" -> (percentileDisc _)
  )

  val oracle: Map[String, String] = Map(
    "evt_concurrency_peak" -> concurrencyPeakOracle,
    "evt_lifecycle_state" -> lifecycleStateOracle,
    "agg_percentile_disc" -> percentileDiscOracle
  )
}
