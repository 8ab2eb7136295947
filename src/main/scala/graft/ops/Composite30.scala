package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.Tables._

/** SURVEY.md §2.46 (round-8 additions, batch 4):
  *
  *  - [[skyline]]: the Pareto frontier / skyline query (Börzsönyi,
  *    Kossmann & Stocker, ICDE 2001) over (o_totalprice, o_orderdate)
  *    — orders not dominated by any other (≥ in both, > in one).
  *    Two-phase bucketed formulation (the scale shape): after
  *    DISTINCT on the point pair, assign each point an equi-width
  *    price bucket (bounds from one broadcast 2-scalar aggregate).
  *    A dominator of p (≥ price, ≥ day, > in one) has either the
  *    same bucket — caught by a PER-BUCKET window ordered
  *    (price DESC, day DESC) taking max(day) over strictly prior
  *    rows — or a strictly higher bucket (equi-width floors are
  *    monotone, so higher bucket ⟹ strictly higher price) — caught
  *    by a prefix max(day) over the ≤256-row per-bucket day maxima,
  *    broadcast back. A point survives iff both dominator-day maxima
  *    are < its own day. No operator ever sees the full point set in
  *    one partition: the big window is bucket-partitioned, the only
  *    global window runs on the 256-row bucket aggregate, and the
  *    final sort orders only the output-bounded frontier.
  *
  *  - [[churnRisk]]: users inactive in the trailing 24 hours before
  *    the CORPUS max timestamp (deterministic — no wall clock),
  *    histogrammed by their LAST event type with staleness stats.
  *    The last-event row is an argmax via (µs, event_id)-max struct —
  *    one aggregate, no self-join, tie-broken deterministically.
  */
object Composite30 {

  private val SkylineBuckets = 256

  private def skyline(s: SparkSession, dir: String): DataFrame = {
    val pts = load(s, dir, "orders")
      .select(col("o_totalprice").as("price"),
        col("o_orderdate").cast("date").as("day"))
      .distinct()
    val rng = pts.agg(min(col("price").cast("double")).as("lo"),
      max(col("price").cast("double")).as("hi"))
    // floor is monotone in price, so bkt(q) > bkt(p) ⟹ q.price > p.price
    // and equal prices share a bucket — the dominator set splits exactly
    // into same-bucket (local window) and higher-bucket (prefix max).
    // The bucketed point set feeds BOTH the per-bucket window and the
    // bucket-maxima aggregate; an eager localCheckpoint here measured
    // SLOWER (0.93 s vs 0.81 s at sf0.1) than letting both consumers
    // replay the cheap scan+distinct subtree, so it is recomputed.
    val b = pts.crossJoin(broadcast(rng))
      .withColumn("bkt", least(lit(SkylineBuckets - 1),
        floor((col("price").cast("double") - col("lo")) * SkylineBuckets
          / (col("hi") - col("lo") + lit(1e-6)))).cast("int"))
      .select(col("price"), col("day"), col("bkt"))
    val wLocal = Window.partitionBy(col("bkt"))
      .orderBy(col("price").desc, col("day").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wUpper = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val upper = b.groupBy(col("bkt")).agg(max(col("day")).as("bday"))
      .withColumn("umd", max(col("bday")).over(wUpper))
      .select(col("bkt"), col("umd"))
    b.withColumn("lmd", max(col("day")).over(wLocal))
      .join(broadcast(upper), Seq("bkt"))
      .filter((col("lmd").isNull || col("lmd") < col("day")) &&
        (col("umd").isNull || col("umd") < col("day")))
      .select(col("price"), col("day"))
      .orderBy(desc("price"), desc("day"))
  }

  private val skylineOracle =
    """WITH pts AS (
      |  SELECT DISTINCT o_totalprice AS price,
      |    CAST(o_orderdate AS DATE) AS day
      |  FROM orders),
      |r AS (
      |  SELECT price, day,
      |    max(day) OVER (ORDER BY price DESC, day DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS md
      |  FROM pts)
      |SELECT price, day FROM r
      |WHERE md IS NULL OR md < day
      |ORDER BY price DESC, day DESC""".stripMargin

  private val ChurnWindowUs = 24L * 3600 * 1000000 // 24 h in µs
  // (this corpus spans ~30 days with every user active ~daily — a
  // fortnight window is empty at every SF; 24 h keeps the op's signal
  // non-trivial: 1/17/156 churned users at sf0.001/0.01/0.1)

  private def churnRisk(s: SparkSession, dir: String): DataFrame = {
    val e = loadEvents(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"), col("event_id"))
    val g = e.agg(max(col("tu")).as("gmax"))
    e.groupBy(col("user_id"))
      .agg(max(struct(col("tu"), col("event_id"), col("event_type")))
        .as("last"))
      .crossJoin(broadcast(g))
      .filter(col("last.tu") < col("gmax") - ChurnWindowUs)
      .groupBy(col("last.event_type").as("last_event_type"))
      .agg(count(lit(1)).as("n_churned"),
        round(avg((col("gmax") - col("last.tu")) / 86400000000.0), 6)
          .as("avg_stale_days"),
        round(max((col("gmax") - col("last.tu")) / 86400000000.0), 6)
          .as("max_stale_days"))
      .orderBy("last_event_type")
  }

  private val churnRiskOracle =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tu, event_id
       |  FROM events),
       |g AS (SELECT max(tu) AS gmax FROM e),
       |lastev AS (
       |  SELECT user_id,
       |    max({'tu': tu, 'event_id': event_id, 'event_type': event_type})
       |      AS last
       |  FROM e GROUP BY user_id),
       |churned AS (
       |  SELECT last.event_type AS last_event_type,
       |    (g.gmax - last.tu) / 86400000000.0 AS stale_days
       |  FROM lastev CROSS JOIN g
       |  WHERE last.tu < g.gmax - $ChurnWindowUs)
       |SELECT last_event_type, CAST(count(*) AS BIGINT) AS n_churned,
       |  round(avg(stale_days), 6) AS avg_stale_days,
       |  round(max(stale_days), 6) AS max_stale_days
       |FROM churned GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- evt_error_rate_hourly ---------------------------------------
  // Error share by hour-of-day — the SRE diurnal-pattern monitor.
  // One conditional aggregate over the horizon; the rate divides two
  // exact integers, so the doubles agree bit-wise.
  private def errorRateHourly(s: SparkSession, dir: String): DataFrame =
    loadEvents(s, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      .select(col("hour_of_day"), col("n_events"), col("n_errors"),
        round(col("n_errors").cast("double") /
          col("n_events").cast("double"), 6).as("err_rate"))
      .orderBy("hour_of_day")

  private val errorRateHourlyOracle =
    """SELECT CAST(date_part('hour', ts) AS INT) AS hour_of_day,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_errors,
      |  round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS err_rate
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_skyline" -> (skyline _),
    "evt_churn_risk" -> (churnRisk _),
    "evt_error_rate_hourly" -> (errorRateHourly _)
  )

  val oracle: Map[String, String] = Map(
    "agg_skyline" -> skylineOracle,
    "evt_churn_risk" -> churnRiskOracle,
    "evt_error_rate_hourly" -> errorRateHourlyOracle
  )
}
