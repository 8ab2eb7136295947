package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.28 — round-15 event-analytics operators, second
  * batch: local-maximum peak detection on the daily series, active-
  * day streaks, view→purchase conversion latency, and audience
  * overlap between event types.
  *
  * Scale shapes: peaks run over per-type daily aggregates
  * (horizon-bounded partitions); streaks over per-user active days
  * (entity-bounded partitions); conversion latency is one per-user
  * conditional aggregate plus a 1-row percentile reduce; audience
  * overlap explodes each user's ≤5-type set into ≤10 ordered pairs
  * map-side (the coPurchaseEdges discipline — no user-keyed
  * self-join of the distinct table).
  *
  * Float determinism: timestamps are exact µs integers (lossless on
  * both engines, §1.5 rule 3 note in Tables.loadEvents), counts are
  * exact, and percentile interpolation averages two exact values at
  * even counts — every surfaced double is 6-dp rounded.
  */
object Composite13 {

  // ---- evt_peak_detect ---------------------------------------------
  // Strict local maxima in each event type's daily count series: day
  // d is a peak when c(d) > c(d−1) and c(d) > c(d+1) (series
  // endpoints can't qualify — lag/lead NULLs fail the strict
  // comparison). Surfaces per type: series length, peak count, and
  // the global-maximum day (earliest on ties).
  private def peakDetect(s: SparkSession, dir: String): DataFrame = {
    val daily = timeseries.Series.daily(loadEvents(s, dir))
      .withColumnRenamed("y", "c")
    val w = Window.partitionBy("event_type").orderBy("d")
    val flagged = daily
      .withColumn("is_peak",
        col("c") > lag(col("c"), 1).over(w) &&
          col("c") > lead(col("c"), 1).over(w))
    val top = Window.partitionBy("event_type")
      .orderBy(col("c").desc, col("d").asc)
    flagged
      .withColumn("rk", row_number().over(top))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("is_peak"), 1L).otherwise(0L)).as("n_peaks"),
        max(when(col("rk") === 1, col("d"))).as("max_day"),
        max(when(col("rk") === 1, col("c"))).as("max_c"))
      .orderBy("event_type")
  }

  private val peakDetectOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events
      |  GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)),
      |f AS (
      |  SELECT event_type, d, c,
      |    c > lag(c) OVER w AND c > lead(c) OVER w AS is_peak,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY c DESC, d) AS rk
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(sum(CASE WHEN is_peak THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
      |  max(CASE WHEN rk = 1 THEN d END) AS max_day,
      |  max(CASE WHEN rk = 1 THEN c END) AS max_c
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- evt_active_streaks ------------------------------------------
  // Longest run of consecutive active days per user — the gap-islands
  // primitive (win_gap_islands) specialized to the retention KPI
  // surface: consecutive days share (d − row_number) as their island
  // key, so a per-user sort yields every streak without a self-join.
  private def activeStreaks(s: SparkSession, dir: String): DataFrame = {
    val days = loadEvents(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    days
      .withColumn("grp", date_sub(col("d"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast("bigint").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).cast("bigint").as("max_streak"))
      .orderBy("user_id")
  }

  private val activeStreaksOracle =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    d - CAST(row_number() OVER (
      |      PARTITION BY user_id ORDER BY d) AS INT) AS grp
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
      |  FROM g GROUP BY user_id, grp)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  CAST(count(*) AS BIGINT) AS n_streaks,
      |  CAST(max(len) AS BIGINT) AS max_streak
      |FROM streaks GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- evt_time_to_convert -----------------------------------------
  // First-view → first-purchase latency: one conditional aggregate
  // per user (exact min µs timestamps), converters are viewers whose
  // first purchase is at-or-after their first view, and the latency
  // distribution reduces to a 1-row summary (median / p90 hours via
  // percentile interpolation over exact integer µs deltas).
  private def timeToConvert(s: SparkSession, dir: String): DataFrame = {
    val firsts = loadEvents(s, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("fv"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("fp"))
    firsts
      .withColumn("delay_us",
        when(col("fv").isNotNull && col("fp").isNotNull &&
          col("fp") >= col("fv"), col("fp") - col("fv")))
      .agg(
        sum(when(col("fv").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("delay_us").isNotNull, 1L).otherwise(0L)).as("n_conv"),
        round(sum(when(col("delay_us").isNotNull, 1L).otherwise(0L))
          .cast("double") /
          sum(when(col("fv").isNotNull, 1L).otherwise(0L)).cast("double"), 6)
          .as("conv_rate"),
        round(expr("percentile(delay_us, 0.5)") / lit(3.6e9), 6)
          .as("med_hours"),
        round(expr("percentile(delay_us, 0.9)") / lit(3.6e9), 6)
          .as("p90_hours"))
  }

  private val timeToConvertOracle =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fv,
      |    min(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT fv, fp,
      |    CASE WHEN fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
      |      THEN fp - fv END AS delay_us
      |  FROM f)
      |SELECT
      |  CAST(sum(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_view,
      |  CAST(sum(CASE WHEN delay_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_conv,
      |  round(CAST(sum(CASE WHEN delay_us IS NOT NULL THEN 1 ELSE 0 END)
      |      AS DOUBLE) /
      |    CAST(sum(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 6)
      |    AS conv_rate,
      |  round(quantile_cont(delay_us, 0.5) / 3.6e9, 6) AS med_hours,
      |  round(quantile_cont(delay_us, 0.9) / 3.6e9, 6) AS p90_hours
      |FROM d""".stripMargin

  // ---- evt_audience_overlap ----------------------------------------
  // Jaccard overlap between event-type audiences: each user's
  // distinct type set (≤5 elements) explodes map-side into its
  // ordered pairs (≤10 per user — the coPurchaseEdges discipline, no
  // user-keyed self-join of the distinct table), pair counts are the
  // intersections, and per-type audience sizes arrive as a 5-row
  // broadcast, twice.
  private def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val userTypes = loadEvents(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = userTypes.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val inter = userTypes
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (a, i) ->
          |  transform(slice(ts, i + 2, size(ts)), b -> struct(a, b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n", "na")), "type_a")
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n", "nb")), "type_b")
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        col("inter"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  private val audienceOverlapOracle =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |sizes AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM ut GROUP BY event_type),
      |inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS inter
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY a.event_type, b.event_type)
      |SELECT type_a, type_b, sa.n AS na, sb.n AS nb, inter,
      |  round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6)
      |    AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.event_type = type_a
      |JOIN sizes sb ON sb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_peak_detect" -> (peakDetect _),
    "evt_active_streaks" -> (activeStreaks _),
    "evt_time_to_convert" -> (timeToConvert _),
    "evt_audience_overlap" -> (audienceOverlap _)
  )

  val oracle: Map[String, String] = Map(
    "evt_peak_detect" -> peakDetectOracle,
    "evt_active_streaks" -> activeStreaksOracle,
    "evt_time_to_convert" -> timeToConvertOracle,
    "evt_audience_overlap" -> audienceOverlapOracle
  )
}
