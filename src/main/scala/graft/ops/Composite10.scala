package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.24 — round-13 marketing attribution. (The round's
  * drawdown and rolling-median windows are in
  * [[timeseries.Indicators]], its autocorrelation in
  * [[timeseries.Correlation]].)
  *
  * Scale shape: attribution is a per-user co-partitioned interval
  * join (the evt_funnel discipline — fan-out bounded by per-user
  * activity).
  *
  * Float determinism: the credit counts are exact; the linear credit
  * sums 1/n per touch under 6-dp rounding.
  */
object Composite10 {

  // ---- evt_attribution ---------------------------------------------
  // Multi-touch attribution: every purchase credits the click/view
  // touches of the same user in the preceding 7 days — last-touch
  // (all credit to the most recent touch) and linear (1/n to each)
  // models side by side, aggregated per touch type. The join is
  // co-partitioned on user_id and the per-conversion windows are
  // bounded by per-user 7-day activity, so nothing grows faster than
  // user activity itself.
  private def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = loadEvents(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val t = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("t_ts"), col("event_id").as("t_id"),
        col("event_type").as("touch_type"))
    val j = p.join(t, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val wOrd = Window.partitionBy("p_id").orderBy(col("t_ts").desc, col("t_id").desc)
    val wAll = Window.partitionBy("p_id")
    j.withColumn("rk", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).cast("bigint")
          .as("last_touch_credits"),
        round(sum(lit(1.0) / col("n").cast("double")), 6).as("linear_credit"))
      .orderBy("touch_type")
  }

  private val attributionOracle =
    """WITH p AS (
      |  SELECT user_id, ts AS p_ts, event_id AS p_id
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS touch_type
      |  FROM events WHERE event_type IN ('click', 'view')),
      |j AS (
      |  SELECT touch_type, p_id, t_ts, t_id
      |  FROM p JOIN t USING (user_id)
      |  WHERE t_ts < p_ts AND t_ts >= p_ts - INTERVAL 7 DAY),
      |r AS (
      |  SELECT touch_type,
      |    row_number() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rk,
      |    count(*) OVER (PARTITION BY p_id) AS n
      |  FROM j)
      |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
      |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS last_touch_credits,
      |  round(sum(1.0 / CAST(n AS DOUBLE)), 6) AS linear_credit
      |FROM r GROUP BY touch_type ORDER BY touch_type""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_attribution" -> (attribution _)
  )

  val oracle: Map[String, String] = Map(
    "evt_attribution" -> attributionOracle
  )
}
