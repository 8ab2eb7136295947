package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.45b (round-8 additions, batch 3) — transition
  * timing and the bounded window funnel. (The batch's rolling
  * skewness/kurtosis is in [[timeseries.Indicators]].)
  *
  *  - [[transitionTime]]: how LONG each event-type transition takes
  *    (the timing complement of `evt_markov_chain`'s transition
  *    counts). The per-user lag is ordered by (µs epoch, event_id) so
  *    tied timestamps cannot make the predecessor nondeterministic.
  */
object Composite29 {

  // ---- evt_transition_time -----------------------------------------
  private def transitionTime(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tu", "event_id")
    loadEvents(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_s",
        (col("tu") - lag(col("tu"), 1).over(w)) / 1000000.0)
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("gap_s")), 6).as("avg_gap_s"),
        round(expr("percentile(gap_s, 0.5)"), 6).as("p50_gap_s"))
      .orderBy("prev_type", "next_type")
  }

  private val transitionTimeOracle =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tu
      |  FROM events),
      |l AS (
      |  SELECT event_type,
      |    lag(event_type) OVER w AS prev_type,
      |    (tu - lag(tu) OVER w) / 1000000.0 AS gap_s
      |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id))
      |SELECT prev_type, event_type AS next_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(avg(gap_s), 6) AS avg_gap_s,
      |  round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s
      |FROM l WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- evt_window_funnel -------------------------------------------
  // ClickHouse-windowFunnel semantics, distinct from `evt_funnel`'s
  // unconstrained chain: the whole view→click→purchase sequence must
  // complete within ONE HOUR of the user's FIRST view, each step
  // strictly after the previous. Output: users per furthest level
  // (0 = never viewed). One generated SQL text runs on both engines
  // over a (user_id, event_type, tu-µs) relation; each step is a
  // user-keyed min aggregate joined to the previous step — three
  // co-partitioned hash aggs, no window over the raw stream.
  private val FunnelWindowUs = 3600000000L // 1 h in µs

  private def windowFunnelSql(e: String): String =
    s"""WITH $e
       |u0 AS (SELECT DISTINCT user_id FROM e),
       |u1 AS (
       |  SELECT user_id, min(tu) AS t1 FROM e
       |  WHERE event_type = 'view' GROUP BY user_id),
       |u2 AS (
       |  SELECT e.user_id, min(tu) AS t2 FROM e
       |  JOIN u1 ON e.user_id = u1.user_id
       |  WHERE event_type = 'click' AND tu > t1
       |    AND tu <= t1 + $FunnelWindowUs
       |  GROUP BY e.user_id),
       |u3 AS (
       |  SELECT e.user_id, min(tu) AS t3 FROM e
       |  JOIN u1 ON e.user_id = u1.user_id
       |  JOIN u2 ON e.user_id = u2.user_id
       |  WHERE event_type = 'purchase' AND tu > t2
       |    AND tu <= t1 + $FunnelWindowUs
       |  GROUP BY e.user_id),
       |lv AS (
       |  SELECT u0.user_id,
       |    CASE WHEN t3 IS NOT NULL THEN 3
       |         WHEN t2 IS NOT NULL THEN 2
       |         WHEN t1 IS NOT NULL THEN 1
       |         ELSE 0 END AS level
       |  FROM u0
       |  LEFT JOIN u1 ON u0.user_id = u1.user_id
       |  LEFT JOIN u2 ON u0.user_id = u2.user_id
       |  LEFT JOIN u3 ON u0.user_id = u3.user_id)
       |SELECT level, CAST(count(*) AS BIGINT) AS n_users
       |FROM lv GROUP BY level ORDER BY level""".stripMargin

  private def windowFunnel(s: SparkSession, dir: String): DataFrame = {
    loadEvents(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
      .createOrReplaceTempView("graft_funnel_events")
    s.sql(windowFunnelSql(
      "e AS (SELECT * FROM graft_funnel_events),"))
  }

  private val windowFunnelOracle = windowFunnelSql(
    "e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_transition_time" -> (transitionTime _),
    "evt_window_funnel" -> (windowFunnel _)
  )

  val oracle: Map[String, String] = Map(
    "evt_transition_time" -> transitionTimeOracle,
    "evt_window_funnel" -> windowFunnelOracle
  )
}
