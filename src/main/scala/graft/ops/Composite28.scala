package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.Tables._

/** SURVEY.md §2.45 (round-8 additions, batch 2) — session-level
  * analytics and robust means. (The batch's nested-smoothing finance
  * staples, MACD and the stochastic oscillator, are in
  * [[timeseries.Indicators]].)
  *
  *  - [[sessionStats]]: the aggregate layer OVER sessionization
  *    (evt_session_window builds sessions; this row summarizes them).
  *    Gap-rule sessions via one lag + running-sum window (tie-safe:
  *    the gap compares VALUES, so intra-tie order cannot change any
  *    session id), then one group-by and a 1-row summary.
  *
  *  - geometric/harmonic means per brand: exp(avg(ln x)) and
  *    n/Σ(1/x). Both engines' libm may differ in the last ulp of
  *    ln/exp; the Σ of ~800 ulp-sized deviations stays ~1e-13
  *    relative, far inside the round-6 presentation (the llm xent
  *    discipline).
  */
object Composite28 {

  // ---- evt_session_stats -------------------------------------------
  private val SessionGapUs = 1800000000L // 30 min in µs

  private def sessionStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tu")
    val sessions = loadEvents(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"))
      .withColumn("new_s",
        when(lag(col("tu"), 1).over(w).isNull ||
          col("tu") - lag(col("tu"), 1).over(w) > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_ev"),
        ((max(col("tu")) - min(col("tu"))) / 1000000.0).as("dur_s"))
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      countDistinct(col("user_id")).as("n_users"),
      round(avg(col("n_ev").cast("double")), 6).as("avg_events"),
      round(expr("percentile(n_ev, 0.5)"), 6).as("p50_events"),
      round(expr("percentile(n_ev, 0.9)"), 6).as("p90_events"),
      round(avg(col("dur_s")), 6).as("avg_duration_s"),
      round(expr("percentile(dur_s, 0.9)"), 6).as("p90_duration_s"))
  }

  private val sessionStatsOracle =
    s"""WITH o AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
       |m AS (
       |  SELECT user_id, tu,
       |    CASE WHEN lag(tu) OVER w IS NULL
       |           OR tu - lag(tu) OVER w > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu)),
       |sd AS (
       |  SELECT user_id, tu, sum(new_s) OVER (PARTITION BY user_id
       |    ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid FROM m),
       |g AS (
       |  SELECT user_id, sid, count(*) AS n_ev,
       |    (max(tu) - min(tu)) / 1000000.0 AS dur_s
       |  FROM sd GROUP BY 1, 2)
       |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  round(avg(CAST(n_ev AS DOUBLE)), 6) AS avg_events,
       |  round(quantile_cont(n_ev, 0.5), 6) AS p50_events,
       |  round(quantile_cont(n_ev, 0.9), 6) AS p90_events,
       |  round(avg(dur_s), 6) AS avg_duration_s,
       |  round(quantile_cont(dur_s, 0.9), 6) AS p90_duration_s
       |FROM g""".stripMargin

  // ---- agg_geometric_mean ------------------------------------------
  private def geometricMean(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "part")
      .filter(col("p_retailprice") > 0)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(exp(avg(log(col("p_retailprice")))), 6).as("geo_mean"),
        round(count(lit(1)).cast("double") /
          sum(lit(1.0) / col("p_retailprice")), 6).as("harm_mean"))
      .orderBy("p_brand")

  private val geometricMeanOracle =
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
      |  round(exp(avg(ln(p_retailprice))), 6) AS geo_mean,
      |  round(CAST(count(*) AS DOUBLE) / sum(1.0 / p_retailprice), 6)
      |    AS harm_mean
      |FROM part WHERE p_retailprice > 0
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_session_stats" -> (sessionStats _),
    "agg_geometric_mean" -> (geometricMean _)
  )

  val oracle: Map[String, String] = Map(
    "evt_session_stats" -> sessionStatsOracle,
    "agg_geometric_mean" -> geometricMeanOracle
  )
}
