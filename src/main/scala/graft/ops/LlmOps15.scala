package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.34 — round-15 seventh batch: temporal distribution
  * drift and expected-shortfall tail risk. (The batch's clustering
  * purity row is in [[retrieval.Geometry]].)
  *
  * Scale shapes: drift is two conditional aggregates over event
  * types; CVaR runs over the horizon-bounded daily aggregate with a
  * 1-row percentile broadcast.
  *
  * Determinism: drift shares are exact-count ratios; daily revenue
  * stays decimal-exact until the final statistics.
  */
object LlmOps15 {

  // ---- evt_distribution_drift --------------------------------------
  // Event-type mix drift between the first half of the horizon and
  // the rest (split at 2024-01-16, the llm_bloom_prefilter boundary):
  // per-type early/late shares and the share delta — the input-drift
  // monitor every production pipeline runs. Exact counts, one
  // conditional aggregate, 1-row broadcast totals.
  private def distributionDrift(s: SparkSession, dir: String): DataFrame = {
    val typed = loadEvents(s, dir)
      .select(col("event_type"),
        (col("ts") < lit("2024-01-16").cast("timestamp")).as("early"))
    val cells = typed.groupBy(col("event_type"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("n_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("n_late"))
    val tot = broadcast(cells.agg(
      sum(col("n_early")).cast("double").as("te"),
      sum(col("n_late")).cast("double").as("tl")))
    cells.crossJoin(tot)
      .select(col("event_type"), col("n_early"), col("n_late"),
        round(col("n_early").cast("double") / col("te"), 6)
          .as("share_early"),
        round(col("n_late").cast("double") / col("tl"), 6).as("share_late"),
        round(col("n_late").cast("double") / col("tl") -
          col("n_early").cast("double") / col("te"), 6).as("d_share"))
      .orderBy("event_type")
  }

  private val distributionDriftOracle =
    """WITH cells AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
      |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
      |      THEN 0 ELSE 1 END) AS BIGINT) AS n_late
      |  FROM events GROUP BY event_type),
      |tot AS (
      |  SELECT CAST(sum(n_early) AS DOUBLE) AS te,
      |    CAST(sum(n_late) AS DOUBLE) AS tl FROM cells)
      |SELECT event_type, n_early, n_late,
      |  round(CAST(n_early AS DOUBLE) / te, 6) AS share_early,
      |  round(CAST(n_late AS DOUBLE) / tl, 6) AS share_late,
      |  round(CAST(n_late AS DOUBLE) / tl - CAST(n_early AS DOUBLE) / te, 6)
      |    AS d_share
      |FROM cells CROSS JOIN tot
      |ORDER BY event_type""".stripMargin

  // ---- agg_cvar ----------------------------------------------------
  // Expected shortfall (CVaR₀.₀₅) of daily revenue: the mean of the
  // worst-5% days, plus the VaR threshold and the single worst day —
  // the tail-risk complement to win_drawdown's path risk. Daily
  // revenue is decimal-exact; the 5th-percentile threshold
  // interpolates those exact values; the tail mean's double drift is
  // absorbed by 6-dp rounding.
  private def cvar(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(asD(sum(money(col("o_totalprice"))).cast("decimal(18,2)"))
        .as("rev"))
    val th = broadcast(daily.agg(
      expr("percentile(rev, 0.05)").as("var05")))
    val worst = Window.orderBy(col("rev").asc, col("d").asc)
    daily.crossJoin(th)
      .withColumn("wr", row_number().over(worst))
      .agg(count(lit(1)).as("n_days"),
        round(first(col("var05")), 6).as("var05"),
        round(avg(when(col("rev") <= col("var05"), col("rev"))), 6)
          .as("cvar05"),
        max(when(col("wr") === 1, col("d"))).as("worst_day"),
        round(max(when(col("wr") === 1, col("rev"))), 6).as("worst_rev"))
  }

  private val cvarOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(15,2)))
      |      AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS rev
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |th AS (SELECT quantile_cont(rev, 0.05) AS var05 FROM daily),
      |w AS (
      |  SELECT d, rev, var05,
      |    row_number() OVER (ORDER BY rev, d) AS wr
      |  FROM daily CROSS JOIN th)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |  round(any_value(var05), 6) AS var05,
      |  round(avg(CASE WHEN rev <= var05 THEN rev END), 6) AS cvar05,
      |  max(CASE WHEN wr = 1 THEN d END) AS worst_day,
      |  round(max(CASE WHEN wr = 1 THEN rev END), 6) AS worst_rev
      |FROM w""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_distribution_drift" -> (distributionDrift _),
    "agg_cvar" -> (cvar _)
  )

  val oracle: Map[String, String] = Map(
    "evt_distribution_drift" -> distributionDriftOracle,
    "agg_cvar" -> cvarOracle
  )
}
