package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.89 (round-17 batch 4) — robust trend estimation:
  *
  *  - `evt_theil_sen_trend`: Theil–Sen slope of the daily event-count
  *    series per type — the median of all pairwise slopes, the robust
  *    regression line beside the OLS rows (`win_segmented_trend`,
  *    `agg_ols_two_regressors`): a single wild day moves OLS, not the
  *    pairwise-slope median. The pair grid is bounded by the TIME
  *    HORIZON (\|days\|² per type — the hodges_lehmann/kendall
  *    bounded-domain justification: days grow with the calendar, not
  *    the corpus), slopes are exact-integer divisions (IEEE division
  *    is correctly rounded, so equal rationals land on the identical
  *    double — grouping doubles is sound), and the lower weighted
  *    median follows the exact 2·cum ≥ n picked-median rule
  *    (evt_anomaly_mad discipline) per type, partition-parallel.
  */
object Composite77 {

  // ---- evt_theil_sen_trend ---------------------------------------------

  private[graft] def theilSenOn(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("bigint").as("dd"))
      .groupBy(col("event_type"), col("dd"))
      .agg(count(lit(1)).as("y"))
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

  // ---- registration ---------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_theil_sen_trend" -> (theilSen _)
  )

  val oracle: Map[String, String] = Map(
    "evt_theil_sen_trend" -> theilSenOracle
  )
}
