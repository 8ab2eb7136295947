package graft.ops.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The time-series family: every row that reads a daily series
  * ([[Series]]). One (queries, oracle) pair for SparkEntry. */
object TimeSeries {
  private val parts = Seq(
    (Forecast.queries, Forecast.oracle),
    (Control.queries, Control.oracle),
    (Correlation.queries, Correlation.oracle),
    (Stationarity.queries, Stationarity.oracle),
    (Patterns.queries, Patterns.oracle),
    (Indicators.queries, Indicators.oracle))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    parts.map(_._1).reduce(_ ++ _)

  val oracle: Map[String, String] = parts.map(_._2).reduce(_ ++ _)
}
