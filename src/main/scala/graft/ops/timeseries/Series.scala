package graft.ops.timeseries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The daily event series every time-series row reads, defined once:
  *
  *  - [[daily]]: (event_type, d, y) — events per (type, UTC day).
  *    Every window over it partitions by the few-value `event_type`
  *    key, so it sorts the |types|·|days| COUNT aggregate, never raw
  *    events (the agg_weighted_median rule).
  *
  *  - [[paired]]: (d, x, y) — the two-type day pivot the cross-series
  *    rows (`evt_cross_correlation`, `evt_granger_lite`) correlate;
  *    windows over it order by |days| only.
  *
  *  - [[lagMoments]] / [[rhoF]]: the exact BIGINT lag-k co-moments of
  *    the daily series and the one ρ_k formula text assembled from
  *    them by every correlogram row, on both engines.
  *
  * Oracle SQL keeps its own `WITH daily AS` CTE per row: the oracles
  * are the independent reference the builders are checked against.
  */
private[graft] object Series {

  def daily(events: DataFrame): DataFrame =
    events.select(col("event_type"), to_date(col("ts")).as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("y"))

  /** Per-day counts of event types `x` and `y` as columns x, y (days
    * where neither occurs are absent). */
  def paired(events: DataFrame, x: String, y: String): DataFrame =
    events
      .filter(col("event_type").isin(x, y))
      .select(col("event_type"), to_date(col("ts")).as("d"))
      .groupBy(col("d"))
      .agg(sum(when(col("event_type") === x, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === y, 1L).otherwise(0L)).as("y"))

  /** ρ_k from the six exact co-moment BIGINTs of slot k (n, sa, sb,
    * saa, sbb, sab suffixed k). The products inside sqrt leave BIGINT
    * range at full scale, so each factor casts to DOUBLE BEFORE the
    * multiply (each is < 2^53, so the cast is exact). */
  def rhoF(k: Int): String =
    s"""(CAST(n$k*sab$k - sa$k*sb$k AS DOUBLE)
       | / nullif(sqrt(CAST(n$k*saa$k - sa$k*sa$k AS DOUBLE)
       |   * CAST(n$k*sbb$k - sb$k*sb$k AS DOUBLE)), 0))""".stripMargin

  /** One (event_type)-keyed hash aggregate of the exact BIGINT
    * co-moments for lags 1..`lags` over the daily series (nd = days,
    * then n/sa/sb/saa/sbb/sab per lag) — the input [[rhoF]] reads. */
  def lagMoments(events: DataFrame, lags: Int): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val lagged = daily(events)
      .select(col("event_type") +: col("y") +:
        (1 to lags).map(k => lag(col("y"), k).over(w).as(s"l$k")): _*)
    val aggs = count(lit(1)).as("nd") +: (1 to lags).flatMap(k => Seq(
      count(col(s"l$k")).as(s"n$k"),
      sum(when(col(s"l$k").isNotNull, col("y"))).as(s"sa$k"),
      sum(col(s"l$k")).as(s"sb$k"),
      sum(when(col(s"l$k").isNotNull, col("y") * col("y"))).as(s"saa$k"),
      sum(col(s"l$k") * col(s"l$k")).as(s"sbb$k"),
      sum(col("y") * col(s"l$k")).as(s"sab$k")))
    lagged.groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
