package graft.ops.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** The daily series every time-series row reads, defined once.
  *
  * Events, keyed by event type:
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
  *  - [[dayIndexed]]: (event_type, dd, y) — the same counts keyed by
  *    the day index (days since 1970-01-01, BIGINT), for the rows
  *    that do arithmetic on days.
  *
  * Orders, keyed by [[byOrderDay]] (`o_orderdate` as a DATE, column
  * d) — one row per calendar day, so every window over them sorts
  * |days|, never |orders|:
  *
  *  - [[orderCounts]] (d, c) and [[revenue]] (d, rev DECIMAL(15,2));
  *
  *  - [[candle]] (d, hi, lo, cl): the day's high, low and last
  *    (highest o_orderkey) order value in exact cents, with the one
  *    Wilder [[trueRange]] over it — a CASE cascade, not greatest(),
  *    because DuckDB's greatest() on decimals widens to DOUBLE;
  *
  *  - [[nationRevenue]] (n_name, d, rev) with its oracle text
  *    [[nationDailySql]], and the 7-day level / running peak
  *    [[levelPeak]] over it that both drawdown rows read;
  *
  *  - [[detrended]]: the order counts less their centered 7-day
  *    moving average, full frames only.
  *
  * Oracle SQL keeps its own `WITH daily AS` CTE per row (the nation
  * revenue text is the one shared CTE body): the oracles are the
  * independent reference the builders are checked against.
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

  def dayIndexed(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("bigint").as("dd"))
      .groupBy(col("event_type"), col("dd"))
      .agg(count(lit(1)).as("y"))

  private def orderDay: Column = col("o_orderdate").cast("date").as("d")

  /** Orders grouped by calendar day d with the given aggregates. */
  def byOrderDay(orders: DataFrame, aggs: Column*): DataFrame =
    orders.groupBy(orderDay).agg(aggs.head, aggs.tail: _*)

  def orderCounts(orders: DataFrame): DataFrame =
    byOrderDay(orders, count(lit(1)).as("c"))

  def revenue(orders: DataFrame): DataFrame =
    byOrderDay(orders,
      sum(money(col("o_totalprice"))).cast("decimal(15,2)").as("rev"))

  def candle(orders: DataFrame): DataFrame = {
    val c = cents(col("o_totalprice"))
    byOrderDay(orders, max(c).as("hi"), min(c).as("lo"),
      max_by(c, col("o_orderkey")).as("cl"))
  }

  /** True range of a [[candle]] row given the previous close `pc`. */
  val trueRange: Column =
    when(col("pc").isNull, col("hi") - col("lo"))
      .when(col("hi") - col("lo") >= abs(col("hi") - col("pc")) &&
        col("hi") - col("lo") >= abs(col("lo") - col("pc")),
        col("hi") - col("lo"))
      .when(abs(col("hi") - col("pc")) >= abs(col("lo") - col("pc")),
        abs(col("hi") - col("pc")))
      .otherwise(abs(col("lo") - col("pc")))

  /** Daily revenue per nation, DECIMAL(18,2) input so cumulative
    * sums and maxes stay exact. */
  def nationRevenue(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), orderDay)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))

  val nationDailySql: String =
    """SELECT n_name, CAST(o_orderdate AS DATE) AS d,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, CAST(o_orderdate AS DATE)""".stripMargin

  /** [[nationRevenue]] with its 7-day rolling level and the level's
    * running peak (both exact DECIMAL). */
  def levelPeak(daily: DataFrame): DataFrame = {
    val w7 = Window.partitionBy("n_name").orderBy("d").rowsBetween(-6, 0)
    val wPeak = Window.partitionBy("n_name").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("level", sum(col("rev")).over(w7))
      .withColumn("peak", max(col("level")).over(wPeak))
  }

  /** (d, c, trend, dow, dev): the days with a full centered 7-day
    * frame, trend its moving average, dev = c − trend. */
  def detrended(orders: DataFrame): DataFrame = {
    val w = Window.orderBy("d").rowsBetween(-3, 3)
    orderCounts(orders)
      .withColumn("fn", count(lit(1)).over(w))
      .withColumn("trend", sum(col("c")).over(w).cast("double") /
        col("fn").cast("double"))
      .filter(col("fn") === 7)
      .select(col("d"), col("c"), col("trend"),
        dayofweek(col("d")).as("dow"),
        (col("c").cast("double") - col("trend")).as("dev"))
  }
}
