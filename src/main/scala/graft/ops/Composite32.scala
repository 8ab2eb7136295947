package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.48 (round-21 batch 2) — weighted order statistics
  * and count-rate shift testing:
  *
  *  - [[weightedMedian]]: the weighted median (the robust center the
  *    plain median family can't weight) — exact by construction:
  *    integral weights, cumulative-weight threshold picks an actual
  *    data value, no interpolation to drift.
  *
  *  - [[poissonRateShift]]: did each event type's COUNT RATE change
  *    between the first and second half of the observed window? The
  *    conditional-Poisson normal statistic z = (c1-c2)/sqrt(c1+c2) on
  *    exact counts (agg_welch_t tests means of VALUES; this tests
  *    arrival rates — the ops-monitoring primitive).
  *
  * Scale shapes: weighted median is one window shuffle on the group
  * key + a 3-row aggregate; rate-shift is one map-side-combining
  * conditional aggregate with the 1-row global midpoint broadcast in
  * (the pagerank `nn` discipline — no driver collect).
  *
  * Determinism: medians are picked data values (exact double compare);
  * rate counts are exact integers with the z/ratio assembled ONCE in
  * double from identical formula text.
  */
object Composite32 {

  // ---- agg_weighted_median -------------------------------------------
  // Weighted median of extendedprice per return flag, weight =
  // quantity (integral-valued; both engines cast the integral double
  // to BIGINT losslessly): smallest price whose cumulative weight
  // reaches half the total — 2*cumw >= total in exact integers, no
  // halving division.
  //
  // Scale shape (VERDICT r11 item 1): the cumulative window
  // partitions by l_returnflag — a 3-value key — so its input must
  // NEVER be the raw fact table (3 reducers would each sort and scan
  // a third of lineitem). Pre-aggregate (flag, price) → sum(w) first:
  // a parallel map-side-combining hash aggregate; the window then
  // runs over the distinct-price relation, orders of magnitude
  // smaller and shrinking relative to the fact table as SF grows.
  // The picked value is provably identical: within a price group the
  // raw cumulative weight crosses total/2 iff the group's END-of-
  // group cumulative does, and min(price) over qualifying raw rows
  // is exactly the first qualifying group's price — so the per-group
  // cumulative picks the same price, and the old (orderkey,
  // linenumber) tie-break keys become unnecessary (the grouped
  // relation is unique on (flag, price)). The per-flag total is a
  // 3-row groupBy().sum() broadcast back in, not a second whole-
  // partition window pass over the fact table. If distinct prices
  // themselves ever skewed, DistRank.globalNtile's range-partitioned
  // cumulative sums are the escalation path — not needed while
  // |distinct prices| per flag is window-sortable on one core.
  private[graft] def weightedMedianOn(li: DataFrame): DataFrame = {
    // (r19 tried two variants and kept NEITHER: folding the per-flag
    // total into a whole-partition window pass measured flat and
    // violates the r11 plan contract PlanSpec pins — an unbounded
    // frame buffers the entire distinct-price partition, while the
    // running cumulative frame streams with constant state; lazily
    // checkpointing `grouped` for its two consumers measured ~0.3 s
    // SLOWER solo than recomputing the cheap aggregate.)
    val grouped = li
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    val totals = grouped.groupBy(col("l_returnflag"))
      .agg(sum(col("w")).as("total"))
    val wCum = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped
      .select(col("l_returnflag"), col("l_extendedprice"),
        sum(col("w")).over(wCum).as("cumw"))
      .join(broadcast(totals), "l_returnflag")
      .filter(col("cumw") * 2 >= col("total"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("w_median_price"),
        min(col("total")).as("total_weight"))
      .orderBy("l_returnflag")
  }

  private def weightedMedian(s: SparkSession, dir: String): DataFrame =
    weightedMedianOn(load(s, dir, "lineitem"))

  private val weightedMedianOracle =
    """WITH t AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    sum(CAST(l_quantity AS BIGINT)) OVER (
      |      PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(CAST(l_quantity AS BIGINT)) OVER (
      |      PARTITION BY l_returnflag) AS total
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  min(l_extendedprice) AS w_median_price,
      |  CAST(min(total) AS BIGINT) AS total_weight
      |FROM t WHERE cumw * 2 >= total
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- evt_poisson_rate_shift -----------------------------------------
  // Split the observed span at its midpoint DAY (exact integer-day
  // arithmetic, inclusive left half) and test each event type's
  // arrival-rate change: z = (c1 - c2) / sqrt(c1 + c2) — the
  // conditional test (given n = c1 + c2 arrivals, c1 ~ Binomial(n, ½)
  // under H0 of equal rates). Counts are exact integers; z and the
  // rate ratio assemble once in double with identical formula text.
  private[graft] def poissonRateShiftOn(events: DataFrame): DataFrame = {
    val span = events.agg(min(to_date(col("ts"))).as("mind"),
      max(to_date(col("ts"))).as("maxd"))
    // 1-row span rides a broadcast cross join into the per-type
    // aggregate (pagerank `nn` discipline — no standalone collect).
    events.select(col("event_type"), to_date(col("ts")).as("d"))
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        (col("d") <= expr("date_add(mind, CAST(datediff(maxd, mind) DIV 2 AS INT))"))
          .as("first_half"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("first_half"), 0L).otherwise(1L)).as("c2"))
      .selectExpr("event_type", "c1", "c2",
        "floor(((CAST(c1 AS DOUBLE) - CAST(c2 AS DOUBLE)) / sqrt(CAST(c1 + c2 AS DOUBLE)))*1e6 + 0.5)/1e6 AS z",
        "CASE WHEN c2 = 0 THEN NULL ELSE floor((CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE))*1e6 + 0.5)/1e6 END AS rate_ratio")
      .orderBy("event_type")
  }

  private def poissonRateShift(s: SparkSession, dir: String): DataFrame =
    poissonRateShiftOn(loadEvents(s, dir))

  private val poissonRateShiftOracle =
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |span AS (SELECT min(d) AS mind, max(d) AS maxd FROM e),
      |c AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN d <= mind + CAST((maxd - mind) // 2 AS INTEGER)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN d <= mind + CAST((maxd - mind) // 2 AS INTEGER)
      |      THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |  FROM e CROSS JOIN span GROUP BY event_type)
      |SELECT event_type, c1, c2,
      |  floor(((CAST(c1 AS DOUBLE) - CAST(c2 AS DOUBLE)) / sqrt(CAST(c1 + c2 AS DOUBLE)))*1e6 + 0.5)/1e6 AS z,
      |  CASE WHEN c2 = 0 THEN NULL ELSE floor((CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE))*1e6 + 0.5)/1e6 END AS rate_ratio
      |FROM c ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_weighted_median" -> (weightedMedian _),
    "evt_poisson_rate_shift" -> (poissonRateShift _)
  )

  val oracle: Map[String, String] = Map(
    "agg_weighted_median" -> weightedMedianOracle,
    "evt_poisson_rate_shift" -> poissonRateShiftOracle
  )
}
