package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.35 — round-15 eighth batch: fulfillment SLA
  * percentiles and the cumulative adoption curve.
  *
  * Scale shapes: ship delay is one fact join on orderkey (both
  * sides shuffle-partitioned on the key) reduced per priority;
  * adoption is two chained aggregates plus a horizon-bounded
  * running sum.
  *
  * Determinism: dates exact; delay days exact ints; percentile
  * interpolation over exact values.
  */
object Composite18 {

  // ---- agg_ship_delay ----------------------------------------------
  // Order-to-ship latency SLA per priority: p50/p90/p99 of
  // (l_shipdate − o_orderdate) in days plus the late-line share
  // beyond 60 days — the logistics dashboard over the only
  // date-pair the corpus carries. One orderkey equi-join (fact ⋈
  // fact, both shuffle-partitioned on the key — no broadcast
  // assumption), one hash aggregate.
  private def shipDelay(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).as("delay"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(expr("percentile(delay, 0.5)"), 6).as("p50"),
        round(expr("percentile(delay, 0.9)"), 6).as("p90"),
        round(expr("percentile(delay, 0.99)"), 6).as("p99"),
        round(sum(when(col("delay") > 60, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("late_share"))
      .orderBy("o_orderpriority")
  }

  private val shipDelayOracle =
    """WITH d AS (
      |  SELECT o.o_orderpriority,
      |    CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
      |      AS BIGINT) AS delay
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
      |  round(quantile_cont(delay, 0.5), 6) AS p50,
      |  round(quantile_cont(delay, 0.9), 6) AS p90,
      |  round(quantile_cont(delay, 0.99), 6) AS p99,
      |  round(CAST(sum(CASE WHEN delay > 60 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 6) AS late_share
      |FROM d GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- win_adoption_curve ------------------------------------------
  // Cumulative user adoption: per day, users seeing their FIRST
  // event that day and the running total as a share of the final
  // population — the S-curve behind evt_new_vs_returning's daily
  // split. Per-user min day (one aggregate), per-day counts, then a
  // running sum over the horizon-bounded day series plus a 1-row
  // population broadcast.
  private def adoptionCurve(s: SparkSession, dir: String): DataFrame = {
    val firsts = loadEvents(s, dir)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("d0"))
    val daily = firsts.groupBy(col("d0").as("d"))
      .agg(count(lit(1)).as("new_users"))
    val pop = broadcast(firsts.agg(count(lit(1)).as("population")))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(pop)
      .withColumn("cum_users", sum(col("new_users")).over(w).cast("bigint"))
      .select(col("d"), col("new_users"), col("cum_users"),
        round(col("cum_users").cast("double") /
          col("population").cast("double"), 6).as("adoption"))
      .orderBy("d")
  }

  private val adoptionCurveOracle =
    """WITH f AS (
      |  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0
      |  FROM events GROUP BY user_id),
      |daily AS (
      |  SELECT d0 AS d, CAST(count(*) AS BIGINT) AS new_users
      |  FROM f GROUP BY d0),
      |pop AS (SELECT CAST(count(*) AS BIGINT) AS population FROM f)
      |SELECT d, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users,
      |  round(CAST(sum(new_users) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
      |    CAST(population AS DOUBLE), 6) AS adoption
      |FROM daily CROSS JOIN pop
      |ORDER BY d""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_ship_delay" -> (shipDelay _),
    "win_adoption_curve" -> (adoptionCurve _)
  )

  val oracle: Map[String, String] = Map(
    "agg_ship_delay" -> shipDelayOracle,
    "win_adoption_curve" -> adoptionCurveOracle
  )
}
