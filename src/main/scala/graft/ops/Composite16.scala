package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.32 — round-15 fifth batch: new-vs-returning user
  * split and year-over-year growth.
  *
  * Scale shapes: the user split is two chained aggregates over
  * (user, day); YoY is a month-aggregate self-join on month−12
  * (gap-safe, like the seasonal-naive backtest).
  *
  * Determinism: counts exact; growth ratios assemble once from
  * exact sums via shared IEEE text.
  */
object Composite16 {

  // ---- evt_new_vs_returning ----------------------------------------
  // Per-day split of active users into first-seen-today vs returning
  // — the growth dashboard's topmost chart. (user, day) dedup, then
  // each user's min day marks the "new" row; one more aggregate per
  // day. new_share = new / (new + returning), 6-dp.
  private def newVsReturning(s: SparkSession, dir: String): DataFrame = {
    val days = loadEvents(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val first = days.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    days.join(first, "user_id")
      .groupBy(col("d"))
      .agg(sum(when(col("d") === col("d0"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("d") =!= col("d0"), 1L).otherwise(0L))
          .as("returning_users"))
      .select(col("d"), col("new_users"), col("returning_users"),
        round(col("new_users").cast("double") /
          (col("new_users") + col("returning_users")).cast("double"), 6)
          .as("new_share"))
      .orderBy("d")
  }

  private val newVsReturningOracle =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events),
      |f AS (SELECT user_id, min(d) AS d0 FROM days GROUP BY user_id)
      |SELECT d,
      |  CAST(sum(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |  CAST(sum(CASE WHEN d <> d0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS returning_users,
      |  round(CAST(sum(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 6) AS new_share
      |FROM days JOIN f USING (user_id)
      |GROUP BY d ORDER BY d""".stripMargin

  // ---- win_year_over_year ------------------------------------------
  // Year-over-year monthly growth of order count and revenue: the
  // monthly aggregate self-joins on month − 12 (gap-safe equi-join,
  // the seasonal-naive discipline — a row-offset lag would slip on a
  // missing month). Growth pcts are 6-dp rounded; revenue stays
  // decimal-exact until the final division.
  private def yearOverYear(s: SparkSession, dir: String): DataFrame = {
    val monthly = load(s, dir, "orders")
      .groupBy(trunc(col("o_orderdate"), "month").as("m"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("o_totalprice"))).cast("decimal(18,2)").as("rev"))
    val prev = monthly.select(add_months(col("m"), 12).as("m"),
      col("n").as("pn"), col("rev").as("prev_rev"))
    monthly.join(prev, "m")
      .select(col("m"), col("n"), col("pn"),
        round((col("n") - col("pn")).cast("double") /
          col("pn").cast("double"), 6).as("n_growth"),
        round((asD(col("rev")) - asD(col("prev_rev"))) /
          asD(col("prev_rev")), 6).as("rev_growth"))
      .orderBy("m")
  }

  private val yearOverYearOracle =
    """WITH monthly AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(18,2))
      |      AS rev
      |  FROM orders GROUP BY date_trunc('month', CAST(o_orderdate AS DATE)))
      |SELECT a.m, a.n, b.n AS pn,
      |  round(CAST(a.n - b.n AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
      |    AS n_growth,
      |  round((CAST(CAST(a.rev AS VARCHAR) AS DOUBLE) -
      |    CAST(CAST(b.rev AS VARCHAR) AS DOUBLE)) /
      |    CAST(CAST(b.rev AS VARCHAR) AS DOUBLE), 6) AS rev_growth
      |FROM monthly a JOIN monthly b ON a.m = b.m + INTERVAL 12 MONTH
      |ORDER BY a.m""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_new_vs_returning" -> (newVsReturning _),
    "win_year_over_year" -> (yearOverYear _)
  )

  val oracle: Map[String, String] = Map(
    "evt_new_vs_returning" -> newVsReturningOracle,
    "win_year_over_year" -> yearOverYearOracle
  )
}
