package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.18 (continued) — round-7 nested-type, calendar,
  * window and event operators: array-of-struct algebra surfaced as
  * scalars, month-end-clamped calendar arithmetic, a centered
  * (forward-looking) window frame, the array higher-order-function
  * tier, an hour × weekday event heatmap, share-of-order, the
  * lineitem primary-key-violation report, and per-user event
  * inter-arrival statistics.
  */
object Composite5 {

  private def views(s: SparkSession, dir: String): Unit =
    Seq("orders", "lineitem")
      .foreach(n => load(s, dir, n).createOrReplaceTempView(n))

  private def q(sql: String)(s: SparkSession, dir: String): DataFrame = {
    views(s, dir); s.sql(sql)
  }

  // ---- nested_struct_topn ------------------------------------------
  // Array-of-struct algebra: per order, line items are collected as
  // (price, partkey) structs, sorted descending via
  // reverse(array_sort(...)) — struct ordering is field-by-field, so
  // ties on price break on partkey — and the top-2 are projected back
  // to scalars with the OOB-null `get` (orders with one item surface
  // NULL seconds). One hash aggregate on the natural orderkey
  // partitioning; the per-group array is bounded by order size. The
  // oracle is the row_number + conditional-aggregation twin.
  private def nestedTopN(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        reverse(array_sort(collect_list(
          struct(money(col("l_extendedprice")).as("p"), col("l_partkey").as("pk")))))
          .as("items"))
      .select(col("l_orderkey"), col("n_items"),
        expr("get(items, 0).pk").as("top1_pk"),
        asD(expr("get(items, 0).p")).as("top1_price"),
        expr("get(items, 1).pk").as("top2_pk"),
        asD(expr("get(items, 1).p")).as("top2_price"))
      .orderBy("l_orderkey")

  private val nestedTopNOracle =
    """WITH r AS (
      |  SELECT l_orderkey, l_partkey,
      |    CAST(l_extendedprice AS DECIMAL(15,2)) AS p,
      |    row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY CAST(l_extendedprice AS DECIMAL(15,2)) DESC, l_partkey DESC) AS rk
      |  FROM lineitem)
      |SELECT l_orderkey, count(*) AS n_items,
      |  max(CASE WHEN rk = 1 THEN l_partkey END) AS top1_pk,
      |  CAST(max(CASE WHEN rk = 1 THEN p END) AS DOUBLE) AS top1_price,
      |  max(CASE WHEN rk = 2 THEN l_partkey END) AS top2_pk,
      |  CAST(max(CASE WHEN rk = 2 THEN p END) AS DOUBLE) AS top2_price
      |FROM r GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  // ---- date_arithmetic ---------------------------------------------
  // The calendar-arithmetic tier beyond date_parts' extraction:
  // month-end clamping (add_months / +INTERVAL MONTH both clamp
  // Jan 31 + 1mo → Feb 28), last_day, quarter boundaries, and the
  // ISO weekday/week numbering (Spark weekday is 0=Monday; DuckDB's
  // isodow is 1=Monday — the oracle aligns by subtraction, never by
  // trusting same-named functions whose conventions differ). Pure
  // projection; all integer/date math, no float hazards.
  private val dateArithSql =
    """SELECT o_orderkey,
      |  add_months(CAST(o_orderdate AS DATE), 3) AS plus3mo,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start,
      |  CAST(weekday(o_orderdate) AS INT) AS iso_weekday,
      |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  private val dateArithOracle =
    """SELECT o_orderkey,
      |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3mo,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(date_part('quarter', o_orderdate) AS INT) AS qtr,
      |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start,
      |  CAST(date_part('isodow', o_orderdate) - 1 AS INT) AS iso_weekday,
      |  CAST(date_part('week', o_orderdate) AS INT) AS iso_week
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  // ---- win_centered_frame ------------------------------------------
  // Centered moving average (ROWS BETWEEN 2 PRECEDING AND 2
  // FOLLOWING) — the smoothing frame every monitoring dashboard uses,
  // and the one §2.5 frame family member that looks FORWARD. The
  // unique (o_orderdate, o_orderkey) order pins frame membership;
  // the decimal frame sum and exact count divide in one IEEE double
  // op, so no rounding is needed. Oracle text == query text.
  private val centeredFrameSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) OVER w AS DOUBLE)
      |    / CAST(count(*) OVER w AS DOUBLE) AS centered_avg,
      |  CAST(count(*) OVER w AS BIGINT) AS frame_n
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- array_hof_fns -----------------------------------------------
  // The higher-order-function array tier beyond array_fns' fold:
  // transform, filter, exists, forall, sort/reverse/slice algebra,
  // and zip_with (exercised as a palindrome dot product of the vector
  // with its own reversal, folded left-to-right). Elements are
  // rounded to 4 dp once at the float→double promotion so every
  // downstream comparison and sum sees identical grids in both
  // engines; DuckDB spells exists/forall as list_filter lengths and
  // zip_with as an index-list transform. Pure projection.
  private val hofE2 = "transform(embedding, x -> round(CAST(x AS DOUBLE), 4))"

  private def arrayHof(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      // project the rounded-double view ONCE — HOF lambdas are
      // interpreted, and subexpression elimination does not reliably
      // dedupe a transform inlined at eight sites (the oracle's CTE
      // computes e2 once for the same reason)
      .withColumn("e2", expr(hofE2))
      // the sort/reverse/slice algebra still runs — but the top-3 is
      // surfaced as three scalar columns, not an array<double>: the
      // driver's comparer hashes scalar cells only (list cells crash
      // its pandas lexsort)
      .withColumn("srt", expr("slice(reverse(array_sort(e2)), 1, 3)"))
      .select(
        col("vec_id"),
        expr("size(filter(e2, x -> x > 0))").as("n_pos"),
        expr("exists(e2, x -> x > 2.5)").as("any_big"),
        expr("forall(e2, x -> x > 0)").as("all_pos"),
        expr("element_at(srt, 1)").as("top_1"),
        expr("element_at(srt, 2)").as("top_2"),
        expr("element_at(srt, 3)").as("top_3"),
        round(expr(
          "aggregate(zip_with(e2, reverse(e2), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"),
          4).as("palin_dot"))
      .orderBy("vec_id")

  private val arrayHofOracle =
    """WITH b AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 4)) AS e2
      |  FROM embeddings)
      |SELECT vec_id,
      |  CAST(len(list_filter(e2, x -> x > 0)) AS INT) AS n_pos,
      |  len(list_filter(e2, x -> x > 2.5)) > 0 AS any_big,
      |  len(list_filter(e2, x -> NOT (x > 0))) = 0 AS all_pos,
      |  list_reverse(list_sort(e2))[1] AS top_1,
      |  list_reverse(list_sort(e2))[2] AS top_2,
      |  list_reverse(list_sort(e2))[3] AS top_3,
      |  round(list_sum(list_transform(range(1, len(e2) + 1),
      |    i -> e2[i] * e2[len(e2) - i + 1])), 4) AS palin_dot
      |FROM b ORDER BY vec_id""".stripMargin

  // ---- evt_seasonality ---------------------------------------------
  // Hour-of-day × ISO-weekday activity heatmap with decimal-exact
  // value totals — the first diagnostic any event stream gets. Uses
  // the aligned-by-formula weekday convention from date_arithmetic;
  // one hash aggregate over a pure projection.
  private def seasonality(s: SparkSession, dir: String): DataFrame = {
    loadEvents(s, dir)
      .groupBy(expr("CAST(weekday(ts) AS INT)").as("dow"),
        expr("CAST(hour(ts) AS INT)").as("hr"))
      .agg(count(lit(1)).as("n"),
        asD(sum(money(col("value")))).as("sum_value"))
      .orderBy("dow", "hr")
  }

  private val seasonalityOracle =
    """SELECT CAST(date_part('isodow', CAST(ts AS TIMESTAMP)) - 1 AS INT) AS dow,
      |  CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) AS hr,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY dow, hr
      |ORDER BY dow, hr""".stripMargin

  // ---- win_pct_total -----------------------------------------------
  // Share-of-group: each line item's fraction of its order's total —
  // the reporting layer's percent-of-total window. The partition sum
  // is decimal-exact, both operands are exact before ONE IEEE
  // division, and the sort covers every column the output derives
  // from. Oracle text == query text.
  private val pctTotalSql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
      |  round(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS DOUBLE)
      |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)))
      |        OVER (PARTITION BY l_orderkey) AS DOUBLE), 6) AS pct_of_order
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin

  // ---- agg_dup_keys ------------------------------------------------
  // Primary-key-violation report: (l_orderkey, l_linenumber) pairs
  // appearing more than once — the data-quality check this corpus
  // genuinely fails (Tables.scala documents the duplicates). One
  // hash aggregate + HAVING. Oracle text == query text.
  private val dupKeysSql =
    """SELECT l_orderkey, l_linenumber, count(*) AS n_copies
      |FROM lineitem
      |GROUP BY l_orderkey, l_linenumber
      |HAVING count(*) > 1
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- evt_inter_arrival -------------------------------------------
  // Per-user inter-arrival statistics: lag over the (ts, event_id)
  // unique order yields exact microsecond gaps; min/max stay BIGINT
  // and the mean divides two exact integers once — deterministic
  // UNROUNDED (round(x, 6) would actually break equality here: at
  // ~1e10 µs the 1e-6 grid sits below the double's ulp and the
  // engines' rounding diverges). One window shuffle + one hash
  // aggregate, both on user_id.
  private def interArrival(s: SparkSession, dir: String): DataFrame = {
    loadEvents(s, dir).createOrReplaceTempView("events_v")
    s.sql(
      """WITH g AS (
        |  SELECT user_id,
        |    unix_micros(ts) - lag(unix_micros(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events_v)
        |SELECT user_id, count(gap_us) AS n_gaps,
        |  CAST(sum(gap_us) AS DOUBLE) / CAST(count(gap_us) AS DOUBLE) AS avg_gap_us,
        |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)
  }

  private val interArrivalOracle =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT user_id, count(gap_us) AS n_gaps,
      |  CAST(sum(gap_us) AS DOUBLE) / CAST(count(gap_us) AS DOUBLE) AS avg_gap_us,
      |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nested_struct_topn" -> (nestedTopN _),
    "date_arithmetic" -> (q(dateArithSql) _),
    "win_centered_frame" -> (q(centeredFrameSql) _),
    "array_hof_fns" -> (arrayHof _),
    "evt_seasonality" -> (seasonality _),
    "win_pct_total" -> (q(pctTotalSql) _),
    "agg_dup_keys" -> (q(dupKeysSql) _),
    "evt_inter_arrival" -> (interArrival _)
  )

  val oracle: Map[String, String] = Map(
    "nested_struct_topn" -> nestedTopNOracle,
    "date_arithmetic" -> dateArithOracle,
    "win_centered_frame" -> centeredFrameSql,
    "array_hof_fns" -> arrayHofOracle,
    "evt_seasonality" -> seasonalityOracle,
    "win_pct_total" -> pctTotalSql,
    "agg_dup_keys" -> dupKeysSql,
    "evt_inter_arrival" -> interArrivalOracle
  )
}
