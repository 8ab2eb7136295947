package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.32 — round-15 fifth batch: cross-source duplicate
  * flow, new-vs-returning user split, and year-over-year growth.
  *
  * Scale shapes: cross-source dup flow reuses the
  * exact-dedup hash groupBy and explodes only MULTI-SOURCE groups
  * (bounded by the duplicate population, not the corpus); the user
  * split is two chained aggregates over (user, day); YoY is a
  * month-aggregate self-join on month−12 (gap-safe, like the
  * seasonal-naive backtest).
  *
  * Determinism: counts exact; growth ratios assemble once from
  * exact sums via shared IEEE text.
  */
object Composite16 {

  // ---- llm_dedup_cross_source --------------------------------------
  // Where do duplicated document OPENINGS flow between sources? Keys
  // each doc by the md5 of its first 30 words (whole-document hashes
  // never cross a source boundary in this corpus — verified at two
  // SFs — so the doc-level matrix would be vacuously empty; shared
  // openings are the llm_prefix_dedup signal, here cross-tabulated),
  // keeps only keys spanning ≥2 sources, and counts doc pairs per
  // unordered source pair. The pair explosion runs over per-hash
  // distinct-source sets (bounded by the duplicate population and
  // the source alphabet, not the corpus).
  private def crossSourceDup(s: SparkSession, dir: String): DataFrame = {
    val bySrc = load(s, dir, "documents")
      .select(md5(expr("array_join(slice(split(text, ' '), 1, 30), ' ')"))
        .as("h"), col("source"))
      .groupBy(col("h"), col("source"))
      .agg(count(lit(1)).as("c"))
    val sets = bySrc
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("source"), col("c"))))
        .as("ss"))
      .filter(size(col("ss")) >= 2)
    sets
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |    b -> struct(a.source AS sa, b.source AS sb,
          |                a.c * b.c AS pairs))))""".stripMargin)).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_hashes"),
        sum(col("p.pairs")).cast("bigint").as("n_doc_pairs"))
      .orderBy("source_a", "source_b")
  }

  private val crossSourceDupOracle =
    """WITH bs AS (
      |  SELECT md5(array_to_string(
      |      list_slice(string_split(text, ' '), 1, 30), ' ')) AS h,
      |    source, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    a.c * b.c AS pairs
      |  FROM bs a JOIN bs b ON a.h = b.h AND a.source < b.source)
      |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_hashes,
      |  CAST(sum(pairs) AS BIGINT) AS n_doc_pairs
      |FROM p GROUP BY source_a, source_b
      |ORDER BY source_a, source_b""".stripMargin

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
    "llm_dedup_cross_source" -> (crossSourceDup _),
    "evt_new_vs_returning" -> (newVsReturning _),
    "win_year_over_year" -> (yearOverYear _)
  )

  val oracle: Map[String, String] = Map(
    "llm_dedup_cross_source" -> crossSourceDupOracle,
    "evt_new_vs_returning" -> newVsReturningOracle,
    "win_year_over_year" -> yearOverYearOracle
  )
}
