package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.dedup.Shingles
import graft.util.Tables._

/** SURVEY.md §2.89 (round-17 batch 4) — robust trend estimation and
  * corpus novelty:
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
  *
  *  - `llm_source_novelty`: per-source mean fraction of each document's
  *    distinct 3-token shingles NOT seen in any earlier document
  *    (owner = min doc_id per shingle) — the marginal-novelty curve a
  *    dedup pipeline reads to find diminishing returns (what fraction
  *    of each new crawl slice is actually new text). One shuffle on
  *    the shingle assigns owners; novel counts fall out of a groupBy
  *    on the owner (every shingle contributes exactly one novelty to
  *    its first document) — never a postings re-join; per-doc
  *    novelty floors at 1e-6 and the per-source mean divides the
  *    exact micro-unit sum (nDCG summary discipline). Docs under 3
  *    tokens have no shingle set and are excluded (documented).
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

  // ---- llm_source_novelty --------------------------------------------------

  private[graft] def ngramNoveltyOn(docs: DataFrame): DataFrame =
    ngramNoveltyOnGrams(Shingles.grams(docs), docs)

  private[graft] def ngramNoveltyOnGrams(grams: DataFrame,
      docs: DataFrame): DataFrame = {
    // parquet-backed grams (the r18 DiskMemo view) is already
    // materialized; the checkpoint still pins one in-memory copy for
    // the two aggregate consumers below (owners + totals).
    val g = grams.localCheckpoint()
    val owners = g.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    noveltyTail(
      owners.groupBy(col("doc_id")).agg(count(lit(1)).as("nv")),
      g.groupBy(col("doc_id")).agg(count(lit(1)).as("tg")), docs)
  }

  private def noveltyTail(novel: DataFrame, totals: DataFrame,
      docs: DataFrame): DataFrame = {
    val perDoc = totals.join(novel, Seq("doc_id"), "left")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .selectExpr("source",
        """floor((CAST(coalesce(nv, 0) AS DOUBLE) / CAST(tg AS DOUBLE))
          |  *1e6 + 0.5)/1e6 AS novelty""".stripMargin)
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(floor(novelty*1e6 + 0.5) AS BIGINT)")).as("snm"))
      .selectExpr("source", "n_docs",
        "floor(CAST(snm AS DOUBLE)/n_docs + 0.5)/1e6 AS mean_novelty")
      .orderBy("source")
  }

  // r19: the per-shingle owner (min doc_id) is element 1 of the
  // SORTED posting array, so the corpus path reads the shared
  // postings view and skips the h-keyed owner aggregate + the grams
  // checkpoint entirely; per-doc totals still come off the flat gram
  // view (one doc-keyed exchange — unavoidable). Values identical:
  // ds is the distinct doc set per h, sorted ascending.
  private def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    noveltyTail(
      Shingles.sharedPostings(s, dir)
        .select(element_at(col("ds"), 1).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nv")),
      Shingles.sharedGrams(s, dir)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tg")),
      load(s, dir, "documents"))

  private val ngramNoveltyOracle =
    s"""WITH ${Shingles.gramsCte},
      |owners AS (SELECT h, min(doc_id) AS doc_id FROM grams GROUP BY h),
      |novel AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nv
      |  FROM owners GROUP BY 1),
      |totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tg
      |  FROM grams GROUP BY 1),
      |perdoc AS (
      |  SELECT d.source,
      |    floor((CAST(coalesce(nv, 0) AS DOUBLE) / CAST(tg AS DOUBLE))
      |      *1e6 + 0.5)/1e6 AS novelty
      |  FROM totals t LEFT JOIN novel n ON t.doc_id = n.doc_id
      |  JOIN documents d ON t.doc_id = d.doc_id)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  floor(CAST(sum(CAST(floor(novelty*1e6 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / count(*) + 0.5)/1e6 AS mean_novelty
      |FROM perdoc GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- registration ---------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_theil_sen_trend" -> (theilSen _),
    "llm_source_novelty" -> (ngramNovelty _)
  )

  val oracle: Map[String, String] = Map(
    "evt_theil_sen_trend" -> theilSenOracle,
    "llm_source_novelty" -> ngramNoveltyOracle
  )
}
