package graft.ops.dq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Drift, freshness and disorder audits over the document corpus and
  * the event stream (SURVEY.md §2.44, §2.59, §2.65):
  *
  *  - `dq_generation_drift`: corpus-version drift — per-source PSI
  *    terms of the doc-length distribution between two generations.
  *
  *  - `dq_schema_drift`: per-generation OBSERVED-schema audit — for each
  *    column of the fixed physical inventory, the non-null presence
  *    count and the inferred storage class (int32-compatible vs int64
  *    for integers, short vs long for strings) in each generation,
  *    with a verdict per column: absent / added / dropped / retyped /
  *    stable. The governance twin of `dq_generation_drift`: that row
  *    audits the VALUE distribution, this one audits the SHAPE a
  *    reader must plan for (a column whose values silently outgrow
  *    int32, or that vanishes in the new generation, breaks downstream
  *    readers before any distribution test fires).
  *
  *  - `dq_freshness`: per-event-type staleness anchored at the CORPUS
  *    max timestamp (not wall-clock — deterministic across engines and
  *    reruns): last event, integer-hour lag behind the freshest type,
  *    and trailing-7-day volume. The 1-row global max rides a
  *    broadcast cross join into the per-type aggregate (the pagerank
  *    `nn` discipline — no standalone collect).
  *
  *  - `dq_out_of_order_audit`: event-time disorder per event type —
  *    adjacent pairs in ARRIVAL order (event_id) whose timestamps run
  *    backward, their rate, and the worst backward jump in µs. This is
  *    the number that TUNES a watermark (`withWatermark(delay)` must
  *    exceed the observed backward jump or `evt_watermark_late`-style
  *    drops begin); the corpus reads zero disorder, which is itself
  *    the audit's finding — the planted spec injects disorder to prove
  *    the detector.
  *
  * Both corpus audits split the documents into the same two
  * generations, [[GenerationA]] (even doc_ids) vs the rest — the
  * llm_dedup_incremental split.
  *
  * Scale shapes: schema drift is ONE full scan collapsed to a single
  * 20-aggregate row (all map-side combining), localCheckpointed so the
  * 5 per-column branches read the one-row result instead of
  * re-scanning the corpus 5 times; the disorder audit is one lag
  * window partitioned by event type and one per-type aggregate.
  *
  * Determinism: schema-drift counts and class thresholds are exact
  * integer comparisons; PSI terms are one double expression each over
  * exact integers; the disorder rate is the only floor-6 double.
  */
object Drift {

  /** The first corpus generation: even doc_ids. */
  private val GenerationA: Column = col("doc_id") % 2 === 0

  // ---- dq_generation_drift -----------------------------------------
  // Lengths bucket into 9 fixed 64-char bands (scale-independent
  // bounds; the cap band absorbs outliers), counts are Laplace-smoothed
  // (+0.5 per cell, so empty cells stay finite and deterministic), and
  // the row surfaces the PER-BUCKET PSI term (pb−pa)·ln(pb/pa) rather
  // than their sum: each term is ONE double expression over exact
  // integers — the growth_decompose cross-engine float discipline —
  // whereas a 9-term double SUM would be summation-order-sensitive
  // between engines. Per-bucket terms also localize WHERE the
  // distribution moved, which is the diagnostic a corpus owner
  // actually wants.
  private def generationDrift(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("source"), GenerationA.as("ga"),
        expr("least(n_chars div 64, 8)").as("b"))
    val counts = d.groupBy(col("source"), col("b"))
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("cb"))
    val spine = d.select(col("source")).distinct()
      .crossJoin(s.range(9).select(col("id").as("b")))
    val tot = d.groupBy(col("source"))
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("nb"))
    val pa = (col("ca") + 0.5) / (col("na") + 4.5)
    val pb = (col("cb") + 0.5) / (col("nb") + 4.5)
    spine.join(counts, Seq("source", "b"), "left")
      .na.fill(0L, Seq("ca", "cb"))
      .join(broadcast(tot), "source")
      .select(col("source"), col("b"), col("ca"), col("cb"),
        round((pb - pa) * log(pb / pa), 6).as("psi_term"))
      .orderBy("source", "b")
  }

  private val generationDriftOracle =
    """WITH d AS (
      |  SELECT source, doc_id % 2 = 0 AS ga,
      |    least(n_chars // 64, 8) AS b
      |  FROM documents),
      |counts AS (
      |  SELECT source, b,
      |    CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM d GROUP BY 1, 2),
      |spine AS (
      |  SELECT source, CAST(r.range AS BIGINT) AS b
      |  FROM (SELECT DISTINCT source FROM d) CROSS JOIN range(9) r),
      |tot AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM d GROUP BY 1)
      |SELECT spine.source, spine.b,
      |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb,
      |  round(((coalesce(cb, 0) + 0.5) / (nb + 4.5)
      |       - (coalesce(ca, 0) + 0.5) / (na + 4.5))
      |    * ln(((coalesce(cb, 0) + 0.5) / (nb + 4.5))
      |       / ((coalesce(ca, 0) + 0.5) / (na + 4.5))), 6) AS psi_term
      |FROM spine
      |LEFT JOIN counts ON spine.source = counts.source AND spine.b = counts.b
      |JOIN tot ON spine.source = tot.source
      |ORDER BY spine.source, spine.b""".stripMargin

  // ---- dq_schema_drift -------------------------------------------------
  // Column descriptors: (name, integer?) over the documents physical
  // inventory. Integer columns class by int32 range; string columns
  // by a 256-char storage threshold. The classes are deliberately
  // coarse — the audit's contract is "did the class CHANGE between
  // generations", not a full type system.
  private val DriftCols: Seq[(String, Boolean)] = Seq(
    ("doc_id", true), ("lang", false), ("n_chars", true),
    ("source", false), ("text", false))

  private[graft] def schemaDriftOn(docs: DataFrame): DataFrame = {
    def side(p: String, g: Column): Seq[Column] = DriftCols.flatMap {
      case (c, isInt) =>
        val n = sum(when(g && col(c).isNotNull, 1L).otherwise(0L))
          .as(s"${p}_${c}_n")
        if (isInt)
          Seq(n, min(when(g, col(c))).as(s"${p}_${c}_min"),
            max(when(g, col(c))).as(s"${p}_${c}_max"))
        else Seq(n, max(when(g, length(col(c)))).as(s"${p}_${c}_len"))
    }
    val aggs = side("a", GenerationA) ++ side("b", !GenerationA)
    // One corpus scan → one 24-aggregate row; checkpointed so the 5
    // per-column union branches below read this row, not the corpus.
    val g = docs.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    def typed(p: String, c: String, isInt: Boolean): Column = {
      val n = col(s"${p}_${c}_n")
      if (isInt)
        when(n === 0, lit(null).cast("string"))
          .when(col(s"${p}_${c}_min") >= lit(-2147483648L) &&
            col(s"${p}_${c}_max") <= lit(2147483647L), lit("int32-compatible"))
          .otherwise(lit("int64"))
      else
        when(n === 0, lit(null).cast("string"))
          .when(col(s"${p}_${c}_len") <= lit(256), lit("string-short"))
          .otherwise(lit("string-long"))
    }
    DriftCols.map { case (c, isInt) =>
      g.select(lit(c).as("column_name"),
        col(s"a_${c}_n").as("n_a"), col(s"b_${c}_n").as("n_b"),
        typed("a", c, isInt).as("type_a"), typed("b", c, isInt).as("type_b"))
    }.reduce(_.unionAll(_))
      .select(col("column_name"), col("n_a"), col("n_b"),
        col("type_a"), col("type_b"),
        when(col("n_a") === 0 && col("n_b") === 0, "absent")
          .when(col("n_a") === 0, "added")
          .when(col("n_b") === 0, "dropped")
          .when(col("type_a") =!= col("type_b"), "retyped")
          .otherwise("stable").as("status"))
      .orderBy("column_name")
  }

  private def schemaDriftOracle: String = {
    def side(p: String, cond: String): Seq[String] = DriftCols.flatMap {
      case (c, isInt) =>
        val n = s"CAST(sum(CASE WHEN $cond AND $c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${p}_${c}_n"
        if (isInt) Seq(n,
          s"min(CASE WHEN $cond THEN $c END) AS ${p}_${c}_min",
          s"max(CASE WHEN $cond THEN $c END) AS ${p}_${c}_max")
        else Seq(n,
          s"max(CASE WHEN $cond THEN length($c) END) AS ${p}_${c}_len")
    }
    def typed(p: String, c: String, isInt: Boolean): String =
      if (isInt)
        s"""CASE WHEN ${p}_${c}_n = 0 THEN NULL
           | WHEN ${p}_${c}_min >= -2147483648 AND ${p}_${c}_max <= 2147483647
           | THEN 'int32-compatible' ELSE 'int64' END""".stripMargin
      else
        s"""CASE WHEN ${p}_${c}_n = 0 THEN NULL
           | WHEN ${p}_${c}_len <= 256 THEN 'string-short'
           | ELSE 'string-long' END""".stripMargin
    val branches = DriftCols.map { case (c, isInt) =>
      s"""SELECT '$c' AS column_name, a_${c}_n AS n_a, b_${c}_n AS n_b,
         |  ${typed("a", c, isInt)} AS type_a,
         |  ${typed("b", c, isInt)} AS type_b FROM g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |  SELECT
       |    ${(side("a", "doc_id % 2 = 0") ++ side("b", "doc_id % 2 <> 0"))
            .mkString(",\n    ")}
       |  FROM documents),
       |t AS (
       |$branches)
       |SELECT column_name, n_a, n_b, type_a, type_b,
       |  CASE WHEN n_a = 0 AND n_b = 0 THEN 'absent'
       |   WHEN n_a = 0 THEN 'added'
       |   WHEN n_b = 0 THEN 'dropped'
       |   WHEN type_a <> type_b THEN 'retyped'
       |   ELSE 'stable' END AS status
       |FROM t ORDER BY column_name""".stripMargin
  }

  // ---- dq_freshness ----------------------------------------------------
  private def freshness(s: SparkSession, dir: String): DataFrame = {
    val e = loadEvents(s, dir)
    val g = e.agg(max(col("ts")).as("gmax"))
    e.crossJoin(broadcast(g))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("ts")).as("last_ts"),
        sum(when(col("ts") >= col("gmax") - expr("INTERVAL 7 DAYS"), 1L)
          .otherwise(0L)).as("n_last_7d"),
        first(col("gmax")).as("gmax"))
      .select(col("event_type"), col("n_events"), col("last_ts"),
        // µs-epoch discipline (matches sessionStats/transitionTime/
        // churnRisk): whole-second truncation can flip floor(diff/3600)
        // across an hour boundary when sub-second parts straddle it.
        floor((unix_micros(col("gmax")) - unix_micros(col("last_ts")))
          / 3600000000.0).cast("long").as("lag_hours"),
        col("n_last_7d"))
      .orderBy("event_type")
  }

  private val freshnessOracle =
    """WITH g AS (SELECT max(ts) AS gmax FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  max(ts) AS last_ts,
      |  CAST(floor((epoch_us(g.gmax) - epoch_us(max(ts))) / 3600000000.0)
      |    AS BIGINT) AS lag_hours,
      |  CAST(sum(CASE WHEN ts >= g.gmax - INTERVAL 7 DAY THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_last_7d
      |FROM events CROSS JOIN g
      |GROUP BY event_type, g.gmax
      |ORDER BY event_type""".stripMargin

  // ---- dq_out_of_order_audit -------------------------------------------
  // One lag window over (type, event_id) on the epoch-µs projection;
  // all outputs exact integers except the floor-6 rate. coalesce
  // keeps the worst-jump column total (0, not NULL) for in-order
  // types, so downstream watermark math needs no null handling.
  private[graft] def outOfOrderAuditOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .select(col("event_type"),
        (col("tsu") - lag(col("tsu"), 1).over(w)).as("d"))
      .groupBy(col("event_type"))
      .agg(count(col("d")).as("n_pairs"),
        sum(when(col("d") < 0, 1L).otherwise(0L)).as("n_backward"),
        coalesce(max(when(col("d") < 0, -col("d"))), lit(0L))
          .as("max_backward_us"))
      .selectExpr("event_type", "n_pairs", "n_backward", "max_backward_us",
        """floor((CAST(n_backward AS DOUBLE) / nullif(n_pairs, 0))*1e6
          | + 0.5)/1e6 AS backward_rate""".stripMargin)
      .orderBy("event_type")
  }

  private val outOfOrderAuditOracle =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
      |  FROM events),
      |lg AS (
      |  SELECT event_type,
      |    tsu - lag(tsu, 1) OVER (PARTITION BY event_type
      |      ORDER BY event_id) AS d
      |  FROM e),
      |g AS (
      |  SELECT event_type, CAST(count(d) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_backward,
      |    CAST(coalesce(max(CASE WHEN d < 0 THEN -d END), 0) AS BIGINT)
      |      AS max_backward_us
      |  FROM lg GROUP BY 1)
      |SELECT event_type, n_pairs, n_backward, max_backward_us,
      |  floor((CAST(n_backward AS DOUBLE) / nullif(n_pairs, 0))*1e6
      |   + 0.5)/1e6 AS backward_rate
      |FROM g ORDER BY event_type""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_generation_drift" -> (generationDrift _),
    "dq_schema_drift" -> ((s: SparkSession, dir: String) =>
      schemaDriftOn(load(s, dir, "documents"))),
    "dq_freshness" -> (freshness _),
    "dq_out_of_order_audit" -> ((s: SparkSession, dir: String) =>
      outOfOrderAuditOn(loadEvents(s, dir)))
  )

  val oracle: Map[String, String] = Map(
    "dq_generation_drift" -> generationDriftOracle,
    "dq_schema_drift" -> schemaDriftOracle,
    "dq_freshness" -> freshnessOracle,
    "dq_out_of_order_audit" -> outOfOrderAuditOracle
  )
}
