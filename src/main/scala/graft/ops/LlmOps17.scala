package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.46 (round-20 additions, VERDICT r10 item 7) —
  * quality-weighted domain mixing:
  *
  *  - [[domainMixOptimize]]: `llm_domain_mix` caps every domain at
  *    the min-count (throws data away in big domains); this row
  *    solves the cap as a WATER-FILLING allocation — the largest cap
  *    whose total allocation fits a 70% corpus budget — and keeps
  *    each stratum's TOP-quality docs under [[LlmOps2.qualityFull]]
  *    weights (quality-weighted mixing, the DoReMi/online-mixing
  *    preprocessing shape). All cap arithmetic is exact int64, so
  *    both engines derive the identical allocation.
  */
object LlmOps17 {

  /** Quality-weighted domain-mixing allocation (domain = lang — the
    * skewed stratification this corpus actually has; source strata
    * are uniform by construction).
    *
    * cap = the water-filling level: the largest per-domain cap whose
    * total allocation Σ min(n_d, cap) fits the 70% corpus budget.
    * Derived in closed form over the DOMAIN-COUNT relation (|domains|
    * rows — the unpartitioned windows are bounded by the domain
    * alphabet, not the corpus): sort domains by count ascending; at
    * the first index where (budget - smaller-domains-total) div
    * remaining-domains <= n_d, that quotient is the cap. Pure int64
    * arithmetic — both engines derive the identical cap.
    *
    * Within each domain the kept docs are the top-cap by
    * (quality DESC, doc_id) under THE llm_quality_score weights
    * ([[LlmOps2.qualityFull]] — single definition, bit-identical
    * doubles cross-engine). Mean kept quality accumulates EXACT
    * micro-units (the cents discipline) and divides once at
    * presentation. Scale: one corpus pass for quality, one
    * domain-keyed top-k window, broadcast-sized cap/count tables. */
  private[graft] def domainMixOptimize(docs: DataFrame): DataFrame = {
    val q = LlmOps2.qualityFull(docs).select("doc_id", "lang", "quality")
    // Counts read ONLY the lang column (column-pruned scan) — going
    // through q here would run the whole text-parsing quality pass a
    // second time just to count rows per stratum.
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).cast("long").as("n_total"),
      count(lit(1)).as("n_src"))
    val wAsc = Window.orderBy(col("n_docs").asc, col("lang").asc)
    val cand = counts
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("pfx", sum(col("n_docs"))
        .over(wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("budget", expr("(7 * n_total) div 10"))
      .withColumn("cand",
        expr("(budget - (pfx - n_docs)) div (n_src - rn + 1)"))
    // First feasible index (cand <= n_docs) wins; if none, the budget
    // covers the whole corpus and the cap is the largest domain.
    val cap = cand.agg(
        min(when(col("cand") <= col("n_docs"),
          struct(col("rn"), col("cand")))).as("f"),
        max(col("n_docs")).as("mx"))
      .select(coalesce(col("f.cand"), col("mx")).as("cap"))
    val wTop = Window.partitionBy(col("lang"))
      .orderBy(desc("quality"), asc("doc_id"))
    q.withColumn("qr", row_number().over(wTop))
      .crossJoin(broadcast(cap))
      .filter(col("qr") <= col("cap"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("sum_q_micro"),
        sum(col("doc_id")).as("sum_kept_ids"))
      .join(broadcast(counts), "lang")
      .select(col("lang"), col("n_docs"), col("n_kept"),
        col("sum_q_micro"),
        (col("sum_q_micro").cast("double") / col("n_kept").cast("double")
          / lit(1000000.0)).as("mean_quality"),
        col("sum_kept_ids"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_domain_mix_optimize" -> ((s: SparkSession, dir: String) =>
      domainMixOptimize(load(s, dir, "documents")))
  )

  // Shared quality-formula text (the llm_quality_score oracle's
  // composite), kept in ONE string so the two oracle replicas cannot
  // drift from each other.
  private val qualitySql =
    """floor(((CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) * 0.5 +
      |  (1.0 - CAST(len(list_filter(w,
      |    t2 -> list_contains(['the', 'a', 'of', 'and'], t2))) AS DOUBLE)
      |    / CAST(len(w) AS DOUBLE)) * 0.3 +
      |  least(CAST(length(text) - (len(w) - 1) AS DOUBLE)
      |    / CAST(len(w) AS DOUBLE) / 10.0, 1.0) * 0.2
      |  ) * 1000000.0 + 0.5) / 1000000.0""".stripMargin

  val oracle: Map[String, String] = Map(
    "llm_domain_mix_optimize" ->
      s"""WITH m AS (
         |  SELECT doc_id, lang, $qualitySql AS quality
         |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w
         |        FROM documents)),
         |counts AS (SELECT lang, count(*) AS n_docs FROM m GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         |  count(*) AS n_src FROM counts),
         |rk AS (SELECT lang, n_docs,
         |    row_number() OVER (ORDER BY n_docs, lang) AS rn,
         |    sum(n_docs) OVER (ORDER BY n_docs, lang
         |      ROWS UNBOUNDED PRECEDING) AS pfx
         |  FROM counts),
         |cand AS (SELECT rk.*,
         |    ((7 * n_total) // 10 - (pfx - n_docs)) // (n_src - rn + 1) AS cand
         |  FROM rk CROSS JOIN tot),
         |cap AS (SELECT coalesce(
         |    (SELECT cand FROM cand WHERE cand <= n_docs ORDER BY rn LIMIT 1),
         |    (SELECT max(n_docs) FROM counts)) AS cap),
         |ranked AS (SELECT m.*, row_number() OVER (
         |    PARTITION BY lang ORDER BY quality DESC, doc_id) AS qr FROM m),
         |kept AS (SELECT r.lang, r.doc_id, r.quality
         |  FROM ranked r CROSS JOIN cap WHERE qr <= cap)
         |SELECT k.lang, CAST(c.n_docs AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(CAST(floor(quality * 1000000.0 + 0.5) AS BIGINT))
         |    AS BIGINT) AS sum_q_micro,
         |  CAST(sum(CAST(floor(quality * 1000000.0 + 0.5) AS BIGINT))
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
         |    AS mean_quality,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
         |FROM kept k JOIN counts c USING (lang)
         |GROUP BY k.lang, c.n_docs ORDER BY lang""".stripMargin
  )
}
