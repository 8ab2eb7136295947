package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** SURVEY.md §2.17 — temperature-weighted multilingual sampling, the
  * mixing operator of this section. (Its retrieval-ranking rows, BM25
  * and reciprocal-rank fusion, are in [[retrieval.Search]].)
  *
  * Float determinism: the score is assembled from exact integer
  * counts in ONE pinned expression — the formula string is shared
  * verbatim between the Spark plan and the DuckDB oracle — and rounded
  * to 6 dp on both sides (SURVEY §1.5).
  */
object LlmOps5 {

  // ---- llm_temperature_mix -----------------------------------------
  // Temperature-weighted multilingual sampling (XLM-R, arXiv:1911.02116,
  // α = 0.3): q_l ∝ p_l^α flattens the language distribution so
  // low-resource languages are upsampled. p comes from exact counts;
  // the α-power is the only per-row float op, and the normalizing sum
  // is a LEFT FOLD over the SORTED per-language weights — a plain
  // double sum()'s accumulation order is partition-dependent, which
  // would make the one aggregate in this family probabilistic instead
  // of pinned. Formula text shared with the oracle, 6-dp rounded.
  private val pFormula = "CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)"
  private val paFormula = s"power($pFormula, 0.3)"

  private def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"))
    val pa = counts.crossJoin(broadcast(tot))
      .selectExpr("lang", "n_docs", pFormula + " AS p", paFormula + " AS pa")
    val denom = pa.agg(expr(
      "aggregate(array_sort(collect_list(pa)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    ).as("denom"))
    pa.crossJoin(broadcast(denom))
      .selectExpr("lang", "CAST(n_docs AS BIGINT) AS n_docs",
        "round(p, 6) AS p",
        "round(pa / denom, 6) AS q",
        "round((pa / denom) / p, 6) AS boost")
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_temperature_mix" -> (temperatureMix _)
  )

  val oracle: Map[String, String] = Map(
    "llm_temperature_mix" ->
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |tot AS (SELECT sum(n_docs) AS n_total FROM counts),
         |pa AS (SELECT lang, n_docs, $pFormula AS p, $paFormula AS pa
         |  FROM counts CROSS JOIN tot),
         |denom AS (SELECT list_reduce(list_sort(list(pa)),
         |  (acc, x) -> acc + x) AS denom FROM pa)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  round(p, 6) AS p,
         |  round(pa / denom, 6) AS q,
         |  round((pa / denom) / p, 6) AS boost
         |FROM pa CROSS JOIN denom ORDER BY lang""".stripMargin
  )
}
