package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.58 (round-23 batch 7) — the duplication spectrum:
  *
  *  - [[dedupFamilySpectrum]]: exact-duplicate family-size spectrum —
  *    for each family size k, how many md5 families, docs, and
  *    min-keeper removals. `llm_dedup_tier_report` totals per tier;
  *    the spectrum shows the SHAPE (is duplication a few huge
  *    families or many pairs? — the number that picks the dedup
  *    strategy).
  *
  * Scale shape: two chained map-side-combining hash aggregates over
  * the md5 projection.
  *
  * Determinism: family sizes are exact integers.
  */
object Composite42 {

  // ---- llm_dedup_family_spectrum ---------------------------------------
  private[graft] def dedupFamilySpectrumOn(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size"))
      .agg(count(lit(1)).as("n_families"))
      .selectExpr("family_size", "n_families",
        "family_size * n_families AS n_docs",
        "(family_size - 1) * n_families AS n_removable")
      .orderBy("family_size")

  private def dedupFamilySpectrum(s: SparkSession, dir: String): DataFrame =
    dedupFamilySpectrumOn(load(s, dir, "documents"))

  private val dedupFamilySpectrumOracle =
    """WITH fam AS (
      |  SELECT md5(text) AS k, CAST(count(*) AS BIGINT) AS family_size
      |  FROM documents GROUP BY 1),
      |sp AS (
      |  SELECT family_size, CAST(count(*) AS BIGINT) AS n_families
      |  FROM fam GROUP BY 1)
      |SELECT family_size, n_families,
      |  family_size * n_families AS n_docs,
      |  (family_size - 1) * n_families AS n_removable
      |FROM sp ORDER BY family_size""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_family_spectrum" -> (dedupFamilySpectrum _)
  )

  val oracle: Map[String, String] = Map(
    "llm_dedup_family_spectrum" -> dedupFamilySpectrumOracle
  )
}
