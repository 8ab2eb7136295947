package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.90 (round-18 batch 4) — pipeline data-quality
  * audits. (The batch's Buishand range change-point statistic is in
  * [[timeseries.Stationarity]].)
  *
  *  - `dq_embedding_norms`: the L2-norm + dimension audit of the
  *    embedding table — the FIRST check before any ANN/semantic-dedup
  *    run (a mixed-dimension batch breaks every distance; zero
  *    vectors poison cosine; a drifted norm distribution flags a
  *    re-encode). Per-row sums fold left in array order on both
  *    engines (identical-input arithmetic), the norm is floored to
  *    exact micro-units per row (the nDCG summary discipline), and
  *    every aggregate — mean, population std, min/max, zero count,
  *    dimension spread — assembles from exact BIGINT/DECIMAL micro
  *    moments with one division each.
  *  - `dq_hash_uniformity`: χ² uniformity audit of the 256-bucket
  *    md5 split that `llm_sample_hash` keys on — the auditable
  *    guarantee behind every hash-sampled split (if the bucket
  *    histogram is skewed, every downstream sample inherits bias).
  *    χ² = (256·Σo² − n²)/n is EXACT integers until one double
  *    division; verdict vs the pinned χ²₂₅₅ 5% point 293.2478.
  */
object Composite84 {

  // ---- dq_embedding_norms --------------------------------------------
  private val enSelect = Seq("n_vectors", "n_dims_distinct",
    "dim_min", "dim_max", "n_zero",
    "round(CAST(sm AS DOUBLE)/nullif(CAST(n_vectors AS DOUBLE), 0)/1e6, 6) AS mean_norm",
    """round(sqrt(greatest(0.0E0,
      |  (CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE)*CAST(sm AS DOUBLE)
      |     /nullif(CAST(n_vectors AS DOUBLE), 0))
      |  /nullif(CAST(n_vectors AS DOUBLE), 0)))/1e6, 6) AS std_norm""".stripMargin,
    "CAST(mmin AS DOUBLE)/1e6 AS min_norm",
    "CAST(mmax AS DOUBLE)/1e6 AS max_norm")

  private[graft] def embeddingNormsOn(vectors: DataFrame): DataFrame = {
    val per = vectors.select(
      size(col("embedding")).cast("bigint").as("dim"),
      expr("""CAST(floor(sqrt(aggregate(embedding, CAST(0 AS DOUBLE),
          |  (acc, v) -> acc + CAST(v AS DOUBLE)*CAST(v AS DOUBLE)))*1e6 + 0.5)
          | AS BIGINT)""".stripMargin).as("m"))
    per.agg(
      count(lit(1)).as("n_vectors"),
      countDistinct(col("dim")).as("n_dims_distinct"),
      min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
      sum((col("m") === 0L).cast("long")).cast("bigint").as("n_zero"),
      sum(expr("CAST(m AS DECIMAL(38,0))")).as("sm"),
      sum(expr("CAST(m AS DECIMAL(38,0)) * m")).as("smm"),
      min(col("m")).as("mmin"), max(col("m")).as("mmax"))
      .selectExpr(enSelect: _*)
  }

  private def embeddingNorms(s: SparkSession, dir: String): DataFrame =
    embeddingNormsOn(load(s, dir, "embeddings"))

  private val enOracle =
    s"""WITH per AS (
       |  SELECT CAST(len(embedding) AS BIGINT) AS dim,
       |    CAST(floor(sqrt(list_sum(list_transform(embedding,
       |      v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))*1e6 + 0.5)
       |     AS BIGINT) AS m
       |  FROM embeddings),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |    CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_distinct,
       |    min(dim) AS dim_min, max(dim) AS dim_max,
       |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |    sum(CAST(m AS DECIMAL(38,0))) AS sm,
       |    sum(CAST(m AS DECIMAL(38,0)) * m) AS smm,
       |    min(m) AS mmin, max(m) AS mmax
       |  FROM per)
       |SELECT ${enSelect.mkString(",\n  ")}
       |FROM g""".stripMargin

  // ---- dq_hash_uniformity ---------------------------------------------
  private val huChi2 =
    """(CAST(256*so2 - CAST(n_docs AS DECIMAL(38,0))*n_docs AS DOUBLE)
      |  / nullif(CAST(n_docs AS DOUBLE), 0))""".stripMargin
  private val huSelect = Seq("n_docs", "CAST(256 AS BIGINT) AS n_buckets",
    "bmin AS min_bucket", "bmax AS max_bucket",
    s"floor(($huChi2)*1e6 + 0.5)/1e6 AS chi2",
    s"(($huChi2) < 293.2478E0) AS uniform_ok_5pct")

  private[graft] def hashUniformityOn(docs: DataFrame, idCol: String): DataFrame = {
    val buckets = docs
      .select(expr(s"substr(md5(CAST($idCol AS STRING)), 1, 2)").as("bk"))
      .groupBy(col("bk")).agg(count(lit(1)).as("o"))
    buckets.agg(
      sum(col("o")).cast("bigint").as("n_docs"),
      sum(expr("CAST(o AS DECIMAL(38,0)) * o")).as("so2"),
      min(col("o")).as("bmin"), max(col("o")).as("bmax"))
      .selectExpr(huSelect: _*)
  }

  private def hashUniformity(s: SparkSession, dir: String): DataFrame =
    hashUniformityOn(load(s, dir, "documents"), "doc_id")

  private val huOracle =
    s"""WITH b AS (
       |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bk,
       |    CAST(count(*) AS BIGINT) AS o
       |  FROM documents GROUP BY 1),
       |g AS (
       |  SELECT CAST(sum(o) AS BIGINT) AS n_docs,
       |    sum(CAST(o AS DECIMAL(38,0)) * o) AS so2,
       |    min(o) AS bmin, max(o) AS bmax
       |  FROM b)
       |SELECT ${huSelect.mkString(",\n  ")}
       |FROM g""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_embedding_norms" -> (embeddingNorms _),
    "dq_hash_uniformity" -> (hashUniformity _)
  )

  val oracle: Map[String, String] = Map(
    "dq_embedding_norms" -> enOracle,
    "dq_hash_uniformity" -> huOracle
  )
}
