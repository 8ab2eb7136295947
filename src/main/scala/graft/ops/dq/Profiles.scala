package graft.ops.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import graft.ops.corpus.Sampling

/** Distribution profiles of single columns (SURVEY.md §2.47, §2.51,
  * §2.90):
  *
  *  - `dq_outlier_fences`: Tukey-fence outlier audit per return flag —
  *    quartiles as PICKED values, fences at ±1.5·IQR, and the outlier
  *    counts beyond them. The robust alternative to z-score screens
  *    (evt_anomaly_iqr screens event VALUES; this audits the money
  *    column of the fact table). The fence quartiles follow the
  *    agg_weighted_median rule — cumulative windows read the (flag,
  *    cents) COUNT aggregate, never the raw fact table, and the 3-row
  *    fence table broadcasts back into the counting pass over the same
  *    aggregate. Every comparison is exact-integer (quartiles are
  *    picked values; fence tests multiply through by 2 so 1.5·IQR
  *    never leaves the integers).
  *
  *  - `dq_k_anonymity`: the anonymity-set size distribution over the
  *    customer quasi-identifier tuple — the governance audit the PII
  *    masking family acts on. Two chained map-side-combining
  *    aggregates; all exact integers.
  *
  *  - `dq_embedding_norms`: the L2-norm + dimension audit of the
  *    embedding table — the FIRST check before any ANN/semantic-dedup
  *    run (a mixed-dimension batch breaks every distance; zero vectors
  *    poison cosine; a drifted norm distribution flags a re-encode).
  *    Per-row sums fold left in array order on both engines
  *    (identical-input arithmetic), the norm is floored to exact
  *    micro-units per row (the nDCG summary discipline), and every
  *    aggregate — mean, population std, min/max, zero count, dimension
  *    spread — assembles from exact BIGINT/DECIMAL micro moments with
  *    one division each.
  *
  *  - `dq_hash_uniformity`: χ² uniformity audit of the 256-bucket md5
  *    split that `llm_sample_hash` keys on ([[Sampling.hashBucket]]) —
  *    the auditable guarantee behind every hash-sampled split (if the
  *    bucket histogram is skewed, every downstream sample inherits
  *    bias). χ² = (256·Σo² − n²)/n is EXACT integers until one double
  *    division; verdict vs the pinned χ²₂₅₅ 5% point 293.2478.
  *
  * Surfaced prices divide exact cents by 100 once, floor-6-dp (§1.5).
  */
object Profiles {

  // ---- dq_outlier_fences -----------------------------------------------
  // Per return flag over extendedprice (exact cents): Q1/Q3 as the
  // smallest values whose cumulative count reaches ¼ / ¾ of the rows
  // (4·cum ≥ n / 4·cum ≥ 3n — the percentile_disc pick), fences at
  // Q1 − 1.5·IQR and Q3 + 1.5·IQR tested as 2·cents < 2·Q1 − 3·IQR
  // (× 2 keeps the half-cent fence in integers), outlier counts from
  // the SAME (flag, cents) aggregate the quartiles came from.
  private[graft] def outlierFencesOn(li: DataFrame): DataFrame = {
    val grouped = li
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents"))
      .groupBy(col("l_returnflag"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    // (r19: a whole-partition-window total variant and a lazy
    // checkpoint of `grouped` were both tried and reverted — the
    // window form violates the r11 plan contract PlanSpec pins for
    // this shape, and the checkpoint measured slower than recomputing
    // the cheap aggregate per consumer.)
    val tot = grouped.groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n"))
    val wc = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fences = grouped
      .select(col("l_returnflag"), col("cents"),
        sum(col("cnt")).over(wc).as("cum"))
      .join(broadcast(tot), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") * 4 >= col("n"), col("cents"))).as("q1c"),
        min(when(col("cum") * 4 >= col("n") * 3, col("cents"))).as("q3c"),
        min(col("n")).as("n"))
    grouped.join(broadcast(fences), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(min(col("n")).as("n_rows"), min(col("q1c")).as("q1c"),
        min(col("q3c")).as("q3c"),
        sum(when(col("cents") * 2 < col("q1c") * 2 - (col("q3c") - col("q1c")) * 3,
          col("cnt")).otherwise(0L)).as("n_low_outliers"),
        sum(when(col("cents") * 2 > col("q3c") * 2 + (col("q3c") - col("q1c")) * 3,
          col("cnt")).otherwise(0L)).as("n_high_outliers"))
      .selectExpr("l_returnflag", "n_rows",
        "CAST(q1c AS DOUBLE)/100 AS q1_price",
        "CAST(q3c AS DOUBLE)/100 AS q3_price",
        "n_low_outliers", "n_high_outliers")
      .orderBy("l_returnflag")
  }

  private val outlierFencesOracle =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |tot AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n
      |        FROM g GROUP BY 1),
      |cum AS (
      |  SELECT l_returnflag, cents, cnt,
      |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM g),
      |f AS (
      |  SELECT c.l_returnflag,
      |    min(CASE WHEN cum * 4 >= n THEN cents END) AS q1c,
      |    min(CASE WHEN cum * 4 >= n * 3 THEN cents END) AS q3c,
      |    min(n) AS n
      |  FROM cum c JOIN tot USING (l_returnflag) GROUP BY 1)
      |SELECT g.l_returnflag, CAST(min(n) AS BIGINT) AS n_rows,
      |  CAST(min(q1c) AS DOUBLE)/100 AS q1_price,
      |  CAST(min(q3c) AS DOUBLE)/100 AS q3_price,
      |  CAST(sum(CASE WHEN cents * 2 < q1c * 2 - (q3c - q1c) * 3
      |    THEN cnt ELSE 0 END) AS BIGINT) AS n_low_outliers,
      |  CAST(sum(CASE WHEN cents * 2 > q3c * 2 + (q3c - q1c) * 3
      |    THEN cnt ELSE 0 END) AS BIGINT) AS n_high_outliers
      |FROM g JOIN f USING (l_returnflag)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- dq_k_anonymity --------------------------------------------------
  // Anonymity-set size distribution over the customer quasi-identifier
  // tuple (market segment, nation, 1000-unit balance band): for each
  // group size s, how many QI groups and rows sit in groups of exactly
  // that size. k-anonymity says rows in groups of size < k are
  // re-identifiable — this is the governance audit the PII family
  // (llm_pii_mask) acts on. Two chained map-side-combining aggregates
  // (QI-group count, then size histogram); all exact integers. The
  // balance band uses floor(x / 1e3): `1e3` not a bare decimal literal
  // (SURVEY §1.5 — decimal literals drag Spark into decimal division),
  // and exact-multiple boundaries divide exactly in IEEE, so the band
  // is engine-agnostic.
  private[graft] def kAnonymityOn(cust: DataFrame): DataFrame =
    cust
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal / 1e3) AS BIGINT)").as("bal_band"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("s").as("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("s")).as("n_rows"))
      .orderBy("group_size")

  private val kAnonymityOracle =
    """WITH g AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CAST(floor(c_acctbal / 1e3) AS BIGINT) AS bal_band,
      |    count(*) AS s
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT s AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(s) AS BIGINT) AS n_rows
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

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
      .select(Sampling.hashBucket(col(idCol)).as("bk"))
      .groupBy(col("bk")).agg(count(lit(1)).as("o"))
    buckets.agg(
      sum(col("o")).cast("bigint").as("n_docs"),
      sum(expr("CAST(o AS DECIMAL(38,0)) * o")).as("so2"),
      min(col("o")).as("bmin"), max(col("o")).as("bmax"))
      .selectExpr(huSelect: _*)
  }

  private val huOracle =
    s"""WITH b AS (
       |  SELECT substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 2) AS bk,
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
    "dq_outlier_fences" -> ((s: SparkSession, dir: String) =>
      outlierFencesOn(load(s, dir, "lineitem"))),
    "dq_k_anonymity" -> ((s: SparkSession, dir: String) =>
      kAnonymityOn(load(s, dir, "customer"))),
    "dq_embedding_norms" -> ((s: SparkSession, dir: String) =>
      embeddingNormsOn(load(s, dir, "embeddings"))),
    "dq_hash_uniformity" -> ((s: SparkSession, dir: String) =>
      hashUniformityOn(load(s, dir, "documents"), "doc_id"))
  )

  val oracle: Map[String, String] = Map(
    "dq_outlier_fences" -> outlierFencesOracle,
    "dq_k_anonymity" -> kAnonymityOracle,
    "dq_embedding_norms" -> enOracle,
    "dq_hash_uniformity" -> huOracle
  )
}
