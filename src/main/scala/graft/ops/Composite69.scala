package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.86 (round-16 batch 1) — the nonparametric post-hoc:
  *
  *  - [[dunnPosthoc]]: Dunn's test with the Holm step-down
  *    adjustment over the five order priorities — the answer to
  *    "WHICH groups differ?" after `agg_kruskal_wallis` rejects
  *    (the parametric side has `agg_tukey_hsd` after `agg_anova_f`;
  *    the rank side had nothing). All 10 pairwise z's come from the
  *    SAME doubled-rank grid the omnibus H tested
  *    (Composite51.doubledRanks — rank once, consume twice), with
  *    the tie-corrected pooled variance
  *    S² = N(N+1)/12 − Σ(t³−t)/(12(N−1)) shared with KW's tie term.
  *    Holm runs step-down on the z scale: pairs sorted by |z| desc,
  *    step l compared against the pinned two-sided normal quantile
  *    for α/(m−l+1) (α = 0.05, m = 10), and a pair is significant
  *    only while every earlier step also passed (the running min).
  *
  * Scale shapes: Dunn reduces over the distinct-value COUNT axis
  * exactly like KW (ranks never materialize per row; the pair table
  * is 10 rows by construction — the Holm windows order an alphabet,
  * not data).
  *
  * Determinism: Dunn's z assembles once from exact BIGINT rank sums
  * via identical formula text (IEEE ops in fixed order ⇒ bit-equal
  * doubles), is 12-dp rounded before the |z| ordering (id
  * tie-breaks) and 6-dp floored on surface; the Holm criticals are
  * pinned double literals.
  */
object Composite69 {

  // ---- agg_dunn_posthoc --------------------------------------------------

  /** Two-sided Holm step-down criticals Φ⁻¹(1 − 0.05/(2(10−l+1))),
    * l = 1..10, pinned so neither engine evaluates an inverse normal
    * CDF (same discipline as the χ² verdict literals). */
  private val HolmCrit = IndexedSeq(
    "2.8070337683438114", "2.772921294608662", "2.734368786533176",
    "2.690109527158866", "2.638257273476751", "2.5758293035489",
    "2.4977054744123737", "2.3939797998185104", "2.2414027276049464",
    "1.9599639845400536")

  private val critCase = (1 to 10)
    .map(l => s"WHEN $l THEN ${HolmCrit(l - 1)}")
    .mkString("CASE holm_rank ", " ", " END")

  // z = (r̄_a − r̄_b) / sqrt(S²(1/n_a + 1/n_b)) from DOUBLED rank sums
  // (r̄ = R2/(2n)); S² tie-corrected. nn+1 / 12(nn−1) stay integral
  // next to the double casts (no overflow at any plausible nn — the
  // cube that would wrap lives in tt, already an exact BIGINT sum).
  private val dunnZ =
    """((CAST(r2a AS DOUBLE)/(2*na) - CAST(r2b AS DOUBLE)/(2*nb))
      | / sqrt((CAST(nn AS DOUBLE)*(nn + 1)/12
      |   - CAST(tt AS DOUBLE)/(12*(nn - 1))) * (1.0/na + 1.0/nb)))"""
      .stripMargin

  private[graft] def dunnOn(orders: DataFrame): DataFrame = {
    val (ranked, gc) = Composite51.doubledRanks(orders)
    // r19: nn/tt are whole-relation constants riding every ranked row
    // (DistRank totals — exact BIGINTs, bit-identical to the separate
    // aggregate they replace), so the tie/total pass + its crossJoin
    // broadcast are folded into this one aggregate; the checkpoint
    // turns LAZY — the final action's self-join materializes gstats
    // once and reads the blocks twice, without the standalone
    // checkpoint job (guide §1.2).
    val gstats = gc.join(ranked, "c")
      .groupBy(col("g"))
      .agg(sum(col("gcnt")).as("n"), sum(col("gcnt") * col("r2")).as("r2s"),
        max(col("nn")).as("nn"), max(col("tt")).as("tt"))
      .localCheckpoint(false) // 5 rows, two self-join consumers
    val pairs = gstats
      .select(col("g").as("g1"), col("n").as("na"), col("r2s").as("r2a"),
        col("nn"), col("tt"))
      .join(gstats.select(col("g").as("g2"), col("n").as("nb"),
        col("r2s").as("r2b")), col("g1") < col("g2"))
      .selectExpr("g1", "g2", "na", "nb",
        "CAST(r2a AS DOUBLE)/(2*na) AS mra",
        "CAST(r2b AS DOUBLE)/(2*nb) AS mrb",
        s"$dunnZ AS z")
      .withColumn("az", expr("round(abs(z), 12)"))
    // 10-row alphabet: the global windows below order the pair
    // table, never data (the chi-square-margins class).
    val wRank = Window.orderBy(desc("az"), col("g1"), col("g2"))
    val wPrefix = Window.orderBy(col("holm_rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .withColumn("holm_rank", row_number().over(wRank).cast("int"))
      .withColumn("pass",
        expr(s"CASE WHEN az >= ($critCase) THEN 1 ELSE 0 END"))
      .withColumn("significant_holm_5pct", min(col("pass")).over(wPrefix) === 1)
      .selectExpr("g1", "g2", "na AS n1", "nb AS n2",
        "floor(mra*1e6 + 0.5)/1e6 AS mean_rank_1",
        "floor(mrb*1e6 + 0.5)/1e6 AS mean_rank_2",
        "floor(z*1e6 + 0.5)/1e6 AS z_stat",
        "holm_rank", "significant_holm_5pct")
      .orderBy("g1", "g2")
  }

  private def dunnPosthoc(s: SparkSession, dir: String): DataFrame =
    dunnOn(load(s, dir, "orders"))

  private val dunnOracle =
    s"""WITH ${Composite51.kwRankCtes},
       |gs AS (
       |  SELECT g, CAST(sum(gcnt) AS BIGINT) AS n,
       |    CAST(sum(gcnt * r2) AS BIGINT) AS r2s
       |  FROM gc JOIN ranked USING (c) GROUP BY g),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nn,
       |  CAST(sum(cnt*cnt*cnt - cnt) AS BIGINT) AS tt FROM ranked),
       |pairs AS (
       |  SELECT a.g AS g1, b.g AS g2, a.n AS na, b.n AS nb,
       |    a.r2s AS r2a, b.r2s AS r2b
       |  FROM gs a JOIN gs b ON a.g < b.g),
       |z AS (
       |  SELECT g1, g2, na, nb,
       |    CAST(r2a AS DOUBLE)/(2*na) AS mra,
       |    CAST(r2b AS DOUBLE)/(2*nb) AS mrb,
       |    $dunnZ AS z
       |  FROM pairs CROSS JOIN tot),
       |h AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY az DESC, g1, g2)
       |    AS INT) AS holm_rank
       |  FROM (SELECT *, round(abs(z), 12) AS az FROM z)),
       |p AS (
       |  SELECT *, CASE WHEN az >= ($critCase) THEN 1 ELSE 0 END AS pass
       |  FROM h),
       |f AS (
       |  SELECT *, min(pass) OVER (ORDER BY holm_rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       |    AS significant_holm_5pct
       |  FROM p)
       |SELECT g1, g2, na AS n1, nb AS n2,
       |  floor(mra*1e6 + 0.5)/1e6 AS mean_rank_1,
       |  floor(mrb*1e6 + 0.5)/1e6 AS mean_rank_2,
       |  floor(z*1e6 + 0.5)/1e6 AS z_stat,
       |  holm_rank, significant_holm_5pct
       |FROM f ORDER BY g1, g2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_dunn_posthoc" -> (dunnPosthoc _)
  )

  val oracle: Map[String, String] = Map(
    "agg_dunn_posthoc" -> dunnOracle
  )
}
