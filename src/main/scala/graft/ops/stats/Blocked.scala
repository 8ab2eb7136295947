package graft.ops.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import Samples._

/** Paired and block-design tests — each subject is its own control:
  *
  *  - `agg_wilcoxon_signed_rank`: Wilcoxon signed-rank over
  *    per-customer spend paired across 1996 vs 1997 — "did the SAME
  *    customers shift?", the within-subject question Mann-Whitney's
  *    independent pooling cannot answer. Zero differences drop, the
  *    normal approximation carries the exact tie correction, no
  *    continuity correction (documented, mirrored in the oracle).
  *  - `agg_sign_test`: the paired sign test on the SAME pairs — only
  *    the sign of each difference counts, valid when even the symmetry
  *    assumption behind Wilcoxon fails; z = (2k − n)/√n, no continuity
  *    correction.
  *  - `agg_mcnemar_test`: McNemar's test on the paired binary outcome
  *    "customer's year spend exceeds $500k" over the same customer
  *    pairing — only the discordant pairs carry information:
  *    χ² = (b − c)²/(b + c) against χ²₁ 5% = 3.841459, no continuity
  *    correction.
  *  - `agg_cochran_q`: Cochran's Q on the paired binary "year spend >
  *    $300k" flag across 1995/1996/1997 — the k-treatment
  *    generalization of McNemar: blocks are customers ordering in ALL
  *    three years, Q = k(k−1)·Σ(C_j − T/k)² / (k·T − ΣR_i²) against
  *    χ²₂ 5% = 5.991465.
  *  - `agg_friedman_test`: Friedman's χ² over (year, month) blocks ×
  *    the five order priorities on monthly spend — the paired k-group
  *    complement of Kruskal-Wallis (priorities are ranked WITHIN a
  *    month, so secular drift across months never pollutes the
  *    comparison); `agg_kendalls_w` is its effect size and
  *    `agg_page_trend_test` its ordered alternative, all three grading
  *    the same rank sums.
  *  - `agg_quade_test`: Quade's weighted Friedman — blocks weighted by
  *    their revenue RANGE rank, so months with large spreads dominate.
  *  - `agg_cronbach_icc`: Cronbach's α and the one-way intraclass
  *    correlation ICC(1,1) over the day × event-type count matrix
  *    (days = subjects, the 5 event types = items/raters).
  *
  * Scale shapes: the customer pairings are one customer-keyed
  * conditional aggregate; Wilcoxon then ranks on the DISTINCT |d|
  * axis, which is entity-sized, so `below` comes from
  * [[graft.util.DistRank.globalPrefixSum]]'s distributed prefix sum,
  * never a single-partition window. The block designs run over the
  * (month × priority) cell aggregate — a time-horizon-bounded axis —
  * with windows partitioned by block (k = 5 rows each); Cronbach
  * pivots day × 5 event types in one hash aggregate.
  *
  * Determinism: doubled average ranks are exact BIGINTs (2·r̄ =
  * 2·below + cnt + 1; in-block 2·r = 2·(rank−1) + t + 1); O(n²) sums
  * accumulate in DECIMAL(38,0) (§1.5 r9) with the oracle's VARCHAR
  * routing (§1.5 r7); tie terms and cells are exact BIGINTs; every
  * statistic assembles once from identical formula text with every
  * n-degree product widened to DOUBLE before multiplying; verdicts
  * compare after the 6-dp floor.
  */
object Blocked {

  // ---- the 1996/1997 customer pairing -----------------------------------
  private val Y1 = 1996
  private val Y2 = 1997

  /** Customers ordering in both years: per customer c the year spends
    * s1/s2 and order counts c1/c2, in exact cents. */
  private def yearPairs(orders: DataFrame): DataFrame = {
    val yr = year(col("o_orderdate").cast("date"))
    orders
      .filter(yr.isin(Y1, Y2))
      .select(col("o_custkey").as("c"), yr.as("y"),
        cents(col("o_totalprice")).as("v"))
      .groupBy(col("c"))
      .agg(sum(when(col("y") === Y1, col("v")).otherwise(0L)).as("s1"),
        sum(when(col("y") === Y1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("y") === Y2, col("v")).otherwise(0L)).as("s2"),
        sum(when(col("y") === Y2, 1L).otherwise(0L)).as("c2"))
      .filter(col("c1") > 0 && col("c2") > 0)
  }

  /** The oracle twin of [[yearPairs]] before the both-years filter:
    * CTE prefix ending with the per-customer relation `p`. */
  private val yearPairsSql =
    s"""WITH o AS (
       |  SELECT o_custkey AS c, year(CAST(o_orderdate AS DATE)) AS y,
       |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) AS v
       |  FROM orders
       |  WHERE year(CAST(o_orderdate AS DATE)) IN ($Y1, $Y2)),
       |p AS (
       |  SELECT c,
       |    CAST(sum(CASE WHEN y = $Y1 THEN v ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN y = $Y1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN y = $Y2 THEN v ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN y = $Y2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM o GROUP BY 1)""".stripMargin

  /** Per-customer nonzero spend differences across the paired years
    * — shared by the signed-rank and sign tests (identical pairing,
    * so the two verdicts are comparable). */
  private def pairedDiffs(orders: DataFrame): DataFrame =
    yearPairs(orders)
      .select((col("s2") - col("s1")).as("d"))
      .filter(col("d") =!= 0L)

  /** The oracle twin of [[pairedDiffs]] — ends with a `d(d)` relation. */
  private val pairedDiffsSql =
    s"""$yearPairsSql,
       |d AS (
       |  SELECT s2 - s1 AS d FROM p
       |  WHERE c1 > 0 AND c2 > 0 AND s2 - s1 <> 0)""".stripMargin

  // ---- agg_wilcoxon_signed_rank -----------------------------------------
  // z = (2W⁺ − n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 − Σ(t³−t)/12), the
  // doubled-rank form of the usual W⁺ approximation (doubling W and
  // its mean/sd leaves z unchanged; 12/48 become 6/12).
  private val wxZ =
    """((w2p - CAST(n AS DOUBLE)*(n + 1)/2)
      | / nullif(sqrt(CAST(n AS DOUBLE)*(n + 1)*(2*n + 1)/6
      |   - CAST(tt AS DOUBLE)/12), 0))""".stripMargin
  private val wxZF = r6(wxZ)

  private[graft] def wilcoxonOn(orders: DataFrame): DataFrame = {
    val pairs = pairedDiffs(orders)
    val vc = pairs.groupBy(abs(col("d")).as("a"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pcnt"))
    val ranked = graft.util.DistRank
      .globalPrefixSum(vc, "below", col("a"), col("cnt"))
      .select(col("cnt"), col("pcnt"),
        (lit(2L) * col("below") + col("cnt") + 1L).as("r2"))
    ranked.groupBy()
      .agg(sum(col("cnt")).as("n"),
        sum(expr("CAST(pcnt AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0))"))
          .cast("double").as("w2p"),
        // Cube in DECIMAL before multiplying: a BIGINT cnt³ wraps
        // silently in Spark (ANSI off) but raises in DuckDB once a
        // tie group exceeds ~2.09e6 rows. DECIMAL(19,0)·cnt·cnt stays
        // exact through the capped DECIMAL(38,0); the z formula casts
        // once to DOUBLE.
        sum(expr("CAST(cnt AS DECIMAL(19,0)) * cnt * cnt - cnt")).as("tt"))
      .selectExpr("n AS n_pairs",
        "w2p/2 AS w_plus",
        "CAST(n AS DOUBLE)*(n + 1)/2 - w2p/2 AS w_minus",
        s"$wxZF AS z_stat",
        s"(abs($wxZF) > 1.959964) AS reject_location_shift_5pct")
  }

  private def wilcoxonSignedRank(s: SparkSession, dir: String): DataFrame =
    wilcoxonOn(load(s, dir, "orders"))

  private val wilcoxonOracle =
    s"""$pairedDiffsSql,
       |vc AS (
       |  SELECT abs(d) AS a, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pcnt
       |  FROM d GROUP BY 1),
       |r AS (
       |  SELECT cnt, pcnt,
       |    2*(CAST(sum(cnt) OVER (ORDER BY a
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - cnt) + cnt + 1 AS r2
       |  FROM vc),
       |g AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |    CAST(CAST(sum(CAST(pcnt AS DECIMAL(19,0))
       |      * CAST(r2 AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS w2p,
       |    CAST(CAST(sum(CAST(cnt AS DECIMAL(19,0))*cnt*cnt - cnt)
       |      AS VARCHAR) AS DOUBLE) AS tt
       |  FROM r)
       |SELECT n AS n_pairs,
       |  w2p/2 AS w_plus,
       |  CAST(n AS DOUBLE)*(n + 1)/2 - w2p/2 AS w_minus,
       |  $wxZF AS z_stat,
       |  (abs($wxZF) > 1.959964) AS reject_location_shift_5pct
       |FROM g""".stripMargin

  // ---- agg_sign_test -----------------------------------------------------
  private val sgZ = "((2*CAST(k AS DOUBLE) - n) / nullif(sqrt(CAST(n AS DOUBLE)), 0))"
  private val sgZF = r6(sgZ)

  private[graft] def signTestOn(orders: DataFrame): DataFrame =
    pairedDiffs(orders)
      .groupBy()
      .agg(count(lit(1)).as("n"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("k"))
      .selectExpr("n AS n_pairs", "k AS n_positive",
        s"$sgZF AS z_stat",
        s"(abs($sgZF) > 1.959964) AS reject_no_shift_5pct")

  private def signTest(s: SparkSession, dir: String): DataFrame =
    signTestOn(load(s, dir, "orders"))

  private val signTestOracle =
    s"""$pairedDiffsSql,
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM d)
       |SELECT n AS n_pairs, k AS n_positive,
       |  $sgZF AS z_stat,
       |  (abs($sgZF) > 1.959964) AS reject_no_shift_5pct
       |FROM g""".stripMargin

  // ---- agg_mcnemar_test ----------------------------------------------------
  private val McThresholdCents = 50000000L // $500k year spend

  private val mcChi =
    """((CAST(b AS DOUBLE) - c)*(CAST(b AS DOUBLE) - c)
      | / nullif(CAST(b AS DOUBLE) + c, 0))""".stripMargin
  private val mcChiF = r6(mcChi)

  private[graft] def mcnemarOn(orders: DataFrame): DataFrame =
    yearPairs(orders)
      .select((col("s1") > McThresholdCents).as("f1"),
        (col("s2") > McThresholdCents).as("f2"))
      .groupBy()
      .agg(count(lit(1)).as("n"),
        sum(when(col("f1") && !col("f2"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("f1") && col("f2"), 1L).otherwise(0L)).as("c"))
      .selectExpr("n AS n_pairs", "b AS n_high_to_low", "c AS n_low_to_high",
        s"$mcChiF AS mcnemar_chi2",
        s"($mcChiF > 3.841459) AS reject_marginal_homogeneity_5pct")

  private def mcnemarTest(s: SparkSession, dir: String): DataFrame =
    mcnemarOn(load(s, dir, "orders"))

  private val mcnemarOracle =
    s"""$yearPairsSql,
       |f AS (
       |  SELECT s1 > $McThresholdCents AS f1, s2 > $McThresholdCents AS f2
       |  FROM p WHERE c1 > 0 AND c2 > 0),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN f1 AND NOT f2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS b,
       |    CAST(sum(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c
       |  FROM f)
       |SELECT n AS n_pairs, b AS n_high_to_low, c AS n_low_to_high,
       |  $mcChiF AS mcnemar_chi2,
       |  ($mcChiF > 3.841459) AS reject_marginal_homogeneity_5pct
       |FROM g""".stripMargin

  // ---- agg_cochran_q ------------------------------------------------------
  // One (customer, year) spend aggregate → a 6-conditional-column
  // per-customer pivot (complete blocks filtered by exact presence
  // counts) → ONE global 6-moment aggregate; every input an exact
  // BIGINT (R ≤ 3 so the square stays tiny).
  private val CqYears = Seq(1995, 1996, 1997)
  private val CqThresholdCents = 30000000L // $300k yearly spend

  private val cqPivot: Seq[String] =
    CqYears.map(y =>
      s"CAST(sum(CASE WHEN y = $y THEN 1 ELSE 0 END) AS BIGINT) AS k$y") ++
    CqYears.map(y =>
      s"CAST(sum(CASE WHEN y = $y AND s > $CqThresholdCents THEN 1 ELSE 0 END)" +
        s" AS BIGINT) AS x$y")
  private val cqComplete =
    CqYears.map(y => s"k$y = 1").mkString(" AND ")

  // Q for k = 3 in integer-friendly form:
  //   k(k−1)(ΣC² − T²/k) / (kT − ΣR²) = 2(3ΣC² − T²)/(3T − ΣR²).
  private val cqQ =
    """(2*(3*(CAST(c1 AS DOUBLE)*c1 + CAST(c2 AS DOUBLE)*c2
      |  + CAST(c3 AS DOUBLE)*c3) - CAST(t AS DOUBLE)*t)
      |  / nullif(3*CAST(t AS DOUBLE) - rr, 0))""".stripMargin
  private val cqQF = r6(cqQ)
  private val cqFinal: Seq[String] = Seq(
    "n AS n_blocks", "c1 AS n_hi_1995", "c2 AS n_hi_1996",
    "c3 AS n_hi_1997",
    s"$cqQF AS q_stat",
    s"($cqQF > 5.991465) AS reject_equal_proportions_5pct")

  private[graft] def cochranQOn(orders: DataFrame): DataFrame = {
    val cy = orders
      .select(col("o_custkey").as("c"),
        year(to_date(col("o_orderdate"))).as("y"),
        cents(col("o_totalprice")).as("v"))
      .filter(col("y").isin(CqYears: _*))
      .groupBy(col("c"), col("y"))
      .agg(sum(col("v")).as("s"))
    cy.groupBy(col("c"))
      .agg(cqPivot.map(expr).head, cqPivot.map(expr).tail: _*)
      .filter(expr(cqComplete))
      .selectExpr("x1995", "x1996", "x1997",
        "x1995 + x1996 + x1997 AS r")
      .groupBy()
      .agg(count(lit(1)).as("n"),
        sum(col("x1995")).as("c1"), sum(col("x1996")).as("c2"),
        sum(col("x1997")).as("c3"),
        sum(col("r")).as("t"), sum(col("r") * col("r")).as("rr"))
      .selectExpr(cqFinal: _*)
  }

  private def cochranQ(s: SparkSession, dir: String): DataFrame =
    cochranQOn(load(s, dir, "orders"))

  private val cochranQOracle =
    s"""WITH cy AS (
       |  SELECT o_custkey AS c, year(CAST(o_orderdate AS DATE)) AS y,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS BIGINT) AS s
       |  FROM orders
       |  WHERE year(CAST(o_orderdate AS DATE)) IN (${CqYears.mkString(", ")})
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT c,
       |    ${cqPivot.mkString(",\n    ")}
       |  FROM cy GROUP BY 1),
       |b AS (
       |  SELECT x1995, x1996, x1997, x1995 + x1996 + x1997 AS r
       |  FROM p WHERE $cqComplete),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x1995) AS BIGINT) AS c1,
       |    CAST(sum(x1996) AS BIGINT) AS c2,
       |    CAST(sum(x1997) AS BIGINT) AS c3,
       |    CAST(sum(r) AS BIGINT) AS t, CAST(sum(r*r) AS BIGINT) AS rr
       |  FROM b)
       |SELECT ${cqFinal.mkString(",\n  ")}
       |FROM g""".stripMargin

  // ---- the (month × priority) block design ---------------------------------
  private val K = Priorities.size

  /** (b, g, s): per (year·100 + month) block and priority, the total
    * spend in exact cents. A block enters a test only when every
    * treatment is present (k rows). */
  private def monthCells(orders: DataFrame): DataFrame =
    orders
      .select((year(col("o_orderdate").cast("date")) * 100 +
          month(col("o_orderdate").cast("date"))).as("b"),
        col("o_orderpriority").as("g"),
        cents(col("o_totalprice")).as("v"))
      .groupBy(col("b"), col("g")).agg(sum(col("v")).as("s"))

  /** The blocks of `cell` in which every treatment is present. */
  private def completeBlocks(cell: DataFrame): DataFrame =
    cell
      .withColumn("kk", count(lit(1)).over(Window.partitionBy(col("b"))))
      .filter(col("kk") === K)

  /** In-block ranks of the complete blocks: rk = rank() = 1 + |strictly
    * smaller|, t the tie width, so the doubled average rank
    * 2·(rk − 1) + t + 1 is an exact BIGINT. All windows are
    * block-partitioned (≤ k rows each). */
  private def blockRanks(cell: DataFrame): DataFrame =
    completeBlocks(cell)
      .withColumn("rk", rank().over(
        Window.partitionBy(col("b")).orderBy(col("s"))).cast("long"))
      .withColumn("t", count(lit(1)).over(
        Window.partitionBy(col("b"), col("s"))))

  /** The oracle twin of [[monthCells]] plus the in-block rank columns
    * (kk, rk, t): CTE prefix ending with `full_b`. */
  private val monthCellsSql =
    """WITH cell AS (
      |  SELECT year(CAST(o_orderdate AS DATE))*100
      |      + month(CAST(o_orderdate AS DATE)) AS b,
      |    o_orderpriority AS g,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS BIGINT) AS s
      |  FROM orders GROUP BY 1, 2),
      |full_b AS (
      |  SELECT b, g, s,
      |    CAST(count(*) OVER (PARTITION BY b) AS BIGINT) AS kk,
      |    CAST(rank() OVER (PARTITION BY b ORDER BY s) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY b, s) AS BIGINT) AS t
      |  FROM cell)""".stripMargin

  // ---- agg_friedman_test / agg_kendalls_w ----------------------------------
  // Q = 12/(n·k(k+1))·Σ R_j² − 3n(k+1) in the doubled-rank form
  // (R2 = 2R ⇒ 12/4 = 3); tie-corrected Q' = Q / (1 − Σ(t³−t)/(n·k·(k²−1))).
  private val frQ =
    s"""((3*(${(0 until K).map(i =>
        s"CAST(r$i AS DOUBLE)*r$i").mkString(" + ")}))
       | / (CAST(n AS DOUBLE)*$K*(${K + 1}))
       | - 3*CAST(n AS DOUBLE)*(${K + 1}))""".stripMargin
  private val frQcRaw =
    s"($frQ / nullif(1 - CAST(tt AS DOUBLE)/(CAST(n AS DOUBLE)*$K*(${K * K - 1})), 0))"
  private val frQc = r6(frQcRaw)
  // Kendall's W (coefficient of concordance), tie-corrected Siegel
  // form: W = χ²_F/(n(k−1)) — algebraically exact for the
  // tie-corrected Q' too (both corrections divide the same ΣT term),
  // so W reuses the rank sums Friedman already computed; one
  // shared-text division.
  private val frW =
    r6(s"($frQcRaw) / nullif(CAST(n AS DOUBLE)*(${K - 1}), 0)")

  /** Shared rank-sum moments (doubled per-block ranks r0..r4, block
    * count n, tie term tt) — one pass feeding `agg_friedman_test`,
    * `agg_kendalls_w` and `agg_page_trend_test`. */
  private[graft] def frMomentsOn(orders: DataFrame): DataFrame = {
    val ranked = blockRanks(monthCells(orders))
      .select(col("b"), col("g"),
        (lit(2L) * (col("rk") - 1L) + col("t") + 1L).as("r2"),
        // Σ_b Σ_v (t³−t) unrolled per ROW: each (b, v) tie group of
        // width t contributes t³−t once == t²−1 from each of its t
        // rows. t ≤ k, so the cube is exact without widening.
        (col("t") * col("t") - 1L).as("tterm"))
    val aggs =
      Priorities.zipWithIndex.map { case (p, i) =>
        sum(when(col("g") === p, col("r2")).otherwise(0L)).as(s"r$i") } ++
      Seq((count(lit(1)) / K).cast("long").as("n"),
        sum(col("tterm")).as("tt"))
    ranked.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  private[graft] def friedmanOn(orders: DataFrame): DataFrame =
    frMomentsOn(orders)
      .selectExpr("n AS n_blocks", s"CAST($K AS BIGINT) AS k",
        s"$frQc AS q_stat",
        s"($frQc > 9.487729) AS reject_equal_treatments_5pct")

  /** Kendall's W over the same monthly-block × priority design —
    * the EFFECT SIZE beside the Friedman verdict (how strongly the
    * blocks agree on the treatment ordering, 0 = none, 1 = perfect). */
  private[graft] def kendallsWOn(orders: DataFrame): DataFrame =
    frMomentsOn(orders)
      .selectExpr("n AS n_blocks", s"CAST($K AS BIGINT) AS k",
        s"$frQc AS q_stat",
        s"$frW AS kendalls_w")

  private def friedmanTest(s: SparkSession, dir: String): DataFrame =
    friedmanOn(load(s, dir, "orders"))

  private def kendallsW(s: SparkSession, dir: String): DataFrame =
    kendallsWOn(load(s, dir, "orders"))

  // Shared CTE text through the rank-sum moments `g` — the Friedman
  // verdict, Kendall's W, and the Page trend test all grade the SAME
  // rank sums.
  private val friedmanOracleCore = {
    val aggDefs = Priorities.zipWithIndex.map { case (p, i) =>
      s"CAST(sum(CASE WHEN g = '$p' THEN r2 ELSE 0 END) AS BIGINT) AS r$i"
    }.mkString(",\n    ")
    s"""$monthCellsSql,
       |ranked AS (
       |  SELECT b, g, 2*(rk - 1) + t + 1 AS r2, t*t - 1 AS tterm
       |  FROM full_b WHERE kk = $K),
       |g AS (
       |  SELECT
       |    $aggDefs,
       |    CAST(count(*) / $K AS BIGINT) AS n,
       |    CAST(sum(tterm) AS BIGINT) AS tt
       |  FROM ranked)
       |""".stripMargin
  }

  private val friedmanOracle =
    s"""${friedmanOracleCore}SELECT n AS n_blocks, CAST($K AS BIGINT) AS k,
       |  $frQc AS q_stat,
       |  ($frQc > 9.487729) AS reject_equal_treatments_5pct
       |FROM g""".stripMargin

  private val kendallsWOracle =
    s"""${friedmanOracleCore}SELECT n AS n_blocks, CAST($K AS BIGINT) AS k,
       |  $frQc AS q_stat,
       |  $frW AS kendalls_w
       |FROM g""".stripMargin

  // ---- agg_page_trend_test -----------------------------------------
  // Page's L: does revenue rank rise MONOTONICALLY with the priority
  // order? L = Σ_j j·R_j; doubled rank sums r0..r4 make L2 = Σ j·r_j
  // exact BIGINT and L = L2/2 an exact half. Large-sample
  // z = (L − n·k(k+1)²/4)/sqrt(n·k²(k−1)(k+1)²/144) — for k = 5:
  // (L − 45n)/(5√n). Midranks for ties make the variance the standard
  // approximation (documented; exact inputs either way). One-sided by
  // construction: both directional 5% flags surface against the
  // pinned 1.644854.
  private val pageZ =
    """((CAST(l2 AS DOUBLE)/2.0E0 - 45.0E0*CAST(n AS DOUBLE))
      |  / nullif(5.0E0*sqrt(CAST(n AS DOUBLE)), 0))""".stripMargin
  private val pageSelect = Seq("n AS n_blocks",
    s"CAST($K AS BIGINT) AS k",
    "CAST(l2 AS DOUBLE)/2.0E0 AS page_l",
    s"${r6(pageZ)} AS z_stat",
    s"($pageZ > 1.644854E0) AS increasing_trend_5pct",
    s"($pageZ < -1.644854E0) AS decreasing_trend_5pct")
  private val pageL2 = "1*r0 + 2*r1 + 3*r2 + 4*r3 + 5*r4"

  private[graft] def pageTrendOn(orders: DataFrame): DataFrame =
    frMomentsOn(orders)
      .selectExpr("n", s"CAST($pageL2 AS BIGINT) AS l2")
      .selectExpr(pageSelect: _*)

  private def pageTrend(s: SparkSession, dir: String): DataFrame =
    pageTrendOn(load(s, dir, "orders"))

  private val pageOracle =
    s"""${friedmanOracleCore}SELECT ${pageSelect.mkString(",\n  ")}
       |FROM (SELECT n, CAST($pageL2 AS BIGINT) AS l2 FROM g) t""".stripMargin

  // ---- agg_quade_test ----------------------------------------------
  // Doubled units throughout: r2 = doubled within-block midrank
  // (center (k+1)/2 doubles to k+1 = 6), q2 = doubled range rank, so
  // snum = q2·(r2 − 6) = 4·S_ij exactly. A = Σ S², B = (1/n)Σ_j S_j²
  // ⇒ F = (n−1)B/(A−B) = (n−1)·B_num/(n·A_num − B_num) with
  // A_num = Σ snum², B_num = Σ_j (Σ_i snum)² — all exact (products
  // in DECIMAL per the kwHc rule), ONE double division. df2 =
  // (n−1)(k−1) varies with the data, so no pinned critical value
  // exists — the row surfaces (F, df1, df2) and the A = B degenerate
  // (perfect concordance) NULLs via nullif on both engines.
  private val quadeF =
    """((CAST(n AS DOUBLE) - 1.0E0)*CAST(bn AS DOUBLE)
      |  / nullif(CAST(an*n - bn AS DOUBLE), 0))""".stripMargin
  private val quadeSelect = Seq("n AS n_blocks",
    s"CAST($K AS BIGINT) AS k",
    s"${r6(quadeF)} AS f_stat",
    s"CAST(${K - 1} AS BIGINT) AS df1",
    s"CAST((n - 1)*${K - 1} AS BIGINT) AS df2")

  private[graft] def quadeOn(orders: DataFrame): DataFrame = {
    val cell = monthCells(orders)
      .localCheckpoint(false) // feeds the rank pass AND the range pass
    val ranked = blockRanks(cell)
      .select(col("b"), col("g"),
        (lit(2L) * (col("rk") - 1L) + col("t") + 1L).as("r2"))
    // Blocks = months: a TIME-HORIZON-bounded axis (the
    // win_mann_kendall justification), so the range-rank windows over
    // the ≤|months|-row table are bounded, never entity-sized.
    val rng = completeBlocks(cell)
      .groupBy(col("b")).agg((max(col("s")) - min(col("s"))).as("d"))
    val q = rng
      .withColumn("qrk", rank().over(Window.orderBy(col("d"))).cast("long"))
      .withColumn("qt", count(lit(1)).over(Window.partitionBy(col("d"))))
      .select(col("b"),
        (lit(2L) * (col("qrk") - 1L) + col("qt") + 1L).as("q2"))
    val sn = ranked.join(q, "b")
      .select(col("g"), (col("q2") * (col("r2") - lit(K.toLong + 1L))).as("snum"))
      .localCheckpoint(false) // feeds both moment aggregates
    val a1 = sn.agg(
      sum(expr("CAST(snum AS DECIMAL(38,0)) * snum")).as("an"),
      (count(lit(1)) / K).cast("long").as("n"))
    val b1 = sn.groupBy(col("g"))
      .agg(sum(col("snum")).cast("bigint").as("sjn"))
      .agg(sum(expr("CAST(sjn AS DECIMAL(38,0)) * sjn")).as("bn"))
    a1.crossJoin(b1).selectExpr(quadeSelect: _*)
  }

  private def quadeTest(s: SparkSession, dir: String): DataFrame =
    quadeOn(load(s, dir, "orders"))

  private val quadeOracle =
    s"""$monthCellsSql,
       |ranked AS (
       |  SELECT b, g, 2*(rk - 1) + t + 1 AS r2
       |  FROM full_b WHERE kk = $K),
       |rng AS (
       |  SELECT b, max(s) - min(s) AS d
       |  FROM full_b WHERE kk = $K GROUP BY b),
       |q AS (
       |  SELECT b, 2*(CAST(rank() OVER (ORDER BY d) AS BIGINT) - 1)
       |    + CAST(count(*) OVER (PARTITION BY d) AS BIGINT) + 1 AS q2
       |  FROM rng),
       |sn AS (
       |  SELECT r.g, q.q2*(r.r2 - ${K + 1}) AS snum
       |  FROM ranked r JOIN q ON r.b = q.b),
       |a1 AS (
       |  SELECT sum(CAST(snum AS DECIMAL(38,0))*snum) AS an,
       |    CAST(count(*)/$K AS BIGINT) AS n
       |  FROM sn),
       |perg AS (SELECT g, CAST(sum(snum) AS BIGINT) AS sjn FROM sn GROUP BY g),
       |b1 AS (SELECT sum(CAST(sjn AS DECIMAL(38,0))*sjn) AS bn FROM perg)
       |SELECT ${quadeSelect.mkString(",\n  ")}
       |FROM a1 CROSS JOIN b1""".stripMargin

  // ---- agg_cronbach_icc ------------------------------------------------
  // α = k/(k−1)·(1 − ΣVᵢ/V_tot) computed from the SCALED exact
  // variances Vᵢ = n·Σx² − (Σx)² — the n(n−1) denominators cancel, so
  // α is exact-integer arithmetic until ONE double assembly.
  // ICC(1,1) = (MSB − MSW)/(MSB + (k−1)·MSW) from the same sums. ONE
  // hash aggregate builds the dense day × 5 pivot (zero days fill as 0
  // by construction), ONE 1-row aggregate collects all twelve exact
  // BIGINT sums; nullif guards the zero-variance denominators.
  private val Types = Seq("click", "error", "purchase", "signup", "view")

  private val NT = Types.size

  private def idx = Types.indices

  // ΣVᵢ / Σqᵢ in fixed left-assoc order over the exact BIGINT
  // columns; the leading CAST makes the whole chain double.
  private val vSum =
    idx.map(i => if (i == 0) s"CAST(v0 AS DOUBLE)" else s"v$i")
      .mkString("(", " + ", ")")
  private val qSum =
    idx.map(i => if (i == 0) s"CAST(q0 AS DOUBLE)" else s"q$i")
      .mkString("(", " + ", ")")

  private val alphaText =
    s"((CAST($NT AS DOUBLE)/${NT - 1})*(1 - $vSum/nullif(CAST(vt AS DOUBLE), 0)))"
  // One-way ANOVA mean squares from the same sums: MSB over day
  // effects, MSW the residual; G = ss (grand sum), Σx² = qSum,
  // Σ_t s_t² = qq.
  private val msb =
    s"((CAST(qq AS DOUBLE)/$NT - CAST(ss AS DOUBLE)*ss/($NT*n))/(n - 1))"
  private val msw =
    s"(($qSum - CAST(qq AS DOUBLE)/$NT)/(n*${NT - 1}))"
  private val iccText =
    s"(($msb - $msw)/nullif($msb + ${NT - 1}*$msw, 0))"

  private[graft] def cronbachIccOn(events: DataFrame): DataFrame = {
    val pivots = Types.zipWithIndex.map { case (t, i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"x$i") }
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("d"))
      .groupBy(col("d"))
      .agg(pivots.head, pivots.tail: _*)
    val rowSum = idx.map(i => col(s"x$i")).reduce(_ + _)
    val sums =
      (count(lit(1)).as("n") +:
        idx.map(i => sum(col(s"x$i")).as(s"s$i"))) ++
      idx.map(i => sum(col(s"x$i") * col(s"x$i")).as(s"q$i")) ++
      Seq(sum(rowSum).as("ss"), sum(rowSum * rowSum).as("qq"))
    val g = daily.groupBy().agg(sums.head, sums.tail: _*)
    val vCols =
      idx.map(i => s"n*q$i - s$i*s$i AS v$i") ++
      Seq("n*qq - ss*ss AS vt")
    g.selectExpr(("n" +: idx.map(i => s"q$i") :+ "ss" :+ "qq") ++ vCols: _*)
      .selectExpr("CAST(n AS BIGINT) AS n_days",
        s"${r6(alphaText)} AS cronbach_alpha",
        s"${r6(iccText)} AS icc_1_1")
  }

  private def cronbachIcc(s: SparkSession, dir: String): DataFrame =
    cronbachIccOn(loadEvents(s, dir))

  private val cronbachIccOracle = {
    val pivotDefs = Types.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS x$i" }.mkString(",\n    ")
    val rowSum = idx.map(i => s"x$i").mkString(" + ")
    val sumDefs = (
      idx.map(i => s"CAST(sum(x$i) AS BIGINT) AS s$i") ++
      idx.map(i => s"CAST(sum(x$i*x$i) AS BIGINT) AS q$i") ++
      Seq(s"CAST(sum($rowSum) AS BIGINT) AS ss",
        s"CAST(sum(($rowSum)*($rowSum)) AS BIGINT) AS qq")
      ).mkString(",\n    ")
    val vDefs = (idx.map(i => s"n*q$i - s$i*s$i AS v$i") ++
      Seq("n*qq - ss*ss AS vt")).mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    $pivotDefs
       |  FROM events GROUP BY 1),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    $sumDefs
       |  FROM daily),
       |v AS (
       |  SELECT n, ${idx.map(i => s"q$i").mkString(", ")}, ss, qq,
       |    $vDefs
       |  FROM g)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  ${r6(alphaText)} AS cronbach_alpha,
       |  ${r6(iccText)} AS icc_1_1
       |FROM v""".stripMargin
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_wilcoxon_signed_rank" -> (wilcoxonSignedRank _),
    "agg_sign_test" -> (signTest _),
    "agg_mcnemar_test" -> (mcnemarTest _),
    "agg_cochran_q" -> (cochranQ _),
    "agg_friedman_test" -> (friedmanTest _),
    "agg_kendalls_w" -> (kendallsW _),
    "agg_page_trend_test" -> (pageTrend _),
    "agg_quade_test" -> (quadeTest _),
    "agg_cronbach_icc" -> (cronbachIcc _)
  )

  val oracle: Map[String, String] = Map(
    "agg_wilcoxon_signed_rank" -> wilcoxonOracle,
    "agg_sign_test" -> signTestOracle,
    "agg_mcnemar_test" -> mcnemarOracle,
    "agg_cochran_q" -> cochranQOracle,
    "agg_friedman_test" -> friedmanOracle,
    "agg_kendalls_w" -> kendallsWOracle,
    "agg_page_trend_test" -> pageOracle,
    "agg_quade_test" -> quadeOracle,
    "agg_cronbach_icc" -> cronbachIccOracle
  )
}
