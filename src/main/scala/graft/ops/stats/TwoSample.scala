package graft.ops.stats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import Samples._

/** Two-sample tests, effect sizes and distances, on the
  * AUTOMOBILE vs HOUSEHOLD account-balance slice ([[Samples.pooled]])
  * unless noted:
  *
  *  - location: `agg_welch_t` (parametric, unequal variances),
  *    `agg_mann_whitney` (rank-sum), `agg_brunner_munzel` (rank test
  *    without the equal-shape assumption), `agg_cohens_d` (URGENT vs
  *    LOW order totals — d and Hedges' g), `agg_cliffs_delta` (the
  *    rank effect size beside Mann–Whitney);
  *  - the EDF family: `agg_ks_test` (sup gap), `agg_cvm_test`
  *    (integrated square), `agg_anderson_darling` (tail-weighted),
  *    `agg_wasserstein_distance` (the area between the curves, in
  *    dollars), `agg_qq_deciles` (WHERE the quantiles differ);
  *  - robust location and dispersion of the pooled slice:
  *    `agg_trimmed_winsorized_mean`, `agg_median_ci`,
  *    `agg_gini_mean_diff`; `agg_mood_scale_test` (rank dispersion);
  *  - shape overlap: `agg_bhattacharyya_overlap` (16-bin histograms);
  *  - survival: `agg_logrank_test` (AUTOMOBILE vs HOUSEHOLD
  *    customer-lifetime curves).
  *
  * Scale shapes: every statistic that needs GLOBAL order statistics of
  * the pooled sample reduces to the grouped value grid first
  * ([[Samples.abGrid]]: per distinct value the group counts a, b) and
  * takes cumulative counts from [[graft.util.DistRank]]'s distributed
  * prefix sums (range partitions + broadcast offsets — no
  * single-partition stage at any pool width); k-th order statistics
  * are min(x │ cum ≥ k), never a global sort through one task.
  *
  * Determinism: everything that feeds a statistic is exact — ranks
  * are integers, tied-rank means exact binary halves, EDF distances
  * exact integer cross-products |c₁·n₂ − c₂·n₁|, O(n²) sums in
  * DECIMAL(38,0) — until one double assembly from shared formula text,
  * floor-6 surfaced. Every *On core is a generic seam over (value,
  * group-1 indicator) rows, so each zero-able denominator rides
  * nullif: Spark 4 ANSI raises DIVIDE_BY_ZERO on doubles where DuckDB
  * returns inf.
  */
object TwoSample {

  // ---- shared oracle CTEs ---------------------------------------------
  private val vSql =
    """v AS (
      |  SELECT x, CAST(sum(i1) AS BIGINT) AS a,
      |    CAST(sum(1 - i1) AS BIGINT) AS b
      |  FROM pooled GROUP BY x)""".stripMargin

  private val centsVSql =
    """v AS (
      |  SELECT CAST(CAST(x AS DECIMAL(15,2))*100 AS BIGINT) AS xc,
      |    CAST(sum(i1) AS BIGINT) AS a,
      |    CAST(sum(1 - i1) AS BIGINT) AS b
      |  FROM pooled GROUP BY 1)""".stripMargin

  private val centCountsSql =
    """v AS (
      |  SELECT CAST(CAST(x AS DECIMAL(15,2))*100 AS BIGINT) AS xc,
      |    CAST(count(*) AS BIGINT) AS t
      |  FROM pooled GROUP BY 1)""".stripMargin

  private val totSql =
    """tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
      |  CAST(sum(b) AS BIGINT) AS n2 FROM v)""".stripMargin

  // inclusive cumulative group counts (ca, cb) over the x grid
  private val cumSql =
    """d AS (
      |  SELECT a, b,
      |    CAST(sum(a) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
      |    CAST(sum(b) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
      |  FROM v)""".stripMargin

  /** The value grid of (value, group-1 indicator) rows. */
  private def grid(df: DataFrame, valueCol: Column, isGroup1: Column): DataFrame =
    abGrid(twoSample(df, valueCol, isGroup1))

  /** The same grid over exact cents, keyed `xc`. */
  private def centGrid(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame =
    abGrid(twoSample(df, cents(valueCol), isGroup1, "xc"), "xc")

  /** The grid `v` with ba/bb, the group-1/group-2 rows strictly below
    * each `key` value, from one distributed prefix-sum pass. */
  private def groupsBelow(v: DataFrame, key: String = "x"): DataFrame =
    graft.util.DistRank.globalPrefixSums(v,
      Seq("ba" -> col("a"), "bb" -> col("b")), col(key))

  /** (xc, t): per distinct cent value of `valueCol`, its row count. */
  private def centCounts(df: DataFrame, valueCol: Column): DataFrame =
    df.select(cents(valueCol).as("xc"))
      .groupBy("xc").agg(count(lit(1)).as("t"))

  // ---- agg_welch_t -------------------------------------------------
  // Welch two-sample t-test — unequal variances, the safe default.
  // ONE scan: both groups' (n, Σx, Σx²) accumulate as conditional
  // EXACT decimal sums; the t statistic and Welch–Satterthwaite df are
  // a fixed double expression over those exact moments. Σx² exceeds
  // 2^53 scaled at bench SF, so decimal→double routes through VARCHAR
  // on both sides (§1.5 rule 7).
  private def welchMoments(castD: String => String): Seq[String] = {
    def m(seg: String, out: String) = Seq(
      s"CAST(sum(CASE WHEN c_mktsegment = '$seg' THEN 1 ELSE 0 END) AS BIGINT) AS n$out",
      castD(s"sum(CASE WHEN c_mktsegment = '$seg' THEN CAST(c_acctbal AS DECIMAL(18,2)) END)") + s" AS sx$out",
      castD(s"sum(CASE WHEN c_mktsegment = '$seg' THEN CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)) END)") + s" AS sxx$out")
    m("AUTOMOBILE", "1") ++ m("HOUSEHOLD", "2")
  }

  // variance via the moment identity (Σx² − (Σx)²/n)/(n−1); the
  // shared text keeps both engines on one expression tree.
  private val welchFinal =
    """SELECT n1, n2,
      |  round(sx1 / CAST(n1 AS DOUBLE), 6) AS mean1,
      |  round(sx2 / CAST(n2 AS DOUBLE), 6) AS mean2,
      |  round((sx1 / CAST(n1 AS DOUBLE) - sx2 / CAST(n2 AS DOUBLE)) /
      |    sqrt(((sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE) +
      |         ((sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)), 6) AS t_stat,
      |  round(
      |    (((sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE) +
      |     ((sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) *
      |    (((sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE) +
      |     ((sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) /
      |    ((((sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) *
      |     (((sxx1 - sx1 * sx1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) +
      |     (((sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) *
      |     (((sxx2 - sx2 * sx2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS welch_df
      |FROM moments""".stripMargin

  private def welchT(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "customer").createOrReplaceTempView("customer")
    val momentsSql = welchMoments(
      e => s"CAST(CAST($e AS STRING) AS DOUBLE)").mkString(", ")
    s.sql(s"WITH moments AS (SELECT $momentsSql FROM customer)\n$welchFinal")
  }

  private val welchOracle = {
    val momentsSql = welchMoments(
      e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)").mkString(", ")
    s"WITH moments AS (SELECT $momentsSql FROM customer)\n$welchFinal"
  }

  // ---- agg_mann_whitney --------------------------------------------
  // Mann–Whitney U with tie-corrected normal approximation. Tied
  // ranks use min-rank + (t−1)/2 (exact halves); the tie term
  // Σ(t³−t) folds into the SAME pass. nullif: the
  // all-values-identical degenerate has tie-corrected variance
  // exactly 0 — z must be NULL on both engines.
  private val mwZ =
    """round((u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
      |    nullif(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
      |      (CAST(n1 + n2 + 1 AS DOUBLE) -
      |       CAST(tie AS DOUBLE) /
      |         (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))), 0), 6)""".stripMargin

  private val mwFinal =
    s"""SELECT n1, n2, u1 AS u_stat,
       |  $mwZ
       |    AS z_score
       |FROM m""".stripMargin

  /** Generic Mann–Whitney core over (value, group-1 indicator) — the
    * [[graft.Graft.mannWhitney]] facade surface. Same arithmetic as
    * the oracle text, but computed on the value grid with `below`
    * from [[graft.util.DistRank.globalPrefixSum]]: min-rank =
    * below + 1, tied-rank mean = rmin + (t−1)/2, so the group-1 rank
    * sum is Σ a·(rmin + (t−1)/2) — an exact multiple of ½ per value,
    * hence order-independent in doubles. The tie term Σ t(t²−1) cubes
    * in DECIMAL (BIGINT cubes wrap in Spark, raise in DuckDB). */
  private[graft] def mannWhitneyOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = grid(df, valueCol, isGroup1)
    val r = graft.util.DistRank
      .globalPrefixSum(v, "below", col("x"), col("a") + col("b"))
    val t = col("a") + col("b")
    r.agg(
      sum(col("a")).cast("bigint").as("n1"),
      sum(col("b")).cast("bigint").as("n2"),
      sum(col("a").cast("double") *
        (col("below").cast("double") + 1.0 + (t.cast("double") - 1.0) / 2.0))
        .as("rsum"),
      sum(expr("CAST(a + b AS DECIMAL(19,0)) * (a + b) * (a + b) - (a + b)"))
        .cast("bigint").as("tie"))
      .selectExpr("n1", "n2",
        "rsum - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u1",
        "tie")
      .selectExpr("n1", "n2", "u1 AS u_stat", s"$mwZ AS z_score")
  }

  private def mannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val mannWhitneyOracle =
    s"""WITH $pooledSql,
       |r AS (
       |  SELECT i1,
       |    rank() OVER (ORDER BY x) AS rmin,
       |    count(*) OVER (PARTITION BY x) AS t
       |  FROM pooled),
       |m AS (
       |  SELECT CAST(sum(i1) AS BIGINT) AS n1,
       |    CAST(sum(1 - i1) AS BIGINT) AS n2,
       |    sum(CASE WHEN i1 = 1
       |      THEN CAST(rmin AS DOUBLE) + (CAST(t AS DOUBLE) - 1.0) / 2.0
       |      ELSE 0.0 END) -
       |      CAST(sum(i1) AS DOUBLE) * (CAST(sum(i1) AS DOUBLE) + 1.0) / 2.0
       |      AS u1,
       |    CAST(sum(t * t - 1) AS BIGINT) AS tie
       |  FROM r)
       |$mwFinal""".stripMargin

  // ---- agg_ks_test -------------------------------------------------
  // Two-sample KS: D = sup|F₁−F₂| found as the integer maximum of
  // |c₁·n₂ − c₂·n₁| over the pooled distinct values, divided by n₁·n₂
  // exactly once. The sup location reports the SMALLEST value
  // attaining it (dmax re-joined, min(x) — arg-max tie behavior is
  // engine-defined, so it is never relied on).
  private val ksFinal =
    """SELECT n1, n2,
      |  round(CAST(dmax AS DOUBLE) /
      |    (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d,
      |  x_at
      |FROM (
      |  SELECT max(dmax) AS dmax FROM d) best
      |CROSS JOIN (SELECT n1, n2 FROM tot) t
      |CROSS JOIN (
      |  SELECT min(x) AS x_at FROM d
      |  WHERE dmax = (SELECT max(dmax) FROM d)) loc""".stripMargin

  /** Generic two-sample KS core over (value, group-1 indicator) — the
    * [[graft.Graft.ksTest]] facade surface. */
  private[graft] def ksTestOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = grid(df, valueCol, isGroup1)
    val tot = groupSizes(v)
    // Both cumulative counts ride one distributed prefix-sum pass
    // (exclusive → inclusive by adding own a/b).
    val d = groupsBelow(v)
      .select(col("x"), (col("ba") + col("a")).as("ca"),
        (col("bb") + col("b")).as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("x"), abs(col("ca") * col("n2") - col("cb") * col("n1")).as("dm"))
    val best = d.agg(max(col("dm")).as("dmax"))
    val loc = d.join(broadcast(best), col("dm") === col("dmax"))
      .agg(min(col("x")).as("x_at"))
    best.crossJoin(tot).crossJoin(loc)
      .selectExpr("n1", "n2",
        "round(CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d",
        "x_at")
  }

  private def ksTest(s: SparkSession, dir: String): DataFrame =
    ksTestOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val ksOracle =
    s"""WITH $pooledSql,
       |$vSql,
       |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2 FROM v),
       |d AS (
       |  SELECT x,
       |    abs(sum(a) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * (SELECT n2 FROM tot) -
       |        sum(b) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * (SELECT n1 FROM tot)) AS dmax
       |  FROM v)
       |$ksFinal""".stripMargin

  // ---- agg_cliffs_delta ---------------------------------------------
  // Cliff's δ = (#(x>y) − #(x<y)) / (n1·n2) over cross-group pairs,
  // EXACTLY from the value grid + distributed prefix sum the U
  // statistic uses — never the O(n1·n2) pair materialization. With
  // bb = Σ b strictly below x, d2 = Σ_x a·(2·bb + b) = 2·#(>) + #(=) =
  // 2U (midrank U), so δ = d2/(n1·n2) − 1 with ONE double division.
  // Magnitude bands per Romano et al. 2006, CASE'd on the FLOORED δ
  // so a boundary value cannot split the engines.
  private val cliffsDelta6 =
    r6("""CAST(d2 AS DOUBLE)/nullif(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE), 0)
      |  - 1""".stripMargin)
  private val cliffsMag =
    s"""CASE WHEN abs($cliffsDelta6) < 0.147E0 THEN 'negligible'
       |     WHEN abs($cliffsDelta6) < 0.33E0 THEN 'small'
       |     WHEN abs($cliffsDelta6) < 0.474E0 THEN 'medium'
       |     ELSE 'large' END""".stripMargin
  private val cliffsSelect = Seq("n1", "n2",
    "CAST(d2 AS DOUBLE)/2 AS u_stat",
    s"$cliffsDelta6 AS cliffs_delta",
    s"$cliffsMag AS magnitude")

  /** Generic Cliff's-δ core over (value, group-1 indicator) — same
    * grid + prefix-sum shape as [[mannWhitneyOn]]. */
  private[graft] def cliffsDeltaOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = grid(df, valueCol, isGroup1)
    graft.util.DistRank.globalPrefixSum(v, "bb", col("x"), col("b"))
      .agg(sum(col("a")).cast("bigint").as("n1"),
        sum(col("b")).cast("bigint").as("n2"),
        sum(expr("CAST(a AS DECIMAL(19,0)) * (2*bb + b)")).as("d2"))
      .selectExpr(cliffsSelect: _*)
  }

  private def cliffsDelta(s: SparkSession, dir: String): DataFrame =
    cliffsDeltaOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val cliffsDeltaOracle =
    s"""WITH $pooledSql,
       |$vSql,
       |c AS (
       |  SELECT a, b,
       |    coalesce(CAST(sum(b) OVER (ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT), 0) AS bb
       |  FROM v),
       |m AS (
       |  SELECT CAST(sum(a) AS BIGINT) AS n1,
       |    CAST(sum(b) AS BIGINT) AS n2,
       |    sum(CAST(a AS DECIMAL(19,0)) * (2*bb + b)) AS d2
       |  FROM c)
       |SELECT ${cliffsSelect.mkString(",\n  ")}
       |FROM m""".stripMargin

  // ---- agg_cvm_test ---------------------------------------------------
  // Two-sample Cramér–von Mises: T = (n₁n₂/N²)·Σ_pooled (F₁−F₂)² — the
  // INTEGRATED EDF distance beside KS's supremum. On the value grid,
  // F₁−F₂ at x is the SAME exact integer the KS row maximizes:
  // D = ca·n₂ − cb·n₁ over n₁n₂, so T = Σ t·D² / (n₁·n₂·N²) with
  // u = Σ t·D² accumulating exactly in DECIMAL(38,0). Verdict vs the
  // asymptotic 5% point of the limiting ω² distribution, 0.46136
  // (Anderson & Darling 1952 table; ties make it approximate).
  private val cvmT =
    """(CAST(u AS DOUBLE) / nullif(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |  * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE), 0))""".stripMargin
  private val cvmSelect = Seq("n1", "n2",
    s"${r6(cvmT)} AS cvm_t",
    s"(($cvmT) > 0.46136E0) AS reject_same_dist_5pct")

  /** Generic two-sample CvM core over (value, group-1 indicator) —
    * the KS grid + one multi-weight prefix-sum pass. */
  private[graft] def cvmTestOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = grid(df, valueCol, isGroup1)
    val tot = groupSizes(v)
    val u = groupsBelow(v)
      .crossJoin(broadcast(tot))
      .select(expr(
        """CAST(a + b AS DECIMAL(38,0))
          | * ((ba + a)*n2 - (bb + b)*n1)
          | * ((ba + a)*n2 - (bb + b)*n1)""".stripMargin).as("term"))
      .agg(sum(col("term")).as("u"))
    u.crossJoin(broadcast(tot)).selectExpr(cvmSelect: _*)
  }

  private def cvmTest(s: SparkSession, dir: String): DataFrame =
    cvmTestOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val cvmOracle =
    s"""WITH $pooledSql,
       |$vSql,
       |$totSql,
       |$cumSql,
       |m AS (
       |  SELECT sum(CAST(a + b AS DECIMAL(38,0))
       |    * (ca*(SELECT n2 FROM tot) - cb*(SELECT n1 FROM tot))
       |    * (ca*(SELECT n2 FROM tot) - cb*(SELECT n1 FROM tot))) AS u
       |  FROM d)
       |SELECT ${cvmSelect.mkString(",\n  ")}
       |FROM m CROSS JOIN tot""".stripMargin

  // ---- agg_anderson_darling -------------------------------------------
  // Two-sample Anderson–Darling: CvM reweighted by 1/(F(1−F)) — the
  // weight diverges at the tails, where KS/CvM are blind. Pettitt
  // 1976 / Scholz–Stephens 1987 (k = 2, right-continuous EDF over
  // distinct pooled values):
  //   A² = (1/(n₁n₂)) Σ_{B<N} t·D² / (B·(N−B))
  // with t the value's multiplicity, B the pooled inclusive
  // cumulative count, and D the KS/CvM integer. Per-term doubles are
  // identical on both engines; only the sum order differs, absorbed
  // by the 6-dp floor. The B = N grid row nulls via nullif (its
  // numerator is 0 anyway) and sum skips it. Verdict vs the
  // asymptotic 5% point 2.492 (Anderson & Darling 1954 table).
  // coalesce: a single-distinct-value pool nulls every term, and A²
  // is genuinely 0 there.
  private val adExpr =
    """(coalesce(s, 0.0E0) / nullif(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE), 0))"""
  private val adSelect = Seq("n1", "n2",
    s"${r6(adExpr)} AS ad_a2",
    s"(${r6(adExpr)} > 2.492E0) AS reject_same_dist_5pct")

  /** Generic two-sample AD core over (value, group-1 indicator) —
    * the KS/CvM grid + the same one multi-weight prefix-sum pass;
    * the [[graft.Graft.andersonDarling]] facade surface. */
  private[graft] def adTestOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = grid(df, valueCol, isGroup1)
    val tot = groupSizes(v)
    val s0 = groupsBelow(v)
      .crossJoin(broadcast(tot))
      .select(expr(
        """CAST(CAST(a + b AS DECIMAL(38,0))
          | * ((ba + a)*n2 - (bb + b)*n1)
          | * ((ba + a)*n2 - (bb + b)*n1) AS DOUBLE)
          | / nullif(CAST(ba + a + bb + b AS DOUBLE)
          |   * CAST((n1 + n2) - (ba + a + bb + b) AS DOUBLE), 0)""".stripMargin)
        .as("term"))
      .agg(sum(col("term")).as("s"))
    s0.crossJoin(broadcast(tot)).selectExpr(adSelect: _*)
  }

  private def adTest(s: SparkSession, dir: String): DataFrame =
    adTestOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val adOracle =
    s"""WITH $pooledSql,
       |$vSql,
       |$totSql,
       |$cumSql,
       |m AS (
       |  SELECT sum(
       |    CAST(CAST(a + b AS DECIMAL(38,0))
       |      * (ca*(SELECT n2 FROM tot) - cb*(SELECT n1 FROM tot))
       |      * (ca*(SELECT n2 FROM tot) - cb*(SELECT n1 FROM tot)) AS DOUBLE)
       |    / nullif(CAST(ca + cb AS DOUBLE)
       |      * CAST(((SELECT n1 FROM tot) + (SELECT n2 FROM tot)) - (ca + cb) AS DOUBLE), 0)) AS s
       |  FROM d)
       |SELECT ${adSelect.mkString(",\n  ")}
       |FROM m CROSS JOIN tot""".stripMargin

  // ---- agg_wasserstein_distance --------------------------------------
  // W₁ = ∫│F₁−F₂│dx = Σ_grid │ca·n₂ − cb·n₁│·(next_x − x) / (n₁·n₂)
  // over cents — the KS/CvM integer D times the exact cent gap to the
  // next distinct value, summed in DECIMAL(38,0); ONE double division
  // at the end.
  private val w1Expr =
    """(CAST(coalesce(u, 0) AS DOUBLE)
      |  / nullif(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0E0, 0))""".stripMargin
  private val w1Select = Seq("n1", "n2",
    s"${r6(w1Expr)} AS wasserstein_1")

  /** Generic W₁ core over (value, group-1 indicator); value is
    * converted to exact cents. */
  private[graft] def wassersteinOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = centGrid(df, valueCol, isGroup1)
    val tot = groupSizes(v)
    // Fused prefix-sums + successor: ONE range exchange and ONE
    // Window node instead of composing the two standalone primitives.
    val led = graft.util.DistRank.globalPrefixSumsWithLead(v,
      Seq("ba" -> col("a"), "bb" -> col("b")), col("xc"), "xn")
    val u = led.crossJoin(broadcast(tot))
      .filter(col("xn").isNotNull)
      .select(expr(
        """CAST(abs((ba + a)*n2 - (bb + b)*n1) AS DECIMAL(38,0))
          | * (xn - xc)""".stripMargin).as("term"))
      .agg(sum(col("term")).as("u"))
    u.crossJoin(broadcast(tot)).selectExpr(w1Select: _*)
  }

  private def wasserstein(s: SparkSession, dir: String): DataFrame =
    wassersteinOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val wassersteinOracle =
    s"""WITH $pooledSql,
       |$centsVSql,
       |$totSql,
       |d AS (
       |  SELECT xc, a, b,
       |    CAST(sum(a) OVER (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
       |    CAST(sum(b) OVER (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
       |    lead(xc) OVER (ORDER BY xc) AS xn
       |  FROM v),
       |m AS (
       |  SELECT sum(CAST(abs(ca*(SELECT n2 FROM tot) - cb*(SELECT n1 FROM tot)) AS DECIMAL(38,0))
       |    * (xn - xc)) AS u
       |  FROM d WHERE xn IS NOT NULL)
       |SELECT ${w1Select.mkString(",\n  ")}
       |FROM m CROSS JOIN tot""".stripMargin

  // ---- agg_trimmed_winsorized_mean -------------------------------------
  // 10% trimmed and winsorized means of the pooled slice. With
  // inclusive cumulative count c, a value with t rows contributes
  // max(0, min(c, n−k) − max(c−t, k)) rows to the trimmed core
  // (k = n div 10 per side); the winsorized mean adds k copies of the
  // (k+1)-th and (n−k)-th order statistics. Exact integer cents until
  // the final divisions.
  private val trimmedSelect = Seq("n", "k AS k_trim",
    r6("""CAST(tsum AS DOUBLE)
      |  / (CAST(nullif(n - 2*k, 0) AS DOUBLE) * 100.0E0)""".stripMargin) +
      "\n  AS trimmed_mean",
    r6("""(CAST(tsum AS DOUBLE)
      |  + CAST(k AS DOUBLE)*CAST(lo AS DOUBLE)
      |  + CAST(k AS DOUBLE)*CAST(hi AS DOUBLE))
      |  / (CAST(n AS DOUBLE) * 100.0E0)""".stripMargin) +
      "\n  AS winsorized_mean")

  /** Generic trimmed/winsorized-mean core over a value column
    * (exact-cents conversion inside). */
  private[graft] def trimmedWinsorizedOn(df: DataFrame,
      valueCol: Column): DataFrame = {
    val v = centCounts(df, valueCol)
    val tot = v.agg(sum(col("t")).cast("bigint").as("n"))
      .selectExpr("n", "CAST((n - (n % 10)) / 10 AS BIGINT) AS k")
    val pre = graft.util.DistRank
      .globalPrefixSum(v, "below", col("xc"), col("t"))
      .crossJoin(broadcast(tot))
      .select(col("xc"), col("t"), (col("below") + col("t")).as("c"),
        col("n"), col("k"))
      .localCheckpoint() // three consumers: core sum, lo, hi
    val sums = pre.select(expr(
        """CAST(xc AS DECIMAL(38,0))
          | * greatest(0, least(c, n - k) - greatest(c - t, k))""".stripMargin)
        .as("ts"))
      .agg(sum(col("ts")).as("tsum"))
    val lo = pre.filter(col("c") >= col("k") + 1)
      .agg(min(col("xc")).as("lo"))
    val hi = pre.filter(col("c") >= col("n") - col("k"))
      .agg(min(col("xc")).as("hi"))
    sums.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .crossJoin(broadcast(tot))
      .selectExpr(trimmedSelect: _*)
  }

  private def trimmedWinsorized(s: SparkSession, dir: String): DataFrame =
    trimmedWinsorizedOn(pooled(s, dir), col("x"))

  private val trimmedOracle =
    s"""WITH $pooledSql,
       |$centCountsSql,
       |tot AS (
       |  SELECT n, CAST((n - (n % 10)) / 10 AS BIGINT) AS k
       |  FROM (SELECT CAST(sum(t) AS BIGINT) AS n FROM v)),
       |pre AS (
       |  SELECT xc, t,
       |    CAST(sum(t) OVER (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
       |    (SELECT n FROM tot) AS n, (SELECT k FROM tot) AS k
       |  FROM v),
       |s AS (
       |  SELECT sum(CAST(xc AS DECIMAL(38,0))
       |    * greatest(0, least(c, n - k) - greatest(c - t, k))) AS tsum
       |  FROM pre),
       |lo AS (SELECT min(xc) AS lo FROM pre WHERE c >= k + 1),
       |hi AS (SELECT min(xc) AS hi FROM pre WHERE c >= n - k)
       |SELECT ${trimmedSelect.mkString(",\n  ")}
       |FROM s CROSS JOIN lo CROSS JOIN hi CROSS JOIN tot""".stripMargin

  // ---- agg_brunner_munzel ----------------------------------------------
  // Brunner–Munzel generalized Wilcoxon: the modern default when the
  // two samples may differ in SHAPE/variance (Mann–Whitney assumes
  // exchangeability under H0; BM tests P(X<Y)+½P(X=Y) = ½ without
  // it). W = n₁n₂·(R̄₂−R̄₁) / ((n₁+n₂)·√(n₁S₁²+n₂S₂²)) with
  // Sᵢ² the variance of (overall − within-group) midranks, plus the
  // Welch–Satterthwaite df and the common-language p̂ estimate.
  // Verdict via the large-sample normal 5% quantile (the exact
  // small-sample BM test reads t_df — df is surfaced for it).
  //
  // Everything reduces to exact integers on the value grid: with
  // prefix counts ba/bb, group-1 rows at a value have DOUBLED
  // rank deviation 2d₁ = 2·bb + b (the overall-minus-within midrank
  // difference; 2d₂ = 2·ba + a), and the doubled overall midrank is
  // tm = 2(ba+bb) + (a+b) + 1 — so the six moments (s, q, r per
  // group) are exact BIGINT/DECIMAL sums and the statistic assembles
  // once in shared text. Formula verified against the published
  // reference case (W = 3.137467, df = 17.682842 — the Brunner &
  // Munzel 2000 design, the planted spec).
  private def bmS(i: Int) =
    s"""((CAST(q$i AS DOUBLE) - CAST(s$i AS DOUBLE)*CAST(s$i AS DOUBLE)/nullif(CAST(n$i AS DOUBLE), 0))
       | / nullif(4.0E0*(CAST(n$i AS DOUBLE) - 1), 0))""".stripMargin
  private val bmVsum =
    s"(CAST(n1 AS DOUBLE)*${bmS(1)} + CAST(n2 AS DOUBLE)*${bmS(2)})"
  private val bmDiff =
    """((CAST(r2s AS DOUBLE)/nullif(CAST(n2 AS DOUBLE), 0)
      |  - CAST(r1s AS DOUBLE)/nullif(CAST(n1 AS DOUBLE), 0))/2.0E0)""".stripMargin
  private val bmW =
    s"""(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)*$bmDiff
       | / nullif(CAST(n1 + n2 AS DOUBLE)*sqrt($bmVsum), 0))""".stripMargin
  private val bmPhat =
    """((CAST(r2s AS DOUBLE)/nullif(CAST(n2 AS DOUBLE), 0)/2.0E0
      |  - (CAST(n2 AS DOUBLE) + 1)/2.0E0)/nullif(CAST(n1 AS DOUBLE), 0))""".stripMargin
  private val bmDf =
    s"""(($bmVsum)*($bmVsum)
       | / nullif((CAST(n1 AS DOUBLE)*${bmS(1)})*(CAST(n1 AS DOUBLE)*${bmS(1)})/nullif(CAST(n1 AS DOUBLE) - 1, 0)
       |   + (CAST(n2 AS DOUBLE)*${bmS(2)})*(CAST(n2 AS DOUBLE)*${bmS(2)})/nullif(CAST(n2 AS DOUBLE) - 1, 0), 0))""".stripMargin
  private val bmSelect = Seq("n1", "n2",
    s"${r6(bmPhat)} AS p_hat",
    s"${r6(bmW)} AS w_stat",
    s"${r6(bmDf)} AS df",
    s"(abs($bmW) > 1.959964) AS reject_5pct")

  /** Generic BM core over (value, group-1 indicator). */
  private[graft] def brunnerMunzelOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame =
    groupsBelow(grid(df, valueCol, isGroup1))
      .selectExpr("a", "b",
        "2*bb + b AS d1", "2*ba + a AS d2",
        "2*(ba + bb) + (a + b) + 1 AS tm")
      .agg(
        sum(col("a")).cast("bigint").as("n1"),
        sum(col("b")).cast("bigint").as("n2"),
        sum(expr("a * d1")).cast("bigint").as("s1"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * d1 * d1")).as("q1"),
        sum(expr("b * d2")).cast("bigint").as("s2"),
        sum(expr("CAST(b AS DECIMAL(38,0)) * d2 * d2")).as("q2"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * tm")).as("r1s"),
        sum(expr("CAST(b AS DECIMAL(38,0)) * tm")).as("r2s"))
      .selectExpr(bmSelect: _*)

  private def brunnerMunzel(s: SparkSession, dir: String): DataFrame =
    brunnerMunzelOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val brunnerMunzelOracle =
    s"""WITH $pooledSql,
       |$vSql,
       |p AS (
       |  SELECT a, b,
       |    CAST(sum(a) OVER w AS BIGINT) - a AS ba,
       |    CAST(sum(b) OVER w AS BIGINT) - b AS bb
       |  FROM v
       |  WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |g AS (
       |  SELECT a, b, 2*bb + b AS d1, 2*ba + a AS d2,
       |    2*(ba + bb) + (a + b) + 1 AS tm
       |  FROM p),
       |m AS (
       |  SELECT CAST(sum(a) AS BIGINT) AS n1,
       |    CAST(sum(b) AS BIGINT) AS n2,
       |    CAST(sum(a * d1) AS BIGINT) AS s1,
       |    sum(CAST(a AS DECIMAL(38,0)) * d1 * d1) AS q1,
       |    CAST(sum(b * d2) AS BIGINT) AS s2,
       |    sum(CAST(b AS DECIMAL(38,0)) * d2 * d2) AS q2,
       |    sum(CAST(a AS DECIMAL(38,0)) * tm) AS r1s,
       |    sum(CAST(b AS DECIMAL(38,0)) * tm) AS r2s
       |  FROM g)
       |SELECT ${bmSelect.mkString(",\n  ")}
       |FROM m""".stripMargin

  // ---- agg_cohens_d -------------------------------------------------------
  // Cohen's d (and the small-sample Hedges' g correction) between
  // URGENT and LOW order totals — the EFFECT SIZE beside the
  // significance rows: d says by HOW MANY pooled standard deviations
  // the means differ, with the conventional
  // negligible/small/medium/large label on the ALREADY-floored |d|.
  // d = (m1 − m2)/sp from the exact cent moments.
  private val CdGroups = Seq("1-URGENT", "5-LOW")

  private val cdD =
    s"""((s0/nullif(CAST(n0 AS DOUBLE), 0) - s1/nullif(CAST(n1 AS DOUBLE), 0))
       | / nullif(sqrt(((CAST(n0 AS DOUBLE) - 1)*(${varF(0)})
       |   + (CAST(n1 AS DOUBLE) - 1)*(${varF(1)}))
       |   / nullif(CAST(n0 AS DOUBLE) + n1 - 2, 0)), 0))""".stripMargin
  private val cdDF = r6(cdD)
  private val cdGF =
    r6(s"($cdD) * (1 - 3/(4*(CAST(n0 AS DOUBLE) + n1) - 9))")

  private[graft] def cohensDOn(orders: DataFrame): DataFrame = {
    val aggs = centMoments(CdGroups)
    priorityCents(orders.filter(col("o_orderpriority").isin(CdGroups: _*)))
      .groupBy().agg(aggs.head, aggs.tail: _*)
      .selectExpr("n0 AS n_urgent", "n1 AS n_low",
        s"$cdDF AS cohens_d",
        s"$cdGF AS hedges_g",
        // the NULL arm first: without it a null d (zero pooled sd)
        // falls through every comparison into ELSE 'large'
        s"""CASE WHEN $cdDF IS NULL THEN CAST(NULL AS STRING)
           | WHEN abs($cdDF) < 0.2 THEN 'negligible'
           | WHEN abs($cdDF) < 0.5 THEN 'small'
           | WHEN abs($cdDF) < 0.8 THEN 'medium'
           | ELSE 'large' END AS magnitude""".stripMargin)
  }

  private def cohensD(s: SparkSession, dir: String): DataFrame =
    cohensDOn(load(s, dir, "orders"))

  private val cohensDOracle =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) AS c
       |  FROM orders WHERE o_orderpriority IN ('${CdGroups(0)}', '${CdGroups(1)}')),
       |g AS (
       |  SELECT
       |    ${centMomentsSql(CdGroups)}
       |  FROM o)
       |SELECT n0 AS n_urgent, n1 AS n_low,
       |  $cdDF AS cohens_d,
       |  $cdGF AS hedges_g,
       |  CASE WHEN $cdDF IS NULL THEN CAST(NULL AS VARCHAR)
       |   WHEN abs($cdDF) < 0.2 THEN 'negligible'
       |   WHEN abs($cdDF) < 0.5 THEN 'small'
       |   WHEN abs($cdDF) < 0.8 THEN 'medium'
       |   ELSE 'large' END AS magnitude
       |FROM g""".stripMargin

  // ---- agg_qq_deciles ---------------------------------------------------
  // The nine decile pairs (Q₁(p), Q₂(p)), p = 0.1..0.9 — the QQ table
  // behind the EDF verdicts (KS says WHETHER the distributions differ,
  // the QQ gaps say WHERE). Lower empirical quantile at rank ⌈p·n⌉,
  // the threshold exact in integers ((k·n + 9) div 10), values in
  // dollars.

  /** Generic QQ-decile core over (value, group-1 indicator). */
  private[graft] def qqDecilesOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = centGrid(df, valueCol, isGroup1)
    val tot = groupSizes(v)
    val pre = groupsBelow(v, "xc")
      .select(col("xc"), (col("ba") + col("a")).as("ca"),
        (col("bb") + col("b")).as("cb"))
      .crossJoin(broadcast(tot))
      .localCheckpoint() // both quantile passes read it
    val ks = v.sparkSession.range(1, 10).select(col("id").as("k"))
    val q1 = pre.crossJoin(broadcast(ks))
      .filter(expr("ca >= (k*n1 + 9) div 10"))
      .groupBy(col("k")).agg(min(col("xc")).as("qa"))
    val q2 = pre.crossJoin(broadcast(ks))
      .filter(expr("cb >= (k*n2 + 9) div 10"))
      .groupBy(col("k")).agg(min(col("xc")).as("qb"))
    q1.join(q2, "k")
      .selectExpr("CAST(k AS BIGINT) AS decile",
        "CAST(qa AS DOUBLE)/100 AS q_group1",
        "CAST(qb AS DOUBLE)/100 AS q_group2",
        "CAST(qa - qb AS DOUBLE)/100 AS gap")
      .orderBy("decile")
  }

  private def qqDeciles(s: SparkSession, dir: String): DataFrame =
    qqDecilesOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val qqOracle =
    s"""WITH $pooledSql,
       |$centsVSql,
       |$totSql,
       |pre AS (
       |  SELECT xc,
       |    CAST(sum(a) OVER w AS BIGINT) AS ca,
       |    CAST(sum(b) OVER w AS BIGINT) AS cb
       |  FROM v
       |  WINDOW w AS (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ks AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS k),
       |q1 AS (
       |  SELECT k, min(xc) AS qa FROM pre CROSS JOIN ks CROSS JOIN tot
       |  WHERE ca >= (k*n1 + 9) // 10 GROUP BY k),
       |q2 AS (
       |  SELECT k, min(xc) AS qb FROM pre CROSS JOIN ks CROSS JOIN tot
       |  WHERE cb >= (k*n2 + 9) // 10 GROUP BY k)
       |SELECT CAST(q1.k AS BIGINT) AS decile,
       |  CAST(qa AS DOUBLE)/100 AS q_group1,
       |  CAST(qb AS DOUBLE)/100 AS q_group2,
       |  CAST(qa - qb AS DOUBLE)/100 AS gap
       |FROM q1 JOIN q2 ON q1.k = q2.k
       |ORDER BY decile""".stripMargin

  // ---- agg_median_ci ------------------------------------------------------
  // The distribution-free ~95% CI for the pooled median from the
  // Binomial(n, ½) normal approximation — the symmetric order-statistic
  // interval [x₍ₗ₎, x₍ᵤ₎] with l = max(1, floor((n − z·√n)/2)) and
  // u = n + 1 − l, z = 1.959964 (convention documented here and in the
  // oracle — sources vary on the rounding; this is the conservative
  // symmetric form).

  private[graft] def medianCiOn(df: DataFrame, valueCol: Column): DataFrame = {
    val v = centCounts(df, valueCol)
    val tot = v.agg(sum(col("t")).cast("bigint").as("n"))
      .selectExpr("n",
        // l = max(1, floor((n − z·√n)/2)); u = n + 1 − l (symmetric)
        """greatest(CAST(1 AS BIGINT),
          |  CAST(floor((CAST(n AS DOUBLE)
          |    - 1.959964E0*sqrt(CAST(n AS DOUBLE)))/2.0E0) AS BIGINT))
          |  AS l""".stripMargin)
      .selectExpr("n", "l", "n + 1 - l AS u")
    val pre = graft.util.DistRank
      .globalPrefixSum(v, "below", col("xc"), col("t"))
      .select(col("xc"), (col("below") + col("t")).as("c"))
      .crossJoin(broadcast(tot))
      .localCheckpoint() // three order-statistic picks
    val med = pre.filter(expr("c*2 >= n")).agg(min(col("xc")).as("med"))
    val lo = pre.filter(col("c") >= col("l")).agg(min(col("xc")).as("lo"))
    val hi = pre.filter(col("c") >= col("u")).agg(min(col("xc")).as("hi"))
    med.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .crossJoin(broadcast(tot.select("n")))
      .selectExpr("n",
        "CAST(med AS DOUBLE)/100 AS median",
        "CAST(lo AS DOUBLE)/100 AS ci_lo",
        "CAST(hi AS DOUBLE)/100 AS ci_hi")
  }

  private def medianCi(s: SparkSession, dir: String): DataFrame =
    medianCiOn(pooled(s, dir), col("x"))

  private val medianCiOracle =
    s"""WITH $pooledSql,
       |$centCountsSql,
       |tot AS (
       |  SELECT n,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(floor((CAST(n AS DOUBLE)
       |        - 1.959964E0*sqrt(CAST(n AS DOUBLE)))/2.0E0) AS BIGINT)) AS l
       |  FROM (SELECT CAST(sum(t) AS BIGINT) AS n FROM v)),
       |pre AS (
       |  SELECT xc,
       |    CAST(sum(t) OVER (ORDER BY xc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
       |  FROM v),
       |med AS (SELECT min(xc) AS med FROM pre CROSS JOIN tot WHERE c*2 >= n),
       |lo AS (SELECT min(xc) AS lo FROM pre CROSS JOIN tot WHERE c >= l),
       |hi AS (SELECT min(xc) AS hi FROM pre CROSS JOIN tot
       |  WHERE c >= n + 1 - l)
       |SELECT n,
       |  CAST(med AS DOUBLE)/100 AS median,
       |  CAST(lo AS DOUBLE)/100 AS ci_lo,
       |  CAST(hi AS DOUBLE)/100 AS ci_hi
       |FROM med CROSS JOIN lo CROSS JOIN hi CROSS JOIN (SELECT n FROM tot) t""".stripMargin

  // ---- agg_gini_mean_diff --------------------------------------------
  // The Gini mean difference E|X−X'| of the pooled slice — the robust
  // dispersion companion of the trimmed mean (more efficient than the
  // standard deviation under heavy tails). Never the O(n²) pair
  // materialization: on the (cents, count) grid,
  // Σ_{i<j}(x_j − x_i) = Σ_k x_k·t_k·(2·below_k + t_k − n), exact
  // DECIMAL(38,0) until the single double division.
  private val gmdExpr =
    """(2.0E0*CAST(d2 AS DOUBLE)
      |  / nullif(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0E0)*100.0E0, 0))""".stripMargin
  private val gmdSelect = Seq("n",
    s"${r6(gmdExpr)} AS gini_mean_diff")

  /** Generic GMD core over a value column; value converted to exact
    * cents. */
  private[graft] def gmdOn(df: DataFrame, valueCol: Column): DataFrame = {
    val v = centCounts(df, valueCol)
    val tot = v.agg(sum(col("t")).cast("bigint").as("n"))
    val d = graft.util.DistRank
      .globalPrefixSum(v, "below", col("xc"), col("t"))
      .crossJoin(broadcast(tot))
      .select(expr(
        "CAST(xc AS DECIMAL(38,0)) * t * (2*below + t - n)").as("term"))
      .agg(sum(col("term")).as("d2"))
    d.crossJoin(broadcast(tot)).selectExpr(gmdSelect: _*)
  }

  private def gmd(s: SparkSession, dir: String): DataFrame =
    gmdOn(pooled(s, dir), col("x"))

  private val gmdOracle =
    s"""WITH pooled AS (
       |  SELECT c_acctbal AS x
       |  FROM customer
       |  WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')),
       |$centCountsSql,
       |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM v),
       |p AS (
       |  SELECT xc, t,
       |    CAST(sum(t) OVER (ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - t AS below
       |  FROM v),
       |m AS (
       |  SELECT sum(CAST(xc AS DECIMAL(38,0)) * t
       |    * (2*below + t - (SELECT n FROM tot))) AS d2
       |  FROM p)
       |SELECT ${gmdSelect.mkString(",\n  ")}
       |FROM m CROSS JOIN tot""".stripMargin

  // ---- agg_bhattacharyya_overlap --------------------------------------
  // Bhattacharyya coefficient, Hellinger distance, and the overlap
  // coefficient between the two slices' 16-bin equal-width histograms
  // — how much mass the distributions share. Integer binning
  // ((xc − mn)·16 div (mx − mn + 1) — exact on both engines), per-bin
  // shares are exact rationals, √(p·q) is an identical-input libm
  // call, the 16-term sums are 6-dp-rounded; Hellinger clamps 1 − BC
  // at 0 before the sqrt so fp residue cannot produce NaN.
  private val BhBins = 16L

  private val bhSelect = Seq("n1", "n2",
    s"CAST($BhBins AS BIGINT) AS n_bins",
    "round(bc, 6) AS bhattacharyya",
    "round(sqrt(greatest(0.0E0, 1.0E0 - bc)), 6) AS hellinger",
    "round(ov, 6) AS overlap_coef")

  /** Generic histogram-overlap core over (value, group-1 indicator);
    * value converted to exact cents. */
  private[graft] def bhattacharyyaOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val base = twoSample(df, cents(valueCol), isGroup1, "xc")
    val mm = base.agg(min(col("xc")).as("mn"), max(col("xc")).as("mx"),
      sum(col("i1")).cast("bigint").as("n1"),
      sum(lit(1) - col("i1")).cast("bigint").as("n2"))
    val bins = base.crossJoin(broadcast(mm))
      .select(expr(s"(xc - mn)*$BhBins div (mx - mn + 1)").as("bin"),
        col("i1"))
      .groupBy(col("bin"))
      .agg(sum(col("i1")).cast("bigint").as("c1"),
        sum(lit(1) - col("i1")).cast("bigint").as("c2"))
    val sums = bins.crossJoin(broadcast(mm))
      .select(expr(
        """sqrt((CAST(c1 AS DOUBLE)/nullif(CAST(n1 AS DOUBLE), 0))
          |  * (CAST(c2 AS DOUBLE)/nullif(CAST(n2 AS DOUBLE), 0)))""".stripMargin)
        .as("bct"),
        expr(
          """least(CAST(c1 AS DOUBLE)/nullif(CAST(n1 AS DOUBLE), 0),
            |  CAST(c2 AS DOUBLE)/nullif(CAST(n2 AS DOUBLE), 0))""".stripMargin)
          .as("ovt"))
      .agg(sum(col("bct")).as("bc"), sum(col("ovt")).as("ov"))
    sums.crossJoin(broadcast(mm)).selectExpr(bhSelect: _*)
  }

  private def bhattacharyya(s: SparkSession, dir: String): DataFrame =
    bhattacharyyaOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val bhOracle =
    s"""WITH $pooledSql,
       |base AS (
       |  SELECT CAST(CAST(x AS DECIMAL(15,2))*100 AS BIGINT) AS xc, i1
       |  FROM pooled),
       |mm AS (SELECT min(xc) AS mn, max(xc) AS mx,
       |  CAST(sum(i1) AS BIGINT) AS n1,
       |  CAST(sum(1 - i1) AS BIGINT) AS n2 FROM base),
       |bins AS (
       |  SELECT (xc - mn)*$BhBins // (mx - mn + 1) AS bin,
       |    CAST(sum(i1) AS BIGINT) AS c1,
       |    CAST(sum(1 - i1) AS BIGINT) AS c2
       |  FROM base CROSS JOIN mm GROUP BY 1),
       |s AS (
       |  SELECT
       |    sum(sqrt((CAST(c1 AS DOUBLE)/nullif(CAST(n1 AS DOUBLE), 0))
       |      * (CAST(c2 AS DOUBLE)/nullif(CAST(n2 AS DOUBLE), 0)))) AS bc,
       |    sum(least(CAST(c1 AS DOUBLE)/nullif(CAST(n1 AS DOUBLE), 0),
       |      CAST(c2 AS DOUBLE)/nullif(CAST(n2 AS DOUBLE), 0))) AS ov
       |  FROM bins CROSS JOIN mm)
       |SELECT ${bhSelect.mkString(",\n  ")}
       |FROM s CROSS JOIN mm""".stripMargin

  // ---- agg_mood_scale_test -------------------------------------------
  // Mood's squared-rank DISPERSION test — the rank-based scale member
  // (Levene/Bartlett are moment-based and fragile under heavy tails;
  // Mann–Whitney is location-only): M = Σ_{group1}(r̄_i − (N+1)/2)²
  // with midranks. In doubled units 2·(r̄ − (N+1)/2) = 2·below + t − N
  // exactly, so 4M accumulates as exact DECIMAL products over the SAME
  // value grid + one prefix-sum pass; the normal approximation
  // E[M] = n₁(N²−1)/12, Var[M] = n₁n₂(N+1)(N²−4)/180 assembles in ONE
  // shared-text z (ties make the variance the standard approximation).
  private val moodZ =
    """((CAST(m4 AS DOUBLE)/4.0E0
      |    - CAST(n1 AS DOUBLE)*(CAST(n1 + n2 AS DOUBLE)*CAST(n1 + n2 AS DOUBLE) - 1.0E0)/12.0E0)
      |  / nullif(sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)
      |      *(CAST(n1 + n2 AS DOUBLE) + 1.0E0)
      |      *(CAST(n1 + n2 AS DOUBLE)*CAST(n1 + n2 AS DOUBLE) - 4.0E0)/180.0E0), 0))""".stripMargin
  private val moodSelect = Seq("n1", "n2",
    "CAST(m4 AS DOUBLE)/4.0E0 AS m_stat",
    s"${r6(moodZ)} AS z_stat",
    s"(abs($moodZ) > 1.959964E0) AS reject_equal_scale_5pct")

  /** Generic Mood-scale core over (value, group-1 indicator) — the
    * MW/KS grid + the same prefix-sum pass. */
  private[graft] def moodScaleOn(df: DataFrame, valueCol: Column,
      isGroup1: Column): DataFrame = {
    val v = grid(df, valueCol, isGroup1)
    val tot = groupSizes(v)
    // 2·(r̄ − (N+1)/2) = 2·below + t − N exactly (midrank identity),
    // so 4·M = Σ a·(2·below + t − N)² is exact end-to-end.
    val m = graft.util.DistRank
      .globalPrefixSum(v, "below", col("x"), col("a") + col("b"))
      .crossJoin(broadcast(tot))
      .select(expr(
        """CAST(a AS DECIMAL(38,0))
          | * (2*below + (a + b) - (n1 + n2))
          | * (2*below + (a + b) - (n1 + n2))""".stripMargin).as("term"))
      .agg(sum(col("term")).as("m4"))
    m.crossJoin(broadcast(tot)).selectExpr(moodSelect: _*)
  }

  private def moodScale(s: SparkSession, dir: String): DataFrame =
    moodScaleOn(pooled(s, dir), col("x"), col("i1") === 1)

  private val moodOracle =
    s"""WITH $pooledSql,
       |$vSql,
       |$totSql,
       |p AS (
       |  SELECT a, b,
       |    CAST(sum(a + b) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - (a + b) AS below
       |  FROM v),
       |m AS (
       |  SELECT sum(CAST(a AS DECIMAL(38,0))
       |    * (2*below + (a + b) - ((SELECT n1 FROM tot) + (SELECT n2 FROM tot)))
       |    * (2*below + (a + b) - ((SELECT n1 FROM tot) + (SELECT n2 FROM tot)))) AS m4
       |  FROM p)
       |SELECT ${moodSelect.mkString(",\n  ")}
       |FROM m CROSS JOIN tot""".stripMargin

  // ---- agg_logrank_test ----------------------------------------------
  // The two-sample log-rank (Mantel–Cox) test comparing the
  // AUTOMOBILE vs HOUSEHOLD customer-lifetime survival curves — THE
  // standard companion of `agg_survival_km`, with the same
  // end-of-window censoring rule. At each event time: O₁ += d₁ (exact
  // BIGINT), E₁ += d·n₁ᵣ/n, V += (d·n₁ᵣ/n)·(n₂ᵣ/n)·((n−d)/(n−1)) —
  // per-term doubles are identical on both engines (exact integer
  // inputs, fixed op order), sums 6-dp-floored; χ² = (O₁−E₁)²/V vs the
  // pinned χ²₁ 5% point. Risk sets ride ONE descending cumulative
  // window over the duration axis — bounded by the corpus day horizon.
  private val lrChi2 =
    """((CAST(o1 AS DOUBLE) - e1)*(CAST(o1 AS DOUBLE) - e1) / nullif(v, 0))"""
  private val lrSelect = Seq("n1", "n2", "n_event_times", "o1",
    "floor(e1*1e6 + 0.5)/1e6 AS e1",
    s"${r6(lrChi2)} AS chi2",
    s"(($lrChi2) > 3.841459E0) AS reject_same_survival_5pct")

  /** Generic two-sample log-rank core over per-subject
    * (duration, event flag, group-1 indicator) rows. */
  private[graft] def logrankOn(life: DataFrame, durCol: String,
      eventCol: String, isGroup1: Column): DataFrame = {
    val byDur = life
      .select(col(durCol).as("dur"), col(eventCol).as("evt"),
        isGroup1.cast("int").as("i1"))
      .groupBy(col("dur"))
      .agg(sum(col("i1")).cast("bigint").as("c1"),
        sum(lit(1) - col("i1")).cast("bigint").as("c2"),
        sum(col("evt") * col("i1")).cast("bigint").as("d1"),
        sum(col("evt") * (lit(1) - col("i1"))).cast("bigint").as("d2"))
    val wDesc = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = byDur
      .withColumn("n1r", sum(col("c1")).over(wDesc))
      .withColumn("n2r", sum(col("c2")).over(wDesc))
      .filter(col("d1") + col("d2") > 0)
    val terms = risk.select(
      col("d1"), (col("d1") + col("d2")).as("d"),
      col("n1r"), col("n2r"), (col("n1r") + col("n2r")).as("n"))
      .select(col("d1"),
        expr("CAST(d AS DOUBLE)*CAST(n1r AS DOUBLE)/CAST(n AS DOUBLE)").as("et"),
        expr(
          """(CAST(d AS DOUBLE)*CAST(n1r AS DOUBLE)/CAST(n AS DOUBLE))
            |  * (CAST(n2r AS DOUBLE)/CAST(n AS DOUBLE))
            |  * (CAST(n - d AS DOUBLE)/nullif(CAST(n - 1 AS DOUBLE), 0))""".stripMargin)
          .as("vt"))
    val tot = byDur.agg(
      sum(col("c1")).cast("bigint").as("n1"),
      sum(col("c2")).cast("bigint").as("n2"))
    terms.agg(count(lit(1)).as("n_event_times"),
        sum(col("d1")).cast("bigint").as("o1"),
        sum(col("et")).as("e1"), sum(col("vt")).as("v"))
      .crossJoin(broadcast(tot))
      .selectExpr(lrSelect: _*)
  }

  private def logrank(s: SparkSession, dir: String): DataFrame = {
    val life = load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(datediff(max(col("o_orderdate")), min(col("o_orderdate")))
        .cast("bigint").as("dur"),
        max(col("o_orderdate")).as("last_order"))
    val seg = load(s, dir, "customer")
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
      .select(col("c_custkey").as("o_custkey"),
        (col("c_mktsegment") === "AUTOMOBILE").cast("int").as("i1"))
    val horizon = broadcast(load(s, dir, "orders")
      .agg(date_sub(max(col("o_orderdate")).cast("date"), 183).as("cutoff")))
    val flagged = life.join(seg, "o_custkey").crossJoin(horizon)
      .select(col("dur"),
        (col("last_order").cast("date") <= col("cutoff")).cast("int").as("evt"),
        col("i1"))
    logrankOn(flagged, "dur", "evt", col("i1") === 1)
  }

  private val logrankOracle =
    s"""WITH life AS (
       |  SELECT o_custkey,
       |    CAST(datediff('day', min(o_orderdate), max(o_orderdate)) AS BIGINT)
       |      AS dur,
       |    max(o_orderdate) AS last_order
       |  FROM orders GROUP BY o_custkey),
       |seg AS (
       |  SELECT c_custkey AS o_custkey,
       |    CAST(c_mktsegment = 'AUTOMOBILE' AS INT) AS i1
       |  FROM customer
       |  WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')),
       |h AS (SELECT CAST(max(o_orderdate) AS DATE) - 183 AS cutoff FROM orders),
       |flagged AS (
       |  SELECT dur,
       |    CAST(CAST(last_order AS DATE) <= cutoff AS INT) AS evt, i1
       |  FROM life JOIN seg USING (o_custkey) CROSS JOIN h),
       |bydur AS (
       |  SELECT dur,
       |    CAST(sum(i1) AS BIGINT) AS c1,
       |    CAST(sum(1 - i1) AS BIGINT) AS c2,
       |    CAST(sum(evt * i1) AS BIGINT) AS d1,
       |    CAST(sum(evt * (1 - i1)) AS BIGINT) AS d2
       |  FROM flagged GROUP BY dur),
       |risk AS (
       |  SELECT d1, d1 + d2 AS d,
       |    CAST(sum(c1) OVER wd AS BIGINT) AS n1r,
       |    CAST(sum(c2) OVER wd AS BIGINT) AS n2r,
       |    CAST(sum(c1) OVER wd AS BIGINT) + CAST(sum(c2) OVER wd AS BIGINT) AS n
       |  FROM bydur
       |  WINDOW wd AS (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |terms AS (
       |  SELECT d1,
       |    CAST(d AS DOUBLE)*CAST(n1r AS DOUBLE)/CAST(n AS DOUBLE) AS et,
       |    (CAST(d AS DOUBLE)*CAST(n1r AS DOUBLE)/CAST(n AS DOUBLE))
       |      * (CAST(n2r AS DOUBLE)/CAST(n AS DOUBLE))
       |      * (CAST(n - d AS DOUBLE)/nullif(CAST(n - 1 AS DOUBLE), 0)) AS vt
       |  FROM risk WHERE d > 0),
       |tot AS (
       |  SELECT CAST(sum(i1) AS BIGINT) AS n1,
       |    CAST(sum(1 - i1) AS BIGINT) AS n2
       |  FROM flagged),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_event_times,
       |    CAST(sum(d1) AS BIGINT) AS o1,
       |    sum(et) AS e1, sum(vt) AS v
       |  FROM terms)
       |SELECT ${lrSelect.mkString(",\n  ")}
       |FROM g CROSS JOIN tot""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_welch_t" -> (welchT _),
    "agg_mann_whitney" -> (mannWhitney _),
    "agg_ks_test" -> (ksTest _),
    "agg_cliffs_delta" -> (cliffsDelta _),
    "agg_cvm_test" -> (cvmTest _),
    "agg_anderson_darling" -> (adTest _),
    "agg_wasserstein_distance" -> (wasserstein _),
    "agg_trimmed_winsorized_mean" -> (trimmedWinsorized _),
    "agg_brunner_munzel" -> (brunnerMunzel _),
    "agg_cohens_d" -> (cohensD _),
    "agg_qq_deciles" -> (qqDeciles _),
    "agg_median_ci" -> (medianCi _),
    "agg_gini_mean_diff" -> (gmd _),
    "agg_bhattacharyya_overlap" -> (bhattacharyya _),
    "agg_mood_scale_test" -> (moodScale _),
    "agg_logrank_test" -> (logrank _)
  )

  val oracle: Map[String, String] = Map(
    "agg_welch_t" -> welchOracle,
    "agg_mann_whitney" -> mannWhitneyOracle,
    "agg_ks_test" -> ksOracle,
    "agg_cliffs_delta" -> cliffsDeltaOracle,
    "agg_cvm_test" -> cvmOracle,
    "agg_anderson_darling" -> adOracle,
    "agg_wasserstein_distance" -> wassersteinOracle,
    "agg_trimmed_winsorized_mean" -> trimmedOracle,
    "agg_brunner_munzel" -> brunnerMunzelOracle,
    "agg_cohens_d" -> cohensDOracle,
    "agg_qq_deciles" -> qqOracle,
    "agg_median_ci" -> medianCiOracle,
    "agg_gini_mean_diff" -> gmdOracle,
    "agg_bhattacharyya_overlap" -> bhOracle,
    "agg_mood_scale_test" -> moodOracle,
    "agg_logrank_test" -> logrankOracle
  )
}
