package graft.ops.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import Samples._

/** k-sample tests across the five order priorities on order totals:
  *
  *  - `agg_anova_f`: one-way ANOVA F — between/within sum-of-squares
  *    decomposition and the F statistic with the large-sample 5%
  *    verdict. `agg_welch_t` compares TWO groups; ANOVA asks "do ANY
  *    of the k differ?" before any pairwise drill-down.
  *  - `agg_levene_test`: Brown-Forsythe/Levene W — the same one-way F
  *    on absolute deviations from each group's PICKED median. The
  *    precondition test for ANOVA (which assumes equal variances).
  *  - `agg_bartlett_test`: Bartlett's χ²₄ variance-homogeneity test —
  *    the PARAMETRIC twin of Levene: sharper under normality (which
  *    `agg_jarque_bera` checks), fragile outside it; a pipeline runs
  *    both and reads the disagreement.
  *  - `agg_tukey_hsd`: Tukey-Kramer HSD over all 10 priority pairs —
  *    the post-hoc after ANOVA rejects: WHICH groups differ?
  *  - `agg_kruskal_wallis`: Kruskal-Wallis H, tie-corrected, with the
  *    χ²₄ 5% verdict — the k-group rank test, the robust "do ANY of
  *    the k differ?" when normality fails.
  *  - `agg_dunn_posthoc`: Dunn's test with the Holm step-down
  *    adjustment — the rank post-hoc after Kruskal-Wallis rejects, on
  *    the SAME doubled-rank grid the omnibus H tested.
  *  - `agg_mood_median_test`: Mood's median test — above/not-above the
  *    GRAND median, then a χ²₄ independence test on the 2×5 table;
  *    valid under arbitrary (even different-shaped) group
  *    distributions, where Kruskal-Wallis assumes a common shape.
  *  - `agg_jonckheere_terpstra`: the ordered-alternative trend test —
  *    KW asks "do ANY differ?"; JT asks "do they INCREASE along
  *    1-URGENT → 5-LOW?", which is what a priority gradient predicts.
  *
  * Scale shapes: the moment tests are ONE conditional-aggregation pass
  * with the five groups in FIXED-ORDER columns (every cross-group sum
  * is one fixed left-to-right formula, never an engine-ordered SUM
  * over group rows); Levene first picks per-group medians over the
  * (group, cents) value-count relation. The rank tests never
  * materialize ranks per row: they reduce over the distinct-cents
  * COUNT grid, whose cumulative counts come from
  * [[graft.util.DistRank]]'s distributed prefix sums (o_totalprice is
  * a near-unique sum, so the grid is ~|orders|-sized — never a
  * single-partition window).
  *
  * Determinism: power sums are exact DECIMALs (§1.5 r7 VARCHAR oracle
  * route; §1.5 r9 DECIMAL(38,0) where Σc² passes 2^63); doubled
  * average ranks are exact integers, so rank sums and tie terms are
  * exact BIGINTs; every statistic assembles once from identical
  * formula text (n-degree products widened to DOUBLE before
  * multiplying) and verdicts compare after the 6-dp floor.
  */
object KSample {

  // ---- agg_anova_f -----------------------------------------------------
  private val anovaStats = oneWayF(
    "CAST(o_totalprice AS DECIMAL(15,2))",
    "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * CAST(o_totalprice AS DECIMAL(15,2)) AS DECIMAL(24,4))")

  // The SS magnitudes (~1e15 at sf0.1) break BOTH rounding forms:
  // the §1.5 floor-6 form overflows (Spark's floor(DOUBLE) returns
  // LONG, so x*1e6 ≈ 3e21 clamps to Long.MaxValue while DuckDB's
  // floor stays double), and round(x, 6) at 17 significant digits
  // makes each engine pick a different representable neighbor. The
  // assembled doubles are bit-identical by construction (exact sums,
  // identical formula text), so the SS columns surface RAW; the
  // O(1)-scale F keeps the floor form (F(4,∞) 5% critical 2.3719).
  private val anovaOut = Seq(
    s"CAST(${anovaStats.n} AS BIGINT) AS n",
    s"(${anovaStats.ssb}) AS ss_between",
    s"(${anovaStats.ssw}) AS ss_within",
    s"${anovaStats.f} AS f_stat",
    s"(${anovaStats.f} > 2.3719) AS reject_equal_means_5pct")

  private[graft] def anovaFOn(orders: DataFrame): DataFrame = {
    val cols = aggColumns(anovaStats.aggs)
    orders.agg(cols.head, cols.tail: _*).selectExpr(anovaOut: _*)
  }

  private def anovaF(s: SparkSession, dir: String): DataFrame =
    anovaFOn(load(s, dir, "orders"))

  private def anovaFOracle: String =
    s"""WITH g AS (
       |  SELECT
       |    ${aggregateSql(anovaStats.aggs)}
       |  FROM orders)
       |SELECT
       |  ${anovaOut.mkString(",\n  ")}
       |FROM g""".stripMargin

  // ---- agg_levene_test -------------------------------------------------
  // Prices become exact cents, medians and deviations z exact BIGINTs;
  // Σz per group stays in BIGINT (≤ 2^53, cast to double exactly on
  // both engines) while Σz² goes through DECIMAL(38,0) (§1.5 rule 9).
  private val leveneF = oneWayF("z", "CAST(z*z AS DECIMAL(38,0))",
    (inner, alias) => {
      val e = s"CAST(sum($inner) AS DOUBLE)"
      StatAgg(alias, e, e)
    })

  private val lvOut = Seq(
    s"CAST(${leveneF.n} AS BIGINT) AS n",
    s"${leveneF.f} AS w_stat",
    s"(${leveneF.f} > 2.3719) AS reject_equal_variance_5pct")

  private[graft] def leveneOn(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderpriority"),
      cents(col("o_totalprice")).as("c"))
    val cnts = o.groupBy(col("o_orderpriority"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(col("o_orderpriority")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = cnts
      .select(col("o_orderpriority"), col("c"),
        sum(col("cnt")).over(wc).as("cum"),
        sum(col("cnt")).over(Window.partitionBy(col("o_orderpriority")))
          .as("ng"))
      .groupBy(col("o_orderpriority"))
      .agg(min(when(col("cum") * 2 >= col("ng"), col("c"))).as("med"))
    val cols = aggColumns(leveneF.aggs)
    o.join(broadcast(med), "o_orderpriority")
      .select(col("o_orderpriority"), abs(col("c") - col("med")).as("z"))
      .agg(cols.head, cols.tail: _*)
      .selectExpr(lvOut: _*)
  }

  private def levene(s: SparkSession, dir: String): DataFrame =
    leveneOn(load(s, dir, "orders"))

  private def leveneOracle: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority,
       |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) AS c
       |  FROM orders),
       |cnts AS (
       |  SELECT o_orderpriority, c, CAST(count(*) AS BIGINT) AS cnt
       |  FROM o GROUP BY 1, 2),
       |cum AS (
       |  SELECT o_orderpriority, c,
       |    CAST(sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY o_orderpriority) AS BIGINT)
       |      AS ng
       |  FROM cnts),
       |med AS (
       |  SELECT o_orderpriority,
       |    CAST(min(CASE WHEN cum * 2 >= ng THEN c END) AS BIGINT) AS med
       |  FROM cum GROUP BY 1),
       |zs AS (
       |  SELECT o.o_orderpriority, abs(c - med) AS z
       |  FROM o JOIN med USING (o_orderpriority)),
       |g AS (
       |  SELECT
       |    ${aggregateSql(leveneF.aggs)}
       |  FROM zs)
       |SELECT
       |  ${lvOut.mkString(",\n  ")}
       |FROM g""".stripMargin

  // ---- agg_bartlett_test ---------------------------------------------------
  private val K = Priorities.size

  // X² = [(N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(sᵢ²)] / C,
  // C = 1 + (Σ 1/(nᵢ−1) − 1/(N−k)) / (3(k−1)).
  private val btNk = (0 until K).map(i => s"n$i").mkString(" + ")
  private val btSp =
    s"""((${(0 until K).map(i =>
        s"(CAST(n$i AS DOUBLE) - 1)*(${varF(i)})").mkString(" + ")})
       | / nullif(CAST(($btNk) AS DOUBLE) - $K, 0))""".stripMargin
  // ln(nullif(·, 0)): a zero variance (constant group) must yield
  // NULL identically — Spark's ln(0) is already NULL but DuckDB's is
  // -inf, and the law's brute fold needs one contract (scalacheck-
  // found via chooseNum's endpoint bias producing constant groups).
  private val btChi =
    s"""(((CAST(($btNk) AS DOUBLE) - $K)*ln(nullif($btSp, 0))
       | - (${(0 until K).map(i =>
          s"(CAST(n$i AS DOUBLE) - 1)*ln(nullif(${varF(i)}, 0))").mkString(" + ")}))
       | / (1 + ((${(0 until K).map(i =>
          s"1/nullif(CAST(n$i AS DOUBLE) - 1, 0)").mkString(" + ")})
       |   - 1/nullif(CAST(($btNk) AS DOUBLE) - $K, 0))
       |   / (3*($K - 1))))""".stripMargin
  private val btChiF = r6(btChi)

  private[graft] def bartlettOn(orders: DataFrame): DataFrame = {
    val aggs = centMoments(Priorities)
    priorityCents(orders).groupBy().agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"CAST($btNk AS BIGINT) AS n",
        s"CAST($K AS BIGINT) AS k",
        s"$btChiF AS bartlett_chi2",
        s"($btChiF > 9.487729) AS reject_equal_variance_5pct")
  }

  private def bartlettTest(s: SparkSession, dir: String): DataFrame =
    bartlettOn(load(s, dir, "orders"))

  private val bartlettOracle =
    s"""WITH $priorityCentsSql,
       |g AS (
       |  SELECT
       |    ${centMomentsSql(Priorities)}
       |  FROM o)
       |SELECT CAST($btNk AS BIGINT) AS n,
       |  CAST($K AS BIGINT) AS k,
       |  $btChiF AS bartlett_chi2,
       |  ($btChiF > 9.487729) AS reject_equal_variance_5pct
       |FROM g""".stripMargin

  // ---- agg_tukey_hsd -------------------------------------------------------
  // Studentized range q = |m_i − m_j| / sqrt(MSE/2·(1/n_i + 1/n_j))
  // (the Kramer unequal-n form) against the asymptotic q(5, ∞) 5%
  // critical 3.858 (documented, mirrored in the oracle). Family-wise
  // error stays at 5% across all 10 comparisons — the property 10
  // separate Welch t-tests forfeit. After the one aggregate, a 1-row
  // → 10-row `stack`: no joins, no windows; mean_diff surfaces in
  // dollars and the reject flag compares the ALREADY-floored q.
  private val ThCrit = "3.858"

  private val thN = (0 until K).map(i => s"n$i").mkString(" + ")
  // MSE = Σ_i (Σc²_i − (Σc_i)²/n_i) / (N − k), all from the decimal
  // sums (q_i, s_i already double columns).
  private val thMse =
    s"""((${(0 until K).map(i =>
        s"(q$i - s$i*s$i/nullif(CAST(n$i AS DOUBLE), 0))").mkString(" + ")})
       | / nullif(CAST(($thN) AS DOUBLE) - $K, 0))""".stripMargin

  private def thDiffF(i: Int, j: Int): String =
    r6(s"""(s$i/nullif(CAST(n$i AS DOUBLE), 0)
       | - s$j/nullif(CAST(n$j AS DOUBLE), 0))/100""".stripMargin)
  private def thQF(i: Int, j: Int): String =
    r6(s"""abs(s$i/nullif(CAST(n$i AS DOUBLE), 0)
       | - s$j/nullif(CAST(n$j AS DOUBLE), 0))
       | / nullif(sqrt((mse/2)*(1/nullif(CAST(n$i AS DOUBLE), 0)
       |   + 1/nullif(CAST(n$j AS DOUBLE), 0))), 0)""".stripMargin)

  private val thPairs =
    for (i <- 0 until K; j <- (i + 1) until K) yield (i, j)

  private[graft] def tukeyOn(orders: DataFrame): DataFrame = {
    val aggs = centMoments(Priorities)
    val stackArgs = thPairs.map { case (i, j) =>
      s"'${Priorities(i)}', '${Priorities(j)}', ${thDiffF(i, j)}, " +
        s"${thQF(i, j)}, (${thQF(i, j)} > $ThCrit)" }.mkString(", ")
    priorityCents(orders).groupBy().agg(aggs.head, aggs.tail: _*)
      .withColumn("mse", expr(thMse))
      .selectExpr(s"stack(${thPairs.size}, $stackArgs) AS " +
        "(group_a, group_b, mean_diff, q_stat, reject_pair_5pct)")
      .orderBy("group_a", "group_b")
  }

  private def tukeyHsd(s: SparkSession, dir: String): DataFrame =
    tukeyOn(load(s, dir, "orders"))

  private val tukeyOracle = {
    val branches = thPairs.map { case (i, j) =>
      s"""SELECT '${Priorities(i)}' AS group_a, '${Priorities(j)}' AS group_b,
         |  ${thDiffF(i, j)} AS mean_diff,
         |  ${thQF(i, j)} AS q_stat,
         |  (${thQF(i, j)} > $ThCrit) AS reject_pair_5pct
         |FROM m""".stripMargin }.mkString("\nUNION ALL\n")
    s"""WITH $priorityCentsSql,
       |g AS (
       |  SELECT
       |    ${centMomentsSql(Priorities)}
       |  FROM o),
       |m AS (SELECT *, $thMse AS mse FROM g)
       |$branches
       |ORDER BY group_a, group_b""".stripMargin
  }

  // ---- agg_kruskal_wallis ----------------------------------------------
  // H = (3·Σ_g (R2_g)²/n_g) / (n(n+1)) − 3(n+1), from DOUBLED rank
  // sums R2_g (12/4 = 3); tie-corrected H' = H / (1 − Σ(t³−t)/(n³−n)).
  private val kwN = (0 until 5).map(i => s"n$i").mkString(" + ")
  private val kwH =
    s"""((3*(${(0 until 5).map(i =>
        s"CAST(r$i AS DOUBLE)*r$i/nullif(n$i, 0)").mkString(" + ")}))
       | / ((CAST(($kwN) AS DOUBLE))*(($kwN) + 1)) - 3*(($kwN) + 1))""".stripMargin
  // n³ widens to DOUBLE before multiplying: a BIGINT cube wraps in
  // Spark (ANSI off) but raises in DuckDB once n > ~2.09e6, so the
  // engines would diverge at sf>=1; the ratio is double math anyway.
  private val kwHc =
    r6(s"($kwH / nullif(1 - CAST(tt AS DOUBLE)/(CAST(($kwN) AS DOUBLE)*($kwN)*($kwN) - ($kwN)), 0))")

  /** Shared doubled-rank relations over the (priority, total-price)
    * grid — `agg_dunn_posthoc` reuses these, so the post-hoc z's rank
    * on EXACTLY the grid the omnibus H tested: ranked = per distinct
    * value (c, cnt, r2) with the exact doubled average rank
    * 2·below + cnt + 1, where `below` comes from
    * [[graft.util.DistRank.globalPrefixSum]] (range partitions +
    * broadcast offsets — no single-partition window at any width);
    * gc = (g, c, gcnt) group-value counts. */
  private[graft] def doubledRanks(orders: DataFrame): (DataFrame, DataFrame) = {
    val o = priorityCents(orders)
    // Distinct-value axis: per value, total count and the count of
    // strictly-smaller rows (distributed exclusive prefix sum), then
    // the exact doubled average rank 2·below + cnt + 1. The tie term
    // Σ(t³−t) and the grand total Σt ride the SAME ranged pass as
    // constant `tt`/`nn` columns (DistRank totals — exact BIGINT
    // sums), so each consumer reads `ranked` exactly once, with no
    // separate total aggregate or crossJoin broadcast.
    val vc = o.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.util.DistRank
      .globalPrefixSumsWithTotals(vc, Seq("below" -> col("cnt")), col("c"),
        totals = Seq(
          "tt" -> (col("cnt") * col("cnt") * col("cnt") - col("cnt")),
          "nn" -> col("cnt")))
      .select(col("c"), col("cnt"),
        (lit(2L) * col("below") + col("cnt") + 1L).as("r2"),
        col("tt"), col("nn"))
    val gc = o.groupBy(col("g"), col("c")).agg(count(lit(1)).as("gcnt"))
    (ranked, gc)
  }

  private[graft] def kruskalWallisOn(orders: DataFrame): DataFrame = {
    val (ranked, gc) = doubledRanks(orders)
    val joined = gc.join(ranked, "c")
    // tt is a whole-relation constant on every ranked row, so max()
    // inside the one group aggregate recovers it.
    val aggs =
      Priorities.zipWithIndex.flatMap { case (p, i) => Seq(
        sum(when(col("g") === p, col("gcnt")).otherwise(0L)).as(s"n$i"),
        sum(when(col("g") === p, col("gcnt") * col("r2")).otherwise(0L))
          .as(s"r$i")) } :+ max(col("tt")).as("tt")
    joined.groupBy().agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"CAST($kwN AS BIGINT) AS n",
        s"$kwHc AS h_stat",
        s"($kwHc > 9.487729) AS reject_equal_dist_5pct")
  }

  private def kruskalWallis(s: SparkSession, dir: String): DataFrame =
    kruskalWallisOn(load(s, dir, "orders"))

  /** The rank-grid CTEs (o/vc/ranked/gc) as SINGLE shared SQL text —
    * the Dunn post-hoc oracle composes from the same string, so the
    * two replicas cannot drift apart. */
  private val kwRankCtes =
    s"""$priorityCentsSql,
       |vc AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
       |ranked AS (
       |  SELECT c, cnt,
       |    2*(CAST(sum(cnt) OVER (ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - cnt) + cnt + 1 AS r2
       |  FROM vc),
       |gc AS (SELECT g, c, CAST(count(*) AS BIGINT) AS gcnt
       |  FROM o GROUP BY 1, 2)""".stripMargin

  private def kruskalWallisOracle: String = {
    val aggDefs = Priorities.zipWithIndex.flatMap { case (p, i) => Seq(
      s"CAST(sum(CASE WHEN g = '$p' THEN gcnt ELSE 0 END) AS BIGINT) AS n$i",
      s"CAST(sum(CASE WHEN g = '$p' THEN gcnt * r2 ELSE 0 END) AS BIGINT) AS r$i")
    }.mkString(",\n    ")
    s"""WITH $kwRankCtes,
       |sums AS (
       |  SELECT
       |    $aggDefs
       |  FROM gc JOIN ranked USING (c)),
       |ties AS (
       |  SELECT CAST(sum(cnt*cnt*cnt - cnt) AS BIGINT) AS tt FROM ranked),
       |g AS (SELECT * FROM sums CROSS JOIN ties)
       |SELECT
       |  CAST($kwN AS BIGINT) AS n,
       |  $kwHc AS h_stat,
       |  ($kwHc > 9.487729) AS reject_equal_dist_5pct
       |FROM g""".stripMargin
  }

  // ---- agg_dunn_posthoc --------------------------------------------------
  // All 10 pairwise z's come from the doubled-rank grid above, with the
  // tie-corrected pooled variance S² = N(N+1)/12 − Σ(t³−t)/(12(N−1))
  // shared with KW's tie term. Holm runs step-down on the z scale:
  // pairs sorted by |z| desc, step l compared against the pinned
  // two-sided normal quantile for α/(m−l+1) (α = 0.05, m = 10), and a
  // pair is significant only while every earlier step also passed
  // (the running min). z is 12-dp rounded before the |z| ordering (id
  // tie-breaks) and 6-dp floored on surface.

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
    val (ranked, gc) = doubledRanks(orders)
    // nn/tt are whole-relation constants riding every ranked row, so
    // this one aggregate recovers them; the lazy checkpoint lets the
    // final action's self-join materialize gstats once and read the
    // blocks twice, without a standalone checkpoint job.
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
    s"""WITH $kwRankCtes,
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

  // ---- agg_mood_median_test ----------------------------------------------
  // χ² over the 2×5 table from the ten observed counts: row sums
  // ca/cb, column sums a_i + b_i, expected E = row·col/n. The grand
  // median is the LOWER median (smallest value whose cumulative count
  // reaches ⌈n/2⌉ — an exact integer selection, engine-identical).
  private val mdChi = {
    val ca = (0 until 5).map(i => s"a$i").mkString(" + ")
    val cb = (0 until 5).map(i => s"b$i").mkString(" + ")
    val terms = (0 until 5).flatMap { i => Seq(
      s"""pow(a$i - CAST(($ca) AS DOUBLE)*(a$i + b$i)/n, 2)
         | / nullif(CAST(($ca) AS DOUBLE)*(a$i + b$i)/n, 0)""".stripMargin,
      s"""pow(b$i - CAST(($cb) AS DOUBLE)*(a$i + b$i)/n, 2)
         | / nullif(CAST(($cb) AS DOUBLE)*(a$i + b$i)/n, 0)""".stripMargin)
    }.mkString("\n + ")
    s"($terms)"
  }
  private val mdChiF = r6(mdChi)

  private[graft] def moodMedianOn(orders: DataFrame): DataFrame = {
    val o = priorityCents(orders)
    val vc = o.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    // lower median: smallest value whose cumulative count reaches
    // ceil(n/2) — exact integer selection on the distinct-value axis;
    // the grand total n rides the prefix-sum pass as a constant
    // column (DistRank totals — exact BIGINT).
    val med = graft.util.DistRank.globalPrefixSumsWithTotals(vc,
        Seq("below" -> col("cnt")), col("c"),
        totals = Seq("n" -> col("cnt")))
      .filter(col("below") + col("cnt") >= expr("(n + 1) div 2"))
      .agg(min(col("c")).as("median_c"))
    val aggs =
      Priorities.zipWithIndex.flatMap { case (p, i) => Seq(
        sum(when(col("g") === p && col("c") > col("median_c"), 1L)
          .otherwise(0L)).as(s"a$i"),
        sum(when(col("g") === p && col("c") <= col("median_c"), 1L)
          .otherwise(0L)).as(s"b$i")) }
    o.crossJoin(broadcast(med))
      .groupBy().agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(med))
      .withColumn("n",
        expr((0 until 5).map(i => s"a$i + b$i").mkString(" + ")))
      .selectExpr("median_c AS median_cents",
        "CAST(n AS BIGINT) AS n_rows",
        s"$mdChiF AS chi2_stat",
        s"($mdChiF > 9.487729) AS reject_equal_medians_5pct")
  }

  private def moodMedianTest(s: SparkSession, dir: String): DataFrame =
    moodMedianOn(load(s, dir, "orders"))

  private val moodMedianOracle = {
    val aggDefs = Priorities.zipWithIndex.flatMap { case (p, i) => Seq(
      s"CAST(sum(CASE WHEN g = '$p' AND c > median_c THEN 1 ELSE 0 END) AS BIGINT) AS a$i",
      s"CAST(sum(CASE WHEN g = '$p' AND c <= median_c THEN 1 ELSE 0 END) AS BIGINT) AS b$i")
    }.mkString(",\n    ")
    s"""WITH $priorityCentsSql,
       |vc AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vc),
       |med AS (
       |  SELECT min(c) AS median_c FROM (
       |    SELECT c,
       |      CAST(sum(cnt) OVER (ORDER BY c
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS cum
       |    FROM vc) CROSS JOIN tot
       |  WHERE cum >= (n + 1) // 2),
       |cells AS (
       |  SELECT
       |    $aggDefs
       |  FROM o CROSS JOIN med),
       |g AS (
       |  SELECT cells.*, med.median_c,
       |    ${(0 until 5).map(i => s"a$i + b$i").mkString(" + ")} AS n
       |  FROM cells CROSS JOIN med)
       |SELECT median_c AS median_cents,
       |  CAST(n AS BIGINT) AS n_rows,
       |  $mdChiF AS chi2_stat,
       |  ($mdChiF > 9.487729) AS reject_equal_medians_5pct
       |FROM g""".stripMargin
  }

  // ---- agg_jonckheere_terpstra ---------------------------------------------
  // 2·JT = Σ_v Σ_{i<j} n_j(v)·(2·cum<_i(v) + n_i(v)) (the doubled
  // Mann-Whitney identity summed over ordered group pairs), exact
  // BIGINT: one 5-column pivot of the (group, value) counts, ONE
  // distributed prefix-sum pass over the distinct-cents axis, one
  // exact-integer aggregate. The tie-corrected normal moments use the
  // Hollander-Wolfe three-term variance.

  // Per-value 2·JT contribution over the 10 ordered pairs, fixed
  // left-assoc order; n_i / cum_i are the pivot columns below.
  private val jtContrib = (for {
    i <- Priorities.indices; j <- Priorities.indices if i < j
  } yield s"n$j*(2*cum$i + n$i)").mkString("(", " + ", ")")

  private def sumOver(f: Int => String): String =
    Priorities.indices.map(f).mkString("(", " + ", ")")

  // Hollander-Wolfe tie-corrected moments of 2·JT; every cubic
  // widens to DOUBLE before multiplying (the kwHc overflow rule:
  // BIGINT cubes wrap in Spark and raise in DuckDB at large N).
  private val jtE2 =
    s"((CAST(nn AS DOUBLE)*nn - ${sumOver(i => s"CAST(n$i AS DOUBLE)*n$i")})/2)"
  private val jtVar1 =
    s"""((CAST(nn AS DOUBLE)*(nn - 1)*(2*nn + 5)
       |   - ${sumOver(i => s"CAST(n$i AS DOUBLE)*(n$i - 1)*(2*n$i + 5)")}
       |   - CAST(t1 AS DOUBLE))/72
       | + ${sumOver(i => s"CAST(n$i AS DOUBLE)*(n$i - 1)*(n$i - 2)")}
       |   * CAST(t2 AS DOUBLE)
       |   / (36*CAST(nn AS DOUBLE)*(nn - 1)*(nn - 2))
       | + ${sumOver(i => s"CAST(n$i AS DOUBLE)*(n$i - 1)")}
       |   * CAST(t3 AS DOUBLE)
       |   / (8*CAST(nn AS DOUBLE)*(nn - 1)))""".stripMargin
  // nullif: the all-values-identical degenerate has variance exactly
  // 0 (the double arithmetic is exact there) — z must be NULL on
  // both engines, not an engine-specific 0/0.
  private val jtZ =
    s"((CAST(jt2 AS DOUBLE) - $jtE2) / (2*sqrt(nullif($jtVar1, 0))))"

  private[graft] def jonckheereOn(orders: DataFrame): DataFrame = {
    val pivots = Priorities.zipWithIndex.map { case (p, i) =>
      sum(when(col("g") === p, 1L).otherwise(0L)).as(s"n$i") }
    val grid = priorityCents(orders).groupBy(col("c"))
      .agg(pivots.head, pivots.tail: _*)
    // All five per-group cumulative counts ride ONE distributed
    // prefix-sum pass (range partitions + broadcast offsets, one
    // shared partition-local Window).
    val withCum = graft.util.DistRank.globalPrefixSums(grid,
        Priorities.indices.map(i => s"cum$i" -> col(s"n$i")), col("c"))
      .select((Priorities.indices.map(i => col(s"n$i")) ++
        Priorities.indices.map(i => col(s"cum$i"))): _*)
    val perValue = withCum.select(
      (expr(s"$jtContrib").as("contrib") +:
        Priorities.indices.map(i => col(s"n$i"))) :+
      expr(Priorities.indices.map(i => s"n$i").mkString(" + ")).as("t"): _*)
    val aggCols =
      (sum(col("contrib")).as("jt2") +:
        Priorities.indices.map(i => sum(col(s"n$i")).as(s"n$i"))) ++
      Seq(sum(col("t")).as("nn"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("t1"),
        sum(col("t") * (col("t") - 1) * (col("t") - 2)).as("t2"),
        sum(col("t") * (col("t") - 1)).as("t3"))
    perValue.groupBy().agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("CAST(nn AS BIGINT) AS n", "jt2 AS jt_x2",
        s"${r6(jtZ)} AS z_stat",
        s"(abs($jtZ) > 1.959964) AS reject_no_trend_5pct")
  }

  private def jonckheereTerpstra(s: SparkSession, dir: String): DataFrame =
    jonckheereOn(load(s, dir, "orders"))

  private val jonckheereOracle = {
    val pivotDefs = Priorities.zipWithIndex.map { case (p, i) =>
      s"CAST(sum(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n$i" }
      .mkString(",\n    ")
    val cumDefs = Priorities.indices.map(i =>
      s"CAST(sum(n$i) OVER w AS BIGINT) - n$i AS cum$i").mkString(",\n    ")
    val nTot = Priorities.indices.map(i => s"n$i").mkString(" + ")
    s"""WITH $priorityCentsSql,
       |grid AS (
       |  SELECT c,
       |    $pivotDefs
       |  FROM o GROUP BY 1),
       |wc AS (
       |  SELECT ${Priorities.indices.map(i => s"n$i").mkString(", ")},
       |    $cumDefs
       |  FROM grid
       |  WINDOW w AS (ORDER BY c
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |g AS (
       |  SELECT CAST(sum($jtContrib) AS BIGINT) AS jt2,
       |    ${Priorities.indices.map(i =>
              s"CAST(sum(n$i) AS BIGINT) AS n$i").mkString(",\n    ")},
       |    CAST(sum($nTot) AS BIGINT) AS nn,
       |    CAST(sum(($nTot)*(($nTot) - 1)*(2*($nTot) + 5)) AS BIGINT) AS t1,
       |    CAST(sum(($nTot)*(($nTot) - 1)*(($nTot) - 2)) AS BIGINT) AS t2,
       |    CAST(sum(($nTot)*(($nTot) - 1)) AS BIGINT) AS t3
       |  FROM wc)
       |SELECT CAST(nn AS BIGINT) AS n, jt2 AS jt_x2,
       |  ${r6(jtZ)} AS z_stat,
       |  (abs($jtZ) > 1.959964) AS reject_no_trend_5pct
       |FROM g""".stripMargin
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_anova_f" -> (anovaF _),
    "agg_levene_test" -> (levene _),
    "agg_bartlett_test" -> (bartlettTest _),
    "agg_tukey_hsd" -> (tukeyHsd _),
    "agg_kruskal_wallis" -> (kruskalWallis _),
    "agg_dunn_posthoc" -> (dunnPosthoc _),
    "agg_mood_median_test" -> (moodMedianTest _),
    "agg_jonckheere_terpstra" -> (jonckheereTerpstra _)
  )

  val oracle: Map[String, String] = Map(
    "agg_anova_f" -> anovaFOracle,
    "agg_levene_test" -> leveneOracle,
    "agg_bartlett_test" -> bartlettOracle,
    "agg_tukey_hsd" -> tukeyOracle,
    "agg_kruskal_wallis" -> kruskalWallisOracle,
    "agg_dunn_posthoc" -> dunnOracle,
    "agg_mood_median_test" -> moodMedianOracle,
    "agg_jonckheere_terpstra" -> jonckheereOracle
  )
}
