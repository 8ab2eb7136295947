package graft.ops.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import Samples._

/** Association between two variables — contingency tables and rank
  * correlation:
  *
  *  - `agg_chi_square`: chi-square independence cells for market
  *    segment × order priority.
  *  - `agg_cramers_v`: Cramér's V (with the Bergsma bias-corrected
  *    variant) over the same segment × priority table — the EFFECT
  *    SIZE a chi-square reader asks for next. The 5×5 domain is FIXED
  *    by the corpus dictionary, so the χ² total is a fixed-text sum of
  *    25 terms — same tree, same order, both engines.
  *  - `agg_odds_ratio`: the 2×2 odds ratio between urgent priority and
  *    high-value orders (> $250k), with the Woolf log-interval 95% CI.
  *  - `agg_mantel_haenszel`: the Mantel-Haenszel pooled odds ratio of
  *    the SAME 2×2 STRATIFIED by market segment, next to the crude OR
  *    — the "is the association confounded by segment mix?" read.
  *  - `agg_fisher_exact`: Fisher's exact test on the 2×2 of supplier
  *    region (EUROPE vs rest) × account standing (negative vs not) —
  *    the small-count companion of the Woolf asymptotics: two-sided p
  *    by the "sum all tables no more probable than observed" rule with
  *    R's 1e-7 relative slack, which also absorbs cross-engine libm
  *    drift at inclusion boundaries.
  *  - `agg_spearman_rho`: Spearman's ρ between per-customer order
  *    count and total spend — Pearson on average ranks, robust to the
  *    spend distribution's heavy tail.
  *  - `agg_kendall_tau_b`: Kendall's τ-b between lineitem quantity and
  *    discount — concordant/discordant pair counting with the
  *    tie-adjusted denominator.
  *
  * Scale shapes: the tables are ONE map-side-combining conditional
  * aggregate over the fact (dimensions broadcast); everything after is
  * expression work on aggregate-sized rows. Spearman ranks both
  * variables on their DISTINCT value axes via
  * [[graft.util.DistRank.globalPrefixSum]] and joins the rank maps
  * back by value; Kendall exploits the BOUNDED value grid (≤50
  * quantities × ≤11 discount cents), so the O(n²) pair count collapses
  * to a cell×cell self-join of two ≤550-row relations.
  *
  * Determinism: cells are exact BIGINTs; O(n²) moments accumulate in
  * DECIMAL(38,0) (§1.5 r9) with the oracle's VARCHAR routing (§1.5 r7);
  * every statistic assembles once from shared formula text (margin
  * zero-checks compare INTEGERS, never products); verdicts compare
  * after the 6-dp floor.
  */
object Association {

  // ---- agg_chi_square ----------------------------------------------
  // The textbook (n−e)²/e is algebraically lifted to exact integers
  // first: with g the grand total, r/c the margins,
  // contrib = (n·g − r·c)² / (g·r·c) — every input an exact BIGINT,
  // so the double expression tree is bit-deterministic in both
  // engines (products of exact ints are correctly rounded once,
  // same associativity, shared text). Margins are free windows over
  // the |segments|×|priorities| aggregate. No chi² total row: a
  // cross-engine double sum over a data-dependent cell set would be
  // accumulation-order-dependent; the per-cell surface is exact.
  private val contribTerm =
    "round((CAST(n AS DOUBLE) * CAST(g AS DOUBLE) - " +
      "CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) * " +
      "(CAST(n AS DOUBLE) * CAST(g AS DOUBLE) - " +
      "CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / " +
      "(CAST(g AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)), 6)"

  private def chiSquare(s: SparkSession, dir: String): DataFrame = {
    val cells = load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("r", sum(col("n")).over(Window.partitionBy("segment")))
      .withColumn("c", sum(col("n")).over(Window.partitionBy("priority")))
      .withColumn("g", sum(col("n")).over(Window.partitionBy()))
      .select(col("segment"), col("priority"), col("n"),
        round(col("r").cast("double") * col("c").cast("double") /
          col("g").cast("double"), 6).as("n_exp"),
        expr(contribTerm).as("contrib"))
      .orderBy("segment", "priority")
  }

  private val chiSquareOracle =
    s"""WITH cells AS (
       |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY segment, priority),
       |m AS (
       |  SELECT segment, priority, n,
       |    sum(n) OVER (PARTITION BY segment) AS r,
       |    sum(n) OVER (PARTITION BY priority) AS c,
       |    sum(n) OVER () AS g
       |  FROM cells)
       |SELECT segment, priority, n,
       |  round(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(g AS DOUBLE), 6)
       |    AS n_exp,
       |  $contribTerm AS contrib
       |FROM m ORDER BY segment, priority""".stripMargin

  // ---- agg_cramers_v -----------------------------------------------------
  // Fixing the 5 × 5 domain in the query text is what makes the χ²
  // TOTAL deterministic — the 25 terms sum in one fixed-text
  // expression instead of a data-ordered aggregation.
  private val cvIJ =
    for (i <- Segments.indices; j <- Priorities.indices) yield (i, j)

  private def cvCellAgg(i: Int, j: Int): String =
    s"CAST(sum(CASE WHEN c_mktsegment = '${Segments(i)}' AND " +
      s"o_orderpriority = '${Priorities(j)}' THEN 1 ELSE 0 END) AS BIGINT)"

  private val cvMargins: Seq[String] =
    Segments.indices.map(i =>
      Priorities.indices.map(j => s"n$i$j").mkString("+") + s" AS r$i") ++
    Priorities.indices.map(j =>
      Segments.indices.map(i => s"n$i$j").mkString("+") + s" AS c$j") :+
    (cvIJ.map { case (i, j) => s"n$i$j" }.mkString("+") + " AS g")

  // Zero-margin cells contribute 0 by definition (their expected
  // count is 0); the CASE compares the margin INTEGERS to 0 rather
  // than their product, so the guard cannot overflow at any scale.
  private val cvChi2: String = cvIJ.map { case (i, j) =>
    s"(CASE WHEN r$i = 0 OR c$j = 0 THEN CAST(0 AS DOUBLE) ELSE " +
      s"(CAST(n$i$j AS DOUBLE)*g - CAST(r$i AS DOUBLE)*c$j)" +
      s"*(CAST(n$i$j AS DOUBLE)*g - CAST(r$i AS DOUBLE)*c$j)" +
      s"/(CAST(g AS DOUBLE)*r$i*c$j) END)"
  }.mkString(" + ")
  private val cvRowsUsed = "CAST(" + Segments.indices
    .map(i => s"(CASE WHEN r$i > 0 THEN 1 ELSE 0 END)").mkString("+") +
    " AS BIGINT)"
  private val cvColsUsed = "CAST(" + Priorities.indices
    .map(j => s"(CASE WHEN c$j > 0 THEN 1 ELSE 0 END)").mkString("+") +
    " AS BIGINT)"

  // V = sqrt(χ²/(g·(min(R,C)−1))); the Bergsma correction subtracts
  // the independence-expected φ² and shrinks the effective table
  // dims — both guarded NULL on the degenerate 1×c / r×1 / g≤1
  // tables (nullif), never a divide-by-zero or sqrt(negative)
  // (greatest(0, ·) clamps the corrected φ²).
  private val cvFinal: Seq[String] = Seq(
    "g AS n_total", "rr AS n_rows_used", "cc AS n_cols_used",
    "floor(chi2*1e6 + 0.5)/1e6 AS chi_square",
    "floor(sqrt(chi2 / nullif(CAST(g AS DOUBLE) * nullif(least(rr, cc)" +
      " - 1, 0), 0))*1e6 + 0.5)/1e6 AS cramers_v",
    "floor(sqrt(greatest(CAST(0 AS DOUBLE), chi2/g - (CAST(rr AS DOUBLE)" +
      " - 1)*(cc - 1)/nullif(CAST(g AS DOUBLE) - 1, 0))" +
      " / nullif(least(rr - (CAST(rr AS DOUBLE) - 1)*(rr - 1)" +
      "/nullif(CAST(g AS DOUBLE) - 1, 0)," +
      " cc - (CAST(cc AS DOUBLE) - 1)*(cc - 1)" +
      "/nullif(CAST(g AS DOUBLE) - 1, 0)) - 1, 0))*1e6 + 0.5)/1e6" +
      " AS cramers_v_corrected")

  /** Core over a (c_mktsegment, o_orderpriority) pair relation —
    * test seam for the scalacheck law vs the brute table fold. */
  private[graft] def cramersVOn(pairs: DataFrame): DataFrame = {
    val cells = cvIJ.map { case (i, j) => expr(cvCellAgg(i, j)).as(s"n$i$j") }
    pairs.groupBy()
      .agg(cells.head, cells.tail: _*)
      .selectExpr("*" +: cvMargins: _*)
      .selectExpr("g", s"$cvChi2 AS chi2",
        s"$cvRowsUsed AS rr", s"$cvColsUsed AS cc")
      .selectExpr(cvFinal: _*)
  }

  private def cramersV(s: SparkSession, dir: String): DataFrame =
    cramersVOn(load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority")))

  private val cramersVOracle = {
    val cellDefs = cvIJ.map { case (i, j) => s"${cvCellAgg(i, j)} AS n$i$j" }
      .mkString(",\n    ")
    s"""WITH cells AS (
       |  SELECT
       |    $cellDefs
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |m AS (SELECT *, ${cvMargins.mkString(", ")} FROM cells),
       |s AS (SELECT g, $cvChi2 AS chi2,
       |  $cvRowsUsed AS rr, $cvColsUsed AS cc FROM m)
       |SELECT ${cvFinal.mkString(",\n  ")}
       |FROM s""".stripMargin
  }

  // ---- agg_odds_ratio ---------------------------------------------------------
  // $250k — near the grand median. The stratified MH row below pools
  // the SAME 2×2, so crude vs adjusted is a like-for-like confounding
  // read.
  private val OrThresholdCents = 25000000L

  // nullif on the RATIO too: with an empty a or d cell the ratio is
  // 0 and ln(0) DIVERGES across engines (Spark → NULL, DuckDB →
  // -inf) — the guard makes both NULL identically.
  private val orLn =
    """ln(nullif((CAST(a AS DOUBLE)*d) / nullif(CAST(b AS DOUBLE)*c, 0), 0))"""
  // every reciprocal nullif-guarded: an empty cell must yield NULL,
  // not a divide-by-zero (Spark ANSI throws; DuckDB returns inf)
  private val orSe =
    """sqrt(1/nullif(CAST(a AS DOUBLE), 0) + 1/nullif(CAST(b AS DOUBLE), 0)
      | + 1/nullif(CAST(c AS DOUBLE), 0)
      | + 1/nullif(CAST(d AS DOUBLE), 0))""".stripMargin
  private val orF = r6(s"exp($orLn)")
  private val orLoF = r6(s"exp($orLn - 1.959964*$orSe)")
  private val orHiF = r6(s"exp($orLn + 1.959964*$orSe)")

  private[graft] def oddsRatioOn(orders: DataFrame): DataFrame = {
    val urgent = col("o_orderpriority") === "1-URGENT"
    val high = cents(col("o_totalprice")) > OrThresholdCents
    orders.groupBy()
      .agg(sum(when(urgent && high, 1L).otherwise(0L)).as("a"),
        sum(when(urgent && !high, 1L).otherwise(0L)).as("b"),
        sum(when(!urgent && high, 1L).otherwise(0L)).as("c"),
        sum(when(!urgent && !high, 1L).otherwise(0L)).as("d"))
      .selectExpr("a AS n_urgent_high", "b AS n_urgent_low",
        "c AS n_other_high", "d AS n_other_low",
        s"$orF AS odds_ratio",
        s"$orLoF AS ci_lo_95",
        s"$orHiF AS ci_hi_95",
        s"($orLoF > 1.0 OR $orHiF < 1.0) AS association_5pct")
  }

  private def oddsRatio(s: SparkSession, dir: String): DataFrame =
    oddsRatioOn(load(s, dir, "orders"))

  private val oddsRatioOracle =
    s"""WITH g AS (
       |  SELECT
       |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
       |      AND CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
       |      AND NOT (CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents) THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
       |      AND CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
       |      AND NOT (CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |        > $OrThresholdCents) THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM orders)
       |SELECT a AS n_urgent_high, b AS n_urgent_low,
       |  c AS n_other_high, d AS n_other_low,
       |  $orF AS odds_ratio,
       |  $orLoF AS ci_lo_95,
       |  $orHiF AS ci_hi_95,
       |  ($orLoF > 1.0 OR $orHiF < 1.0) AS association_5pct
       |FROM g""".stripMargin

  // ---- agg_mantel_haenszel -------------------------------------------------
  // OR_MH = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ); crude/MH is surfaced as the
  // confounding ratio so a segment-mix distortion reads as a ratio
  // away from 1. One 5-row stratum aggregate keyed on the segment
  // alphabet, then the fixed-order 20-column pivot so both MH sums
  // are ONE expression with a fixed summation order — exact BIGINT
  // cells, no unordered double SUM anywhere.

  // Per-stratum MH terms in fixed left-assoc order; an EMPTY stratum
  // contributes 0, not NULL — the inner nullif alone would poison
  // the whole fixed-order sum (planted-case finding, Round53Spec).
  private def mhSum(num1: String, num2: String): String =
    Segments.indices.map(i =>
      s"coalesce(CAST($num1$i AS DOUBLE)*$num2$i" +
        s"/nullif(a$i + b$i + c$i + d$i, 0), CAST(0 AS DOUBLE))")
      .mkString("(", " + ", ")")

  private def cellSum(cell: String): String =
    Segments.indices.map(i => s"$cell$i").mkString("(", " + ", ")")

  private val mhOr = s"(${mhSum("a", "d")} / nullif(${mhSum("b", "c")}, 0))"
  private val crudeOr =
    s"""((CAST(${cellSum("a")} AS DOUBLE)*${cellSum("d")})
       | / nullif(CAST(${cellSum("b")} AS DOUBLE)*${cellSum("c")}, 0))"""
      .stripMargin

  private[graft] def mantelHaenszelOn(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val urgent = col("o_orderpriority") === "1-URGENT"
    val high = cents(col("o_totalprice")) > OrThresholdCents
    val strata = orders
      .select(col("o_custkey"), urgent.as("u"), high.as("h"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(when(col("u") && col("h"), 1L).otherwise(0L)).as("a"),
        sum(when(col("u") && !col("h"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("u") && col("h"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("u") && !col("h"), 1L).otherwise(0L)).as("d"))
    val pivots = Segments.zipWithIndex.flatMap { case (seg, i) =>
      Seq("a", "b", "c", "d").map(cell =>
        sum(when(col("c_mktsegment") === seg, col(cell)).otherwise(0L))
          .as(s"$cell$i")) }
    strata.groupBy().agg(pivots.head, pivots.tail: _*)
      .selectExpr(
        s"CAST(${cellSum("a")} AS BIGINT) AS n_urgent_high",
        s"CAST(${cellSum("b")} AS BIGINT) AS n_urgent_low",
        s"CAST(${cellSum("c")} AS BIGINT) AS n_other_high",
        s"CAST(${cellSum("d")} AS BIGINT) AS n_other_low",
        s"${r6(crudeOr)} AS crude_or",
        s"${r6(mhOr)} AS or_mh",
        s"${r6(s"$crudeOr / nullif($mhOr, 0)")}" +
          " AS confounding_ratio")
  }

  private def mantelHaenszel(s: SparkSession, dir: String): DataFrame =
    mantelHaenszelOn(load(s, dir, "orders"), load(s, dir, "customer"))

  private val mantelHaenszelOracle = {
    val cells = Segments.zipWithIndex.flatMap { case (seg, i) =>
      Seq("a", "b", "c", "d").map(cell =>
        s"CAST(sum(CASE WHEN c_mktsegment = '$seg' THEN $cell ELSE 0 END)" +
          s" AS BIGINT) AS $cell$i") }
      .mkString(",\n    ")
    s"""WITH o AS (
       |  SELECT o_custkey,
       |    o_orderpriority = '1-URGENT' AS u,
       |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT)
       |      > $OrThresholdCents AS h
       |  FROM orders),
       |strata AS (
       |  SELECT c_mktsegment,
       |    CAST(sum(CASE WHEN u AND h THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN u AND NOT h THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN NOT u AND h THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN NOT u AND NOT h THEN 1 ELSE 0 END) AS BIGINT)
       |      AS d
       |  FROM o JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1),
       |p AS (
       |  SELECT
       |    $cells
       |  FROM strata)
       |SELECT
       |  CAST(${cellSum("a")} AS BIGINT) AS n_urgent_high,
       |  CAST(${cellSum("b")} AS BIGINT) AS n_urgent_low,
       |  CAST(${cellSum("c")} AS BIGINT) AS n_other_high,
       |  CAST(${cellSum("d")} AS BIGINT) AS n_other_low,
       |  ${r6(crudeOr)} AS crude_or,
       |  ${r6(mhOr)} AS or_mh,
       |  ${r6(s"$crudeOr / nullif($mhOr, 0)")}
       |    AS confounding_ratio
       |FROM p""".stripMargin
  }

  // ---- agg_fisher_exact ---------------------------------------------------
  // lfact(x) = Σ_{i=2..x} ln(i) as a STRICT LEFT fold in both
  // engines: Spark's `aggregate` folds acc=0 ⊕ ln(2) ⊕ ln(3) ⊕ …
  // and DuckDB's `list_reduce` folds ln(2) ⊕ ln(3) ⊕ … — the same
  // IEEE addition sequence (0 + x == x exactly), so the only
  // cross-engine drift left is per-term ln ulps (~1e-11 in lp),
  // absorbed by the 1e-7 inclusion slack and the 6-dp floor.
  // Starting the fold at 2 keeps DuckDB's list_reduce off its
  // empty-list error AND Spark's sequence() off its descending-
  // sequence corner (sequence(2, 1) would count DOWN, not return
  // empty). The support explode is bounded by least(r1, c1) + 1 rows
  // — the exact test's own validity domain (small strata).
  private def lfSpark(x: String): String =
    s"(CASE WHEN ($x) < 2 THEN CAST(0 AS DOUBLE) ELSE " +
      s"aggregate(sequence(CAST(2 AS BIGINT), CAST(($x) AS BIGINT)), " +
      s"CAST(0 AS DOUBLE), (acc, i) -> acc + ln(i)) END)"
  private def lfDuck(x: String): String =
    s"(CASE WHEN ($x) < 2 THEN CAST(0 AS DOUBLE) ELSE " +
      s"list_reduce(list_transform(generate_series(CAST(2 AS BIGINT), " +
      s"CAST(($x) AS BIGINT)), i -> ln(i)), (acc, i) -> acc + i) END)"

  // ln P(table with first cell = kc | margins) — the hypergeometric
  // log-pmf; kc is a column name, lf the engine's lfact spelling.
  private def fisherLp(lf: String => String, kc: String): String =
    s"(${lf("r1")} + ${lf("r2")} + ${lf("c1")} + ${lf("n - c1")}" +
      s" - ${lf("n")} - ${lf(kc)} - ${lf(s"r1 - ($kc)")}" +
      s" - ${lf(s"c1 - ($kc)")} - ${lf(s"r2 - c1 + ($kc)")})"

  // Two-sided: sum every table in the support whose probability is
  // ≤ the observed one, with R's 1e-7 relative slack (log-space).
  // least(1, ·) clamps the ulp-overshoot of a full-support sum.
  private val fisherPSum =
    "sum(CASE WHEN lp <= lpo + 1e-7 THEN exp(lp) ELSE CAST(0 AS DOUBLE) END)"
  private val fisherPF =
    "floor(least(CAST(1 AS DOUBLE), praw)*1e6 + 0.5)/1e6"
  private val fisherFinal: Seq[String] = Seq(
    "a AS n_europe_neg", "b AS n_europe_pos",
    "c AS n_other_neg", "d AS n_other_pos",
    s"$fisherPF AS p_two_sided",
    s"($fisherPF < 0.05) AS reject_independence_5pct")

  private def fisherCellAggs(gc: String, hc: String): Seq[(String, String)] =
    Seq(
      "a" -> s"CAST(sum(CASE WHEN ($gc) AND ($hc) THEN 1 ELSE 0 END) AS BIGINT)",
      "b" -> s"CAST(sum(CASE WHEN ($gc) AND NOT ($hc) THEN 1 ELSE 0 END) AS BIGINT)",
      "c" -> s"CAST(sum(CASE WHEN NOT ($gc) AND ($hc) THEN 1 ELSE 0 END) AS BIGINT)",
      "d" -> s"CAST(sum(CASE WHEN NOT ($gc) AND NOT ($hc) THEN 1 ELSE 0 END) AS BIGINT)")

  private val fisherMargins = Seq(
    "a + b AS r1", "c + d AS r2", "a + c AS c1", "a + b + c + d AS n")

  /** Core over a relation with boolean columns (grp, hit) — test
    * seam for the scalacheck law vs the brute lgamma fold. */
  private[graft] def fisherExactOn(flags: DataFrame): DataFrame = {
    val cells = fisherCellAggs("grp", "hit")
      .map { case (nm, sql) => expr(sql).as(nm) }
    flags.groupBy()
      .agg(cells.head, cells.tail: _*)
      .selectExpr(Seq("a", "b", "c", "d") ++ fisherMargins: _*)
      .withColumn("k", explode(expr(
        "sequence(greatest(CAST(0 AS BIGINT), c1 - r2), least(r1, c1))")))
      .selectExpr("a", "b", "c", "d",
        s"${fisherLp(lfSpark, "k")} AS lp",
        s"${fisherLp(lfSpark, "a")} AS lpo")
      .groupBy(col("a"), col("b"), col("c"), col("d"))
      .agg(expr(fisherPSum).as("praw"))
      .selectExpr(fisherFinal: _*)
  }

  private def fisherExact(s: SparkSession, dir: String): DataFrame =
    fisherExactOn(load(s, dir, "supplier")
      .join(broadcast(load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select((col("r_name") === "EUROPE").as("grp"),
        (money(col("s_acctbal")) < 0).as("hit")))

  private val fisherOracle = {
    val cellDefs = fisherCellAggs(
      "r_name = 'EUROPE'", "CAST(s_acctbal AS DECIMAL(15,2)) < 0")
      .map { case (nm, sql) => s"$sql AS $nm" }.mkString(",\n    ")
    s"""WITH g AS (
       |  SELECT
       |    $cellDefs
       |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey),
       |m AS (SELECT a, b, c, d, ${fisherMargins.mkString(", ")} FROM g),
       |ks AS (
       |  SELECT m.*, unnest(generate_series(
       |    greatest(CAST(0 AS BIGINT), c1 - r2), least(r1, c1))) AS k
       |  FROM m),
       |t AS (
       |  SELECT a, b, c, d,
       |    ${fisherLp(lfDuck, "k")} AS lp,
       |    ${fisherLp(lfDuck, "a")} AS lpo
       |  FROM ks),
       |p AS (
       |  SELECT a, b, c, d, $fisherPSum AS praw
       |  FROM t GROUP BY a, b, c, d)
       |SELECT ${fisherFinal.mkString(",\n  ")}
       |FROM p""".stripMargin
  }

  // ---- agg_spearman_rho ----------------------------------------------
  // ρ = (n·Σab − Σa·Σb) / sqrt((n·Σa² − (Σa)²)(n·Σb² − (Σb)²)) on
  // DOUBLED ranks (the factor 2 cancels); z = ρ·√(n−1) against the
  // two-sided 5% normal. The rank maps are value-distinct and can
  // exceed any broadcast gate, so they join back by keyed shuffle.
  private val spR =
    """((CAST(n AS DOUBLE)*sab - sa*sb)
      | / nullif(sqrt((CAST(n AS DOUBLE)*saa - sa*sa)
      |   * (CAST(n AS DOUBLE)*sbb - sb*sb)), 0))""".stripMargin
  private val spRF = r6(spR)
  private val spZF = r6(s"($spR) * sqrt(CAST(n AS DOUBLE) - 1)")

  /** Average rank (doubled) of each distinct value of `v`, keyed by
    * value — one grouped axis + the two-pass distributed prefix sum. */
  private def rankMap(rows: DataFrame, v: String): DataFrame = {
    val vc = rows.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
    graft.util.DistRank.globalPrefixSum(vc, "below", col(v), col("cnt"))
      .select(col(v), (lit(2L) * col("below") + col("cnt") + 1L).as(s"r_$v"))
  }

  private[graft] def spearmanOn(orders: DataFrame): DataFrame = {
    val base = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x"),
        sum(cents(col("o_totalprice"))).as("y"))
      .localCheckpoint()
    val ranked = base
      .join(rankMap(base, "x"), "x")
      .join(rankMap(base, "y"), "y")
    ranked.groupBy()
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(r_x AS DECIMAL(19,0))")).cast("double").as("sa"),
        sum(expr("CAST(r_y AS DECIMAL(19,0))")).cast("double").as("sb"),
        sum(expr("CAST(r_x AS DECIMAL(19,0)) * CAST(r_x AS DECIMAL(19,0))"))
          .cast("double").as("saa"),
        sum(expr("CAST(r_y AS DECIMAL(19,0)) * CAST(r_y AS DECIMAL(19,0))"))
          .cast("double").as("sbb"),
        sum(expr("CAST(r_x AS DECIMAL(19,0)) * CAST(r_y AS DECIMAL(19,0))"))
          .cast("double").as("sab"))
      .selectExpr("n AS n_customers",
        s"$spRF AS spearman_rho",
        s"$spZF AS z_stat",
        s"(abs($spZF) > 1.959964) AS reject_independence_5pct")
  }

  private def spearmanRho(s: SparkSession, dir: String): DataFrame =
    spearmanOn(load(s, dir, "orders"))

  private val spearmanOracle =
    s"""WITH base AS (
       |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
       |      AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |rx AS (
       |  SELECT x, 2*(CAST(sum(cnt) OVER (ORDER BY x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - cnt) + cnt + 1 AS r_x
       |  FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt
       |        FROM base GROUP BY 1)),
       |ry AS (
       |  SELECT y, 2*(CAST(sum(cnt) OVER (ORDER BY y
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - cnt) + cnt + 1 AS r_y
       |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt
       |        FROM base GROUP BY 1)),
       |ranked AS (
       |  SELECT r_x, r_y FROM base
       |  JOIN rx USING (x) JOIN ry USING (y)),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(CAST(sum(CAST(r_x AS DECIMAL(19,0))) AS VARCHAR)
       |      AS DOUBLE) AS sa,
       |    CAST(CAST(sum(CAST(r_y AS DECIMAL(19,0))) AS VARCHAR)
       |      AS DOUBLE) AS sb,
       |    CAST(CAST(sum(CAST(r_x AS DECIMAL(19,0))
       |      * CAST(r_x AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS saa,
       |    CAST(CAST(sum(CAST(r_y AS DECIMAL(19,0))
       |      * CAST(r_y AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sbb,
       |    CAST(CAST(sum(CAST(r_x AS DECIMAL(19,0))
       |      * CAST(r_y AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sab
       |  FROM ranked)
       |SELECT n AS n_customers,
       |  $spRF AS spearman_rho,
       |  $spZF AS z_stat,
       |  (abs($spZF) > 1.959964) AS reject_independence_5pct
       |FROM g""".stripMargin

  // ---- agg_kendall_tau_b ------------------------------------------------
  // τ-b = (C − D) / sqrt((n0 − n1)(n0 − n2)), n0 = n(n−1)/2,
  // n1/n2 = Σ t(t−1)/2 over the x/y marginals; z via the standard
  // normal approximation 3(C−D)/sqrt(n(n−1)(2n+5)/2).
  private val ktTau =
    """((cc - dd)
      | / nullif(sqrt((CAST(n AS DOUBLE)*(n - 1)/2 - t1/2)
      |   * (CAST(n AS DOUBLE)*(n - 1)/2 - t2/2)), 0))""".stripMargin
  private val ktTauF = r6(ktTau)
  private val ktZF =
    """floor(((3*(cc - dd)
      | / nullif(sqrt(CAST(n AS DOUBLE)*(n - 1)*(2*n + 5)/2), 0)))*1e6
      | + 0.5)/1e6""".stripMargin

  private[graft] def kendallOn(lineitem: DataFrame): DataFrame = {
    val cells = lineitem
      .select(col("l_quantity").cast("bigint").as("q"),
        cents(col("l_discount")).as("d"))
      .groupBy(col("q"), col("d")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // cell×cell: ≤ (|quantities|·|discounts|)² comparisons — value-
    // domain-bounded, so the forced broadcast is safe at any SF.
    // coalesce-to-0: with no cross-q pairs at all (degenerate single-
    // quantity input) the join is empty and a bare sum would NULL
    // cc/dd — but zero concordant/discordant pairs IS the honest
    // value (z = 0), so both engines coalesce (scalacheck-found).
    val pairs = cells.as("a")
      .join(broadcast(cells.as("b")), col("a.q") < col("b.q"))
      .groupBy()
      .agg(
        coalesce(sum(when(col("a.d") < col("b.d"),
          expr("CAST(a.cnt AS DECIMAL(19,0)) * CAST(b.cnt AS DECIMAL(19,0))"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).cast("double"),
          lit(0.0)).as("cc"),
        coalesce(sum(when(col("a.d") > col("b.d"),
          expr("CAST(a.cnt AS DECIMAL(19,0)) * CAST(b.cnt AS DECIMAL(19,0))"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).cast("double"),
          lit(0.0)).as("dd"))
    // tie sums over the two marginals (t1 = x, t2 = y)
    val tq = cells.groupBy(col("q")).agg(sum(col("cnt")).as("tq"))
      .agg(sum(expr("CAST(tq AS DECIMAL(19,0)) * (tq - 1)"))
        .cast("double").as("t1"))
    val td = cells.groupBy(col("d")).agg(sum(col("cnt")).as("td"))
      .agg(sum(expr("CAST(td AS DECIMAL(19,0)) * (td - 1)"))
        .cast("double").as("t2"))
    val n = cells.agg(sum(col("cnt")).as("n"))
    pairs.crossJoin(broadcast(n)).crossJoin(broadcast(tq))
      .crossJoin(broadcast(td))
      .selectExpr("n AS n_rows",
        s"$ktTauF AS kendall_tau_b",
        s"$ktZF AS z_stat",
        s"(abs($ktZF) > 1.959964) AS reject_independence_5pct")
  }

  private def kendallTauB(s: SparkSession, dir: String): DataFrame =
    kendallOn(load(s, dir, "lineitem"))

  private val kendallOracle =
    s"""WITH cells AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(CAST(l_discount AS DECIMAL(15,2))*100 AS BIGINT) AS d,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem GROUP BY 1, 2),
       |p AS (
       |  SELECT
       |    coalesce(CAST(CAST(sum(CASE WHEN a.d < b.d THEN
       |      CAST(a.cnt AS DECIMAL(19,0)) * CAST(b.cnt AS DECIMAL(19,0))
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE), 0)
       |      AS cc,
       |    coalesce(CAST(CAST(sum(CASE WHEN a.d > b.d THEN
       |      CAST(a.cnt AS DECIMAL(19,0)) * CAST(b.cnt AS DECIMAL(19,0))
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE), 0)
       |      AS dd
       |  FROM cells a JOIN cells b ON a.q < b.q),
       |tqx AS (
       |  SELECT CAST(CAST(sum(CAST(tq AS DECIMAL(19,0)) * (tq - 1))
       |    AS VARCHAR) AS DOUBLE) AS t1
       |  FROM (SELECT CAST(sum(cnt) AS BIGINT) AS tq
       |        FROM cells GROUP BY q)),
       |tdy AS (
       |  SELECT CAST(CAST(sum(CAST(td AS DECIMAL(19,0)) * (td - 1))
       |    AS VARCHAR) AS DOUBLE) AS t2
       |  FROM (SELECT CAST(sum(cnt) AS BIGINT) AS td
       |        FROM cells GROUP BY d)),
       |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells)
       |SELECT n AS n_rows,
       |  $ktTauF AS kendall_tau_b,
       |  $ktZF AS z_stat,
       |  (abs($ktZF) > 1.959964) AS reject_independence_5pct
       |FROM p CROSS JOIN nn CROSS JOIN tqx CROSS JOIN tdy""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_chi_square" -> (chiSquare _),
    "agg_cramers_v" -> (cramersV _),
    "agg_odds_ratio" -> (oddsRatio _),
    "agg_mantel_haenszel" -> (mantelHaenszel _),
    "agg_fisher_exact" -> (fisherExact _),
    "agg_spearman_rho" -> (spearmanRho _),
    "agg_kendall_tau_b" -> (kendallTauB _)
  )

  val oracle: Map[String, String] = Map(
    "agg_chi_square" -> chiSquareOracle,
    "agg_cramers_v" -> cramersVOracle,
    "agg_odds_ratio" -> oddsRatioOracle,
    "agg_mantel_haenszel" -> mantelHaenszelOracle,
    "agg_fisher_exact" -> fisherOracle,
    "agg_spearman_rho" -> spearmanOracle,
    "agg_kendall_tau_b" -> kendallOracle
  )
}
