package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.88 (round-16 batch 3) — the ordered-alternative rank
  * test:
  *
  *  - [[jonckheereTerpstra]]: the Jonckheere-Terpstra trend test
  *    across the five order priorities IN THEIR NATURAL ORDER —
  *    the ordered-alternative complement of `agg_kruskal_wallis`
  *    (KW asks "do ANY differ?"; JT asks "do they INCREASE along
  *    1-URGENT → 5-LOW?", which is what a priority gradient
  *    actually predicts), with `agg_dunn_posthoc` the unordered
  *    post-hoc. 2·JT = Σ_v Σ_{i<j} n_j(v)·(2·cum<_i(v) + n_i(v))
  *    (the doubled Mann-Whitney identity summed over ordered group
  *    pairs), exact BIGINT; the tie-corrected normal moments use
  *    the Hollander-Wolfe three-term variance with every cubic
  *    widened to DOUBLE before multiplying (the kwHc overflow rule).
  *
  * Scale shape: JT reduces over the distinct-value COUNT grid
  * exactly like KW: one 5-column fixed-alphabet pivot of the
  * (group, value) counts, ONE cumulative window over the
  * |distinct prices|-bounded axis, one exact-integer aggregate —
  * ranks never materialize per row.
  */
object Composite73 {

  // ---- agg_jonckheere_terpstra ---------------------------------------------

  private val JtGroups = Composite51.KwGroups

  // Per-value 2·JT contribution over the 10 ordered pairs, fixed
  // left-assoc order; n_i / cum_i are the pivot columns below.
  private val jtContrib = (for {
    i <- JtGroups.indices; j <- JtGroups.indices if i < j
  } yield s"n$j*(2*cum$i + n$i)").mkString("(", " + ", ")")

  private def sumOver(f: Int => String): String =
    JtGroups.indices.map(f).mkString("(", " + ", ")")

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
    val o = orders.select(col("o_orderpriority").as("g"),
      (money(col("o_totalprice")) * 100).cast("bigint").as("c"))
    val pivots = JtGroups.zipWithIndex.map { case (p, i) =>
      sum(when(col("g") === p, 1L).otherwise(0L)).as(s"n$i") }
    val grid = o.groupBy(col("c")).agg(pivots.head, pivots.tail: _*)
    // All five per-group cumulative counts ride ONE distributed
    // prefix-sum pass (range partitions + broadcast offsets, one
    // shared partition-local Window) — the distinct-cents grid is
    // ~|orders|-sized (totalprice is a near-unique sum), so a bare
    // Window.orderBy here would funnel the fact table through one
    // task at target scale (the r16 verdict's rank-family retrofit).
    val withCum = graft.util.DistRank.globalPrefixSums(grid,
        JtGroups.indices.map(i => s"cum$i" -> col(s"n$i")), col("c"))
      .select((JtGroups.indices.map(i => col(s"n$i")) ++
        JtGroups.indices.map(i => col(s"cum$i"))): _*)
    val perValue = withCum.select(
      (expr(s"$jtContrib").as("contrib") +:
        JtGroups.indices.map(i => col(s"n$i"))) :+
      expr(JtGroups.indices.map(i => s"n$i").mkString(" + ")).as("t"): _*)
    val aggCols =
      (sum(col("contrib")).as("jt2") +:
        JtGroups.indices.map(i => sum(col(s"n$i")).as(s"n$i"))) ++
      Seq(sum(col("t")).as("nn"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("t1"),
        sum(col("t") * (col("t") - 1) * (col("t") - 2)).as("t2"),
        sum(col("t") * (col("t") - 1)).as("t3"))
    perValue.groupBy().agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("CAST(nn AS BIGINT) AS n", "jt2 AS jt_x2",
        s"floor(($jtZ)*1e6 + 0.5)/1e6 AS z_stat",
        s"(abs($jtZ) > 1.959964) AS reject_no_trend_5pct")
  }

  private def jonckheereTerpstra(s: SparkSession, dir: String): DataFrame =
    jonckheereOn(load(s, dir, "orders"))

  private val jonckheereOracle = {
    val pivotDefs = JtGroups.zipWithIndex.map { case (p, i) =>
      s"CAST(sum(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n$i" }
      .mkString(",\n    ")
    val cumDefs = JtGroups.indices.map(i =>
      s"CAST(sum(n$i) OVER w AS BIGINT) - n$i AS cum$i").mkString(",\n    ")
    val nTot = JtGroups.indices.map(i => s"n$i").mkString(" + ")
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) AS c
       |  FROM orders),
       |grid AS (
       |  SELECT c,
       |    $pivotDefs
       |  FROM o GROUP BY 1),
       |wc AS (
       |  SELECT ${JtGroups.indices.map(i => s"n$i").mkString(", ")},
       |    $cumDefs
       |  FROM grid
       |  WINDOW w AS (ORDER BY c
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |g AS (
       |  SELECT CAST(sum($jtContrib) AS BIGINT) AS jt2,
       |    ${JtGroups.indices.map(i =>
              s"CAST(sum(n$i) AS BIGINT) AS n$i").mkString(",\n    ")},
       |    CAST(sum($nTot) AS BIGINT) AS nn,
       |    CAST(sum(($nTot)*(($nTot) - 1)*(2*($nTot) + 5)) AS BIGINT) AS t1,
       |    CAST(sum(($nTot)*(($nTot) - 1)*(($nTot) - 2)) AS BIGINT) AS t2,
       |    CAST(sum(($nTot)*(($nTot) - 1)) AS BIGINT) AS t3
       |  FROM wc)
       |SELECT CAST(nn AS BIGINT) AS n, jt2 AS jt_x2,
       |  floor(($jtZ)*1e6 + 0.5)/1e6 AS z_stat,
       |  (abs($jtZ) > 1.959964) AS reject_no_trend_5pct
       |FROM g""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_jonckheere_terpstra" -> (jonckheereTerpstra _)
  )

  val oracle: Map[String, String] = Map(
    "agg_jonckheere_terpstra" -> jonckheereOracle
  )
}
