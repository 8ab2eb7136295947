package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.67 (round-24 batch 9) — nonparametric k-group
  * testing:
  *
  *  - [[kruskalWallis]]: Kruskal-Wallis H across the five order
  *    priorities on order totals, tie-corrected, with the χ²₄ 5%
  *    verdict. `agg_mann_whitney` is the 2-group rank test and
  *    `agg_anova_f` the parametric k-group test; Kruskal-Wallis is
  *    the k-group rank test — the robust "do ANY of the k differ?"
  *    when normality (checked by `agg_jarque_bera`) fails.
  *
  * Scale shape: ranks never materialize per row — the whole test
  * reduces over the (value) and (group, value) COUNT relations:
  * average ranks come from a cumulative window over the DISTINCT
  * value axis (bounded by |distinct prices|, not |orders|), group
  * rank sums from one join of the two count relations, and the five
  * groups land in fixed-order columns for the final assembly (the
  * agg_anova_f discipline).
  *
  * Determinism: DOUBLED average ranks are exact integers
  * (2·r̄(v) = 2·cum_less(v) + cnt(v) + 1), so every rank sum is an
  * exact BIGINT; the tie term Σ(t³−t) is exact BIGINT; H and its
  * tie correction assemble once from identical formula text
  * (squares cast to DOUBLE pre-multiply for overflow headroom), and
  * the verdict compares after the 6-dp floor.
  */
object Composite51 {

  private[graft] val KwGroups = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

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
    s"floor((($kwH / nullif(1 - CAST(tt AS DOUBLE)/(CAST(($kwN) AS DOUBLE)*($kwN)*($kwN) - ($kwN)), 0)))*1e6 + 0.5)/1e6"

  /** Shared doubled-rank relations over the (priority, total-price)
    * grid — `agg_dunn_posthoc` (Composite69) reuses these, so the
    * post-hoc z's rank on EXACTLY the grid the omnibus H tested:
    * ranked = per distinct value (c, cnt, r2) with the exact doubled
    * average rank 2·below + cnt + 1, where `below` comes from
    * [[graft.util.DistRank.globalPrefixSum]] (range partitions +
    * broadcast offsets — no single-partition window at any width;
    * o_totalprice is a near-unique sum, so the distinct-cents grid is
    * ~\|orders\|-sized, NOT a bounded alphabet — the r16 verdict's
    * rank-family retrofit); gc = (g, c, gcnt) group-value counts. */
  private[graft] def doubledRanks(orders: DataFrame): (DataFrame, DataFrame) = {
    val o = orders.select(col("o_orderpriority").as("g"),
      (money(col("o_totalprice")) * 100).cast("bigint").as("c"))
    // Distinct-value axis: per value, total count and the count of
    // strictly-smaller rows (distributed exclusive prefix sum), then
    // the exact doubled average rank 2·below + cnt + 1.
    // r19 (guide §1.2 — fewer passes): the tie term Σ(t³−t) and the
    // grand total Σt ride the SAME ranged pass as constant `tt`/`nn`
    // columns (DistRank totals — exact BIGINT sums, bit-identical to
    // the standalone aggregate they replace), so the consumers'
    // separate total-aggregate jobs + crossJoin broadcasts are gone;
    // with the tie/total scalars folded in, each consumer reads
    // `ranked` exactly once, so the eager checkpoint job bought
    // nothing and is dropped too.
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
    // inside the one group aggregate recovers it — the r18 shape's
    // second pass over ranked (tie-term aggregate + crossJoin
    // broadcast) is folded away (r19).
    val aggs =
      KwGroups.zipWithIndex.flatMap { case (p, i) => Seq(
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
    * the Dunn post-hoc oracle (Composite69) composes from the same
    * string, so the two replicas cannot drift apart (the
    * ivfOracleCtes discipline, retrieval.Ann). */
  private[graft] val kwRankCtes =
    """o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) AS c
      |  FROM orders),
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
    val aggDefs = KwGroups.zipWithIndex.flatMap { case (p, i) => Seq(
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_kruskal_wallis" -> (kruskalWallis _)
  )

  val oracle: Map[String, String] = Map(
    "agg_kruskal_wallis" -> kruskalWallisOracle
  )
}
