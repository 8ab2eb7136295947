package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.84 (round-26 batch 6) — robust shift estimation and
  * decomposable inequality:
  *
  *  - [[hodgesLehmann]]: the Hodges-Lehmann estimate of the
  *    click-vs-purchase daily-rate difference — the EFFECT-SIZE
  *    companion the rank-test family was missing (`agg_mann_whitney`
  *    answers "is there a shift?", `evt_poisson_rate_shift` tests
  *    rates; this row answers "how big is it?" robustly): the median
  *    of all pairwise differences x_i − y_j. Computed on the VALUE
  *    GRID, not the pair matrix — both samples collapse to
  *    (value, count) relations bounded by |days| rows, so the
  *    "all pairs" product is a ≤|days|² weighted-difference grid
  *    (the agg_kendall_tau_b justification: bounded by the value
  *    domain, not the row count). Picked (lower) weighted median via
  *    the exact 2·cum ≥ total integer rule (the evt_anomaly_mad
  *    discipline) — integer-valued, documented, no midpoint
  *    averaging.
  *
  *  - [[theilIndex]]: Theil's T index of customer-spend inequality
  *    decomposed between/within nations — `agg_gini` measures total
  *    inequality but does not DECOMPOSE additively; Theil does:
  *    T_total = T_between + Σ s_g·T_g, and this row surfaces all
  *    three (the identity is visible in the output). Entropy form:
  *    T = (Σ x·ln x)/X − ln(X/n) with x exact cents.
  *
  * Scale shapes: HL is one (type, day) COUNT aggregate → two
  * |days|-bounded value-count grids → a broadcast cross of the two
  * grids → one diff-keyed aggregate and a single-partition
  * cumulative window over ≤|days|² rows (domain-bounded, the
  * kendall grid class). Theil is one fact-scan customer aggregate
  * (dim broadcast) → a |nations|-row group aggregate → 1-row
  * broadcasts; nothing after the first aggregate exceeds |nations|.
  *
  * Determinism: every HL quantity is an exact BIGINT (values,
  * weights, cumulative weights — the pick is integer comparisons
  * end to end, so the surfaced shift is BIT-exact, no rounding
  * needed). Theil's Σ x·ln x sums are unordered doubles whose
  * cross-engine drift is ~1e-15 relative (libm/association — the
  * geometric-mean precedent), surfaced after the 6-dp floor from
  * shared formula text.
  */
object Composite67 {

  // ---- evt_hodges_lehmann_shift ---------------------------------------------
  private val HlX = "click"
  private val HlY = "purchase"

  private[graft] def hodgesLehmannOn(events: DataFrame): DataFrame = {
    val daily = timeseries.Series.daily(
      events.filter(col("event_type").isin(HlX, HlY)))
    def grid(t: String) = daily.filter(col("event_type") === t)
      .groupBy(col("y").as("v")).agg(count(lit(1)).as("c"))
    val vx = grid(HlX).localCheckpoint() // feeds the cross AND its n_x count
    val vy = grid(HlY).localCheckpoint()
    val nx = broadcast(vx.agg(sum(col("c")).as("n_days_x")))
    val ny = broadcast(vy.agg(sum(col("c")).as("n_days_y")))
    val dg = vx.crossJoin(broadcast(
        vy.select(col("v").as("vy"), col("c").as("cy"))))
      .select((col("v") - col("vy")).as("d"), (col("c") * col("cy")).as("w"))
      .groupBy(col("d")).agg(sum(col("w")).as("w"))
    val wOrd = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    dg.select(col("d"), sum(col("w")).over(wOrd).as("cw"),
        sum(col("w")).over(wAll).as("tw"))
      .agg(min(when(lit(2) * col("cw") >= col("tw"), col("d")))
        .as("hl_shift"))
      .crossJoin(nx).crossJoin(ny)
      .selectExpr("n_days_x", "n_days_y", "hl_shift")
  }

  private def hodgesLehmann(s: SparkSession, dir: String): DataFrame =
    hodgesLehmannOn(loadEvents(s, dir))

  private val hodgesLehmannOracle =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events WHERE event_type IN ('$HlX', '$HlY')
       |  GROUP BY 1, 2),
       |vx AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM daily WHERE event_type = '$HlX' GROUP BY 1),
       |vy AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM daily WHERE event_type = '$HlY' GROUP BY 1),
       |dg AS (
       |  SELECT vx.v - vy.v AS d, CAST(sum(vx.c * vy.c) AS BIGINT) AS w
       |  FROM vx CROSS JOIN vy GROUP BY 1),
       |cum AS (
       |  SELECT d,
       |    CAST(sum(w) OVER (ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cw,
       |    CAST(sum(w) OVER () AS BIGINT) AS tw
       |  FROM dg)
       |SELECT
       |  (SELECT CAST(sum(c) AS BIGINT) FROM vx) AS n_days_x,
       |  (SELECT CAST(sum(c) AS BIGINT) FROM vy) AS n_days_y,
       |  min(CASE WHEN 2*cw >= tw THEN d END) AS hl_shift
       |FROM cum""".stripMargin

  // ---- agg_theil_index --------------------------------------------------------
  private val thTotal = "(sxl/xx - ln(CAST(xx AS DOUBLE)/n))"
  private val thBetween =
    """sum((CAST(xg AS DOUBLE)/xx)
      | * ln((CAST(xg AS DOUBLE)/xx) / (CAST(ng AS DOUBLE)/n)))""".stripMargin
  private val thFinal: Seq[String] = Seq(
    "n AS n_cust", "n_groups AS n_nations",
    s"floor(($thTotal)*1e6 + 0.5)/1e6 AS theil_total",
    "floor(tb*1e6 + 0.5)/1e6 AS theil_between",
    s"floor(($thTotal - tb)*1e6 + 0.5)/1e6 AS theil_within")

  private[graft] def theilIndexOn(cust: DataFrame): DataFrame = {
    // cust: (x BIGINT cents, nat) — one row per customer.
    val g = cust.groupBy(col("nat"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("xg"),
        sum(expr("CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))")).as("sxl"))
      .localCheckpoint() // feeds tot, the between sum, and the group count
    val tot = broadcast(g.agg(sum(col("ng")).as("n"), sum(col("xg")).as("xx"),
      sum(col("sxl")).as("sxl"), count(lit(1)).as("n_groups")))
    val btw = broadcast(g.crossJoin(tot)
      .agg(expr(thBetween).as("tb")))
    tot.crossJoin(btw).selectExpr(thFinal: _*)
  }

  private def theilIndex(s: SparkSession, dir: String): DataFrame =
    theilIndexOn(load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_nationkey").as("nat"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("bigint").as("x"))
      .select(col("nat"), col("x")))

  private val theilIndexOracle =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_nationkey AS nat,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2)))*100 AS BIGINT) AS x
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |g AS (
       |  SELECT nat, CAST(count(*) AS BIGINT) AS ng,
       |    CAST(sum(x) AS BIGINT) AS xg,
       |    sum(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))) AS sxl
       |  FROM cust GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(xg) AS BIGINT) AS xx,
       |    sum(sxl) AS sxl, CAST(count(*) AS BIGINT) AS n_groups
       |  FROM g),
       |btw AS (
       |  SELECT $thBetween AS tb
       |  FROM g CROSS JOIN tot)
       |SELECT ${thFinal.mkString(",\n  ")}
       |FROM tot CROSS JOIN btw""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_hodges_lehmann_shift" -> (hodgesLehmann _),
    "agg_theil_index" -> (theilIndex _)
  )

  val oracle: Map[String, String] = Map(
    "evt_hodges_lehmann_shift" -> hodgesLehmannOracle,
    "agg_theil_index" -> theilIndexOracle
  )
}
