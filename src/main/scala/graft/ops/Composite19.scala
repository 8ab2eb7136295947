package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.36 — round-15 ninth batch: STL-residual anomaly
  * days and market-basket lift. (The batch's embedding outliers vs
  * their source centroid are in [[retrieval.Geometry]].)
  *
  * Scale shapes: the anomaly scan runs over the horizon-bounded
  * daily series (the seasonal-decompose plan plus one broadcast of
  * the 7-row seasonal index); basket lift reuses the bounded
  * per-order pair explosion with counts kept (no DISTINCT — support
  * needs multiplicity) against 1-row and item-sized broadcasts.
  *
  * Determinism: counts exact; lift assembles once from exact
  * integers; all top-k orders carry unique tiebreakers.
  */
object Composite19 {

  // ---- evt_anomaly_stl ---------------------------------------------
  // Seasonally-adjusted anomaly days: reuse win_seasonal_decompose's
  // trend (centered 7-day MA) and weekday index, then flag days
  // where |residual| exceeds 3× the global residual sd — the
  // decomposition-aware upgrade of evt_anomaly_iqr's raw fences.
  // Surfaces only flagged days (bounded by the horizon).
  private def anomalyStl(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy("d").rowsBetween(-3, 3)
    val det = daily
      .withColumn("fn", count(lit(1)).over(w))
      .withColumn("trend", sum(col("c")).over(w).cast("double") /
        col("fn").cast("double"))
      .filter(col("fn") === 7)
      .select(col("d"), col("c"), col("trend"),
        dayofweek(col("d")).as("dow"),
        (col("c").cast("double") - col("trend")).as("dev"))
    val seas = det.groupBy("dow").agg(avg(col("dev")).as("si"))
    val resid = det.join(broadcast(seas), "dow")
      .select(col("d"), col("c"), col("trend"), col("si"),
        (col("dev") - col("si")).as("r"))
    val sd = broadcast(resid.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"))
      .select(sqrt((col("sr2") - col("sr") * col("sr") / col("n")) /
        (col("n") - 1.0)).as("rsd")))
    resid.crossJoin(sd)
      .filter(abs(col("r")) > col("rsd") * 3.0)
      .select(col("d"), col("c"), round(col("trend"), 6).as("trend"),
        round(col("si"), 6).as("seasonal"),
        round(col("r"), 6).as("residual"),
        round(abs(col("r")) / col("rsd"), 6).as("sigma"))
      .orderBy("d")
  }

  private val anomalyStlOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |t AS (
      |  SELECT d, c, CAST(count(*) OVER w AS BIGINT) AS fn,
      |    CAST(sum(c) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
      |      AS trend
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (
      |  SELECT d, c, trend, CAST(dayofweek(d) + 1 AS INT) AS dow,
      |    CAST(c AS DOUBLE) - trend AS dev
      |  FROM t WHERE fn = 7),
      |seas AS (SELECT dow, avg(dev) AS si FROM det GROUP BY dow),
      |resid AS (
      |  SELECT det.d, det.c, det.trend, seas.si, det.dev - seas.si AS r
      |  FROM det JOIN seas ON det.dow = seas.dow),
      |sd AS (
      |  SELECT sqrt((sum(r * r) - sum(r) * sum(r) / count(*)) /
      |    (count(*) - 1.0)) AS rsd FROM resid)
      |SELECT d, c, round(trend, 6) AS trend, round(si, 6) AS seasonal,
      |  round(r, 6) AS residual, round(abs(r) / rsd, 6) AS sigma
      |FROM resid CROSS JOIN sd
      |WHERE abs(r) > rsd * 3.0
      |ORDER BY d""".stripMargin

  // ---- agg_basket_lift ---------------------------------------------
  // Association-rule lift for co-purchased part pairs: support(a,b)
  // = orders containing both, lift = N·n_ab / (n_a·n_b). The pair
  // counts come from the bounded per-order set explosion (≤C(7,2)
  // pairs per order) WITHOUT the dedup — multiplicity is the
  // support; item counts and N arrive as broadcasts. Top-20 by
  // (lift DESC, pair) over pairs with support ≥ 5 — the min-support
  // prune runs BEFORE the item join.
  private def basketLift(s: SparkSession, dir: String): DataFrame = {
    // sets feeds pairs, items AND the order count — read from the
    // shared order_psets DiskMemo parquet view (r18; built once per
    // JVM, timed as memo_order_psets) instead of re-running the
    // lineitem groupBy + checkpointing per invocation.
    val sets = Composite4.sharedOrderPsets(s, dir)
    // r18: support(a,b) with multiplicity IS the weighted co-purchase
    // view's w (each order contributes each unordered pair once, a<b
    // from the sorted set — identical orientation) — read it instead
    // of re-running the pair explode + count per invocation.
    val pairs = graph.CoPurchase.coPurchaseWeightedHalf(s, dir)
      .select(col("src").as("pa"), col("dst").as("pb"),
        col("w").as("n_ab"))
      .filter(col("n_ab") >= 5)
    // items is PART-keyed (unbounded with SF): checkpoint it once
    // (both build sides read the cached blocks instead of re-running
    // the aggregate) and size-gate its broadcast hint — past the cap
    // the two joins shuffle on the part key rather than hard-failing
    // at the broadcast limit (graft.util.Hints).
    val items = sets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
      .localCheckpoint()
    val itemsHint = graft.util.Hints.maybeBroadcast(items.count())
    val tot = broadcast(sets.agg(count(lit(1)).as("n_orders")))
    val scored = pairs
      .join(itemsHint(items.select(col("pk").as("pa"), col("n_i").as("na"))),
        "pa")
      .join(itemsHint(items.select(col("pk").as("pb"), col("n_i").as("nb"))),
        "pb")
      .crossJoin(tot)
      .select(col("pa"), col("pb"), col("n_ab"), col("na"), col("nb"),
        round(col("n_orders").cast("double") * col("n_ab").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 6)
          .as("lift"))
    scored.orderBy(desc("lift"), asc("pa"), asc("pb")).limit(20)
  }

  private val basketLiftOracle =
    """WITH sets AS (
      |  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS ps
      |  FROM lineitem GROUP BY l_orderkey),
      |pairs AS (
      |  SELECT a AS pa, b AS pb, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM (SELECT unnest(ps) AS a, ps FROM sets), unnest(ps) AS t(b)
      |  WHERE a < b GROUP BY a, b HAVING count(*) >= 5),
      |items AS (
      |  SELECT pk, CAST(count(*) AS BIGINT) AS n_i
      |  FROM (SELECT unnest(ps) AS pk FROM sets) GROUP BY pk),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM sets)
      |SELECT pa, pb, n_ab, ia.n_i AS na, ib.n_i AS nb,
      |  round(CAST(n_orders AS DOUBLE) * CAST(n_ab AS DOUBLE) /
      |    (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)), 6) AS lift
      |FROM pairs JOIN items ia ON pairs.pa = ia.pk
      |JOIN items ib ON pairs.pb = ib.pk
      |CROSS JOIN tot
      |ORDER BY lift DESC, pa, pb LIMIT 20""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_anomaly_stl" -> (anomalyStl _),
    "agg_basket_lift" -> (basketLift _)
  )

  val oracle: Map[String, String] = Map(
    "evt_anomaly_stl" -> anomalyStlOracle,
    "agg_basket_lift" -> basketLiftOracle
  )
}
