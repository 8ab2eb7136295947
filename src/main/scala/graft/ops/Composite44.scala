package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.60 (round-24 batch 2) — range volatility:
  *
  *  - [[trueRangeAtr]]: Wilder's True Range and 14-day ATR over the
  *    daily revenue "candle" (high / low / deterministic last order
  *    value per day). `win_bollinger` measures dispersion of CLOSES;
  *    true range folds the intraday high-low span AND the overnight
  *    gap vs the prior close into one volatility number — the
  *    stop-loss / band-width primitive the close-only rows cannot
  *    see.
  *
  * Scale shape: the candle is one map-side-combining date aggregate
  * (the win_rsi horizon-bounded shape: the global window sorts
  * |days|, never |orders|).
  *
  * Determinism: prices become exact cents (decimal ×100 → BIGINT),
  * so TR and window sums are exact integers; the max-of-three TR is
  * a CASE cascade on BOTH engines (DuckDB's greatest() on decimals
  * silently widens to DOUBLE — the win_rsi gotcha — and the CASE
  * form sidesteps the whole class); the ATR assembles once with
  * floor-6-dp (§1.5).
  */
object Composite44 {

  // ---- win_true_range_atr ----------------------------------------------
  private[graft] def trueRangeAtrOn(orders: DataFrame): DataFrame = {
    val cents = (money(col("o_totalprice")) * 100).cast("bigint")
    val daily = orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(max(cents).as("hi"), min(cents).as("lo"),
        max_by(cents, col("o_orderkey")).as("cl"))
    val lagW = Window.orderBy("d")
    val w14 = Window.orderBy("d").rowsBetween(-13, 0)
    daily
      .withColumn("pc", lag(col("cl"), 1).over(lagW))
      .withColumn("tr",
        when(col("pc").isNull, col("hi") - col("lo"))
          .when(col("hi") - col("lo") >= abs(col("hi") - col("pc")) &&
            col("hi") - col("lo") >= abs(col("lo") - col("pc")),
            col("hi") - col("lo"))
          .when(abs(col("hi") - col("pc")) >= abs(col("lo") - col("pc")),
            abs(col("hi") - col("pc")))
          .otherwise(abs(col("lo") - col("pc"))))
      .withColumn("fn", count(lit(1)).over(w14))
      .withColumn("s14", sum(col("tr")).over(w14))
      .filter(col("fn") === 14)
      .selectExpr("d", "hi AS hi_cents", "lo AS lo_cents",
        "cl AS close_cents", "tr AS tr_cents",
        "floor(((CAST(s14 AS DOUBLE) / 100) / 14)*1e6 + 0.5)/1e6 AS atr")
      .orderBy("d")
  }

  private def trueRangeAtr(s: SparkSession, dir: String): DataFrame =
    trueRangeAtrOn(load(s, dir, "orders"))

  private val trueRangeAtrOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    max(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS hi,
      |    min(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS lo,
      |    max_by(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT),
      |      o_orderkey) AS cl
      |  FROM orders GROUP BY 1),
      |pcs AS (
      |  SELECT d, hi, lo, cl, lag(cl, 1) OVER (ORDER BY d) AS pc
      |  FROM daily),
      |trs AS (
      |  SELECT d, hi, lo, cl,
      |    CASE WHEN pc IS NULL THEN hi - lo
      |     WHEN hi - lo >= abs(hi - pc) AND hi - lo >= abs(lo - pc)
      |       THEN hi - lo
      |     WHEN abs(hi - pc) >= abs(lo - pc) THEN abs(hi - pc)
      |     ELSE abs(lo - pc) END AS tr
      |  FROM pcs),
      |w AS (
      |  SELECT d, hi, lo, cl, tr,
      |    count(*) OVER win AS fn,
      |    CAST(sum(tr) OVER win AS BIGINT) AS s14
      |  FROM trs
      |  WINDOW win AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT d, hi AS hi_cents, lo AS lo_cents, cl AS close_cents,
      |  tr AS tr_cents,
      |  floor(((CAST(s14 AS DOUBLE) / 100) / 14)*1e6 + 0.5)/1e6 AS atr
      |FROM w WHERE fn = 14 ORDER BY d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_true_range_atr" -> (trueRangeAtr _)
  )

  val oracle: Map[String, String] = Map(
    "win_true_range_atr" -> trueRangeAtrOracle
  )
}
