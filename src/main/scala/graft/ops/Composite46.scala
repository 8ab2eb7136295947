package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.62 (round-24 batch 4) — breakout bands:
  *
  *  - [[donchianChannel]]: 20-day Donchian channel breakouts over
  *    the daily revenue candle — prior-20-day high/low (current day
  *    EXCLUDED, the breakout convention) and an up/down/none
  *    verdict. `win_bollinger` bands by stddev, `win_true_range_atr`
  *    by range volatility; Donchian bands by rolling EXTREMES — the
  *    channel-breakout primitive that needs no distributional
  *    assumption.
  *
  * Scale shape: Donchian reuses the ATR candle (one date aggregate,
  * global |days| window), broadcast-sized.
  *
  * Determinism: exact-cents integers and string verdicts end to end.
  */
object Composite46 {

  // ---- win_donchian_channel --------------------------------------------
  private[graft] def donchianChannelOn(orders: DataFrame): DataFrame = {
    val cents = (money(col("o_totalprice")) * 100).cast("bigint")
    val daily = orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(max(cents).as("hi"), min(cents).as("lo"),
        max_by(cents, col("o_orderkey")).as("cl"))
    val w20 = Window.orderBy("d").rowsBetween(-20, -1)
    daily
      .withColumn("fn", count(lit(1)).over(w20))
      .withColumn("dhi", max(col("hi")).over(w20))
      .withColumn("dlo", min(col("lo")).over(w20))
      .filter(col("fn") === 20)
      .select(col("d"), col("cl").as("close_cents"),
        col("dhi").as("channel_hi_cents"), col("dlo").as("channel_lo_cents"),
        when(col("cl") > col("dhi"), "up")
          .when(col("cl") < col("dlo"), "down")
          .otherwise("none").as("breakout"))
      .orderBy("d")
  }

  private def donchianChannel(s: SparkSession, dir: String): DataFrame =
    donchianChannelOn(load(s, dir, "orders"))

  private val donchianChannelOracle =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    max(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS hi,
      |    min(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT))
      |      AS lo,
      |    max_by(CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT),
      |      o_orderkey) AS cl
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT d, cl,
      |    count(*) OVER win AS fn,
      |    max(hi) OVER win AS dhi,
      |    min(lo) OVER win AS dlo
      |  FROM daily
      |  WINDOW win AS (ORDER BY d ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT d, cl AS close_cents, dhi AS channel_hi_cents,
      |  dlo AS channel_lo_cents,
      |  CASE WHEN cl > dhi THEN 'up' WHEN cl < dlo THEN 'down'
      |   ELSE 'none' END AS breakout
      |FROM w WHERE fn = 20 ORDER BY d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_donchian_channel" -> (donchianChannel _)
  )

  val oracle: Map[String, String] = Map(
    "win_donchian_channel" -> donchianChannelOracle
  )
}
