package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.72 (round-25 batch 5) — ATR bands:
  *
  *  - [[keltnerChannel]]: Keltner channel over the daily revenue
  *    candle — SMA(10) of the typical price (H+L+C)/3 banded at
  *    ± 2·ATR(10). `win_bollinger` bands closes by their own
  *    standard deviation (dispersion OF closes); Keltner bands the
  *    typical price by TRUE RANGE (gap-aware intraday volatility,
  *    the Composite44 TR), so the two react differently to overnight
  *    gaps — the pair is the standard squeeze setup. SMA form of
  *    both legs (not Wilder's EMA recursion — documented choice,
  *    mirrored in the oracle).
  *
  * Scale shape: the (day)-bounded candle aggregate first — every
  * window sorts |days|, never raw rows (the win_rsi horizon-bounded
  * shape).
  *
  * Determinism: candles are exact cents; the Keltner midline compare
  * is EXACT INTEGER — close vs midline on the common denominator 3n
  * (cl·30 vs Σtp3 for n = 10), so the side flag never touches a
  * double; band values assemble once with floor-6.
  */
object Composite56 {

  // ---- win_keltner_channel ----------------------------------------------
  private val KcN = 10

  private[graft] def keltnerOn(orders: DataFrame): DataFrame = {
    val cents = (money(col("o_totalprice")) * 100).cast("bigint")
    val daily = orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(max(cents).as("hi"), min(cents).as("lo"),
        max_by(cents, col("o_orderkey")).as("cl"))
    val lagW = Window.orderBy("d")
    val wN = Window.orderBy("d").rowsBetween(-(KcN - 1), 0)
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
      .withColumn("tp3", col("hi") + col("lo") + col("cl"))
      .withColumn("fn", count(lit(1)).over(wN))
      .withColumn("stp3", sum(col("tp3")).over(wN))
      .withColumn("str", sum(col("tr")).over(wN))
      .filter(col("fn") === KcN)
      .selectExpr("d", "cl AS close_cents",
        s"floor((CAST(stp3 AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS middle",
        s"floor((CAST(stp3 + 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS upper_band",
        s"floor((CAST(stp3 - 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS lower_band",
        // EXACT integer midline compare on the common denominator 3n
        // (cl vs Σtp3/(3n) ⇔ cl·3n vs Σtp3). The ±2·ATR band flag is
        // degenerate on this candle — TR spans the whole daily price
        // range, so closes are 'inside' at every SF; the midline side
        // is the standard Keltner trend filter and actually varies.
        s"""CASE WHEN cl*3*$KcN > stp3 THEN 'above_mid'
           | WHEN cl*3*$KcN < stp3 THEN 'below_mid'
           | ELSE 'at_mid' END AS midline_side""".stripMargin)
      .orderBy("d")
  }

  private def keltnerChannel(s: SparkSession, dir: String): DataFrame =
    keltnerOn(load(s, dir, "orders"))

  private val keltnerOracle =
    s"""WITH daily AS (
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
       |  SELECT d, hi, lo, cl, hi + lo + cl AS tp3,
       |    CASE WHEN pc IS NULL THEN hi - lo
       |     WHEN hi - lo >= abs(hi - pc) AND hi - lo >= abs(lo - pc)
       |       THEN hi - lo
       |     WHEN abs(hi - pc) >= abs(lo - pc) THEN abs(hi - pc)
       |     ELSE abs(lo - pc) END AS tr
       |  FROM pcs),
       |w AS (
       |  SELECT d, cl,
       |    count(*) OVER win AS fn,
       |    CAST(sum(tp3) OVER win AS BIGINT) AS stp3,
       |    CAST(sum(tr) OVER win AS BIGINT) AS str
       |  FROM trs
       |  WINDOW win AS (ORDER BY d
       |    ROWS BETWEEN ${KcN - 1} PRECEDING AND CURRENT ROW))
       |SELECT d, cl AS close_cents,
       |  floor((CAST(stp3 AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6 AS middle,
       |  floor((CAST(stp3 + 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6
       |    AS upper_band,
       |  floor((CAST(stp3 - 6*str AS DOUBLE)/(3*$KcN*100))*1e6 + 0.5)/1e6
       |    AS lower_band,
       |  CASE WHEN cl*3*$KcN > stp3 THEN 'above_mid'
       |   WHEN cl*3*$KcN < stp3 THEN 'below_mid'
       |   ELSE 'at_mid' END AS midline_side
       |FROM w WHERE fn = $KcN ORDER BY d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_keltner_channel" -> (keltnerChannel _)
  )

  val oracle: Map[String, String] = Map(
    "win_keltner_channel" -> keltnerOracle
  )
}
