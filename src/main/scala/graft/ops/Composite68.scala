package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.85 (round-26 batch 7) — robust shape and range
  * volatility:
  *
  *  - [[bowleySkew]]: Bowley's quartile skewness
  *    (Q3 + Q1 − 2·Q2)/(Q3 − Q1) per order priority — the ROBUST
  *    companion of `agg_higher_moments`' moment skewness (outliers
  *    move the third moment without bound; the quartile form is
  *    bounded in [−1, 1] and exact on cents). Quartiles are PICKED
  *    values via the exact integer rule k·n ≤ 4·cum (the
  *    percentile_disc / anomaly_mad discipline — no interpolation,
  *    so every surfaced quartile is a real data value and the only
  *    double is the final ratio).
  *
  *  - [[parkinsonVol]]: Parkinson's range volatility
  *    σ = sqrt(Σ ln²(H/L) / (4·ln2·n)) per event type over daily
  *    highs/lows of HOURLY activity — the range estimator the
  *    finance family was missing next to `win_true_range_atr`
  *    (average range) and `win_bollinger` (close-to-close σ): ranges
  *    are ~5× more efficient than closes at the same series length.
  *    Zero-low days (l = 0 cannot happen for count data with the
  *    hour present, but empty-hour days CAN make l the smallest
  *    PRESENT hour) follow the hourly-presence semantics, mirrored.
  *
  * Scale shapes: Bowley is one (group, value) COUNT aggregate →
  * per-group cumulative windows (keyed exchange + per-group sort,
  * spillable — the percentile_disc class) → one 5-row final;
  * Parkinson is hourly COUNT → daily MIN/MAX → per-type hash
  * aggregate, all map-side combining, bounded by |types|·|days|·24.
  *
  * Determinism: Bowley is exact BIGINT end to end except the final
  * shared-text ratio (floor-6); Parkinson's Σ ln² terms are
  * unordered doubles with ~1e-15 relative drift (geometric-mean
  * libm precedent), floor-6.
  */
object Composite68 {

  // ---- agg_bowley_skew ------------------------------------------------------
  private val bwFinal: Seq[String] = Seq(
    "g AS priority", "n AS n_orders", "q1", "q2", "q3",
    "floor((CAST(q3 + q1 - 2*q2 AS DOUBLE)" +
      " / nullif(CAST(q3 - q1 AS DOUBLE), 0))*1e6 + 0.5)/1e6" +
      " AS bowley_skew")

  private[graft] def bowleySkewOn(vals: DataFrame): DataFrame = {
    // vals: (g, v BIGINT) — cents or any exact integer measure.
    val vc = vals.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val wg = Window.partitionBy(col("g"))
    vc.select(col("g"), col("v"),
        sum(col("c")).over(w).as("cw"), sum(col("c")).over(wg).as("n"))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        min(when(lit(4) * col("cw") >= col("n"), col("v"))).as("q1"),
        min(when(lit(2) * col("cw") >= col("n"), col("v"))).as("q2"),
        min(when(lit(4) * col("cw") >= lit(3) * col("n"), col("v"))).as("q3"))
      .selectExpr(bwFinal: _*)
      .orderBy("priority")
  }

  private def bowleySkew(s: SparkSession, dir: String): DataFrame =
    bowleySkewOn(load(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        cents(col("o_totalprice")).as("v")))

  private val bowleySkewOracle =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) AS v
       |  FROM orders),
       |vc AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
       |  FROM o GROUP BY 1, 2),
       |cum AS (
       |  SELECT g, v,
       |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cw,
       |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
       |  FROM vc),
       |qs AS (
       |  SELECT g, max(n) AS n,
       |    min(CASE WHEN 4*cw >= n THEN v END) AS q1,
       |    min(CASE WHEN 2*cw >= n THEN v END) AS q2,
       |    min(CASE WHEN 4*cw >= 3*n THEN v END) AS q3
       |  FROM cum GROUP BY g)
       |SELECT ${bwFinal.mkString(",\n  ")}
       |FROM qs ORDER BY priority""".stripMargin

  // ---- win_parkinson_vol ----------------------------------------------------
  private val pvFinal: Seq[String] = Seq(
    "event_type", "nd AS n_days",
    "floor(sqrt(s / (4*ln(CAST(2 AS DOUBLE))*nd))*1e6 + 0.5)/1e6" +
      " AS parkinson_vol")

  private[graft] def parkinsonVolOn(events: DataFrame): DataFrame = {
    val hl = events
      .select(col("event_type"), to_date(col("ts")).as("d"),
        hour(col("ts")).as("hh"))
      .groupBy(col("event_type"), col("d"), col("hh"))
      .agg(count(lit(1)).as("y"))
      .groupBy(col("event_type"), col("d"))
      .agg(max(col("y")).as("h"), min(col("y")).as("l"))
    hl.filter(col("l") > 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"),
        sum(expr("ln(CAST(h AS DOUBLE)/l)*ln(CAST(h AS DOUBLE)/l)"))
          .as("s"))
      .selectExpr(pvFinal: _*)
      .orderBy("event_type")
  }

  private def parkinsonVol(s: SparkSession, dir: String): DataFrame =
    parkinsonVolOn(loadEvents(s, dir))

  private val parkinsonVolOracle =
    s"""WITH hourly AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    hour(CAST(ts AS TIMESTAMP)) AS hh, CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2, 3),
       |hl AS (
       |  SELECT event_type, d, CAST(max(y) AS BIGINT) AS h,
       |    CAST(min(y) AS BIGINT) AS l
       |  FROM hourly GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
       |    sum(ln(CAST(h AS DOUBLE)/l)*ln(CAST(h AS DOUBLE)/l)) AS s
       |  FROM hl WHERE l > 0 GROUP BY 1)
       |SELECT ${pvFinal.mkString(",\n  ")}
       |FROM g ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_bowley_skew" -> (bowleySkew _),
    "win_parkinson_vol" -> (parkinsonVol _)
  )

  val oracle: Map[String, String] = Map(
    "agg_bowley_skew" -> bowleySkewOracle,
    "win_parkinson_vol" -> parkinsonVolOracle
  )
}
