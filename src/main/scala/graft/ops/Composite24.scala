package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.41 — round-16 fifth batch: mix-shift decomposition.
  *
  * Scale shape: mix-shift reduces the fact table to one
  * (type, half) hash aggregate plus a 2-row totals broadcast —
  * output bounded by the event-type alphabet.
  *
  * Determinism: mix/rate effects assemble from exact integer counts
  * and exact decimal value sums through identical IEEE trees.
  */
object Composite24 {

  // ---- agg_mix_shift -----------------------------------------------
  // Oaxaca-style mix-shift decomposition of mean event value between
  // the two horizon halves: per type, Δcontribution = w₁m₁ − w₀m₀
  // splits into mix (Δw·m₀) and rate (w₁·Δm) effects; the two sum to
  // the total per-type contribution change by construction (asserted
  // in the spec). Halves split at the exact integer-µs midpoint
  // (CUPED discipline).
  private def mixShift(s: SparkSession, dir: String): DataFrame = {
    val e = loadEvents(s, dir)
    val split = e.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("timestamp_micros((mn + mx) div 2)").as("split"))
    val cells = e.crossJoin(broadcast(split))
      .groupBy(col("event_type"),
        (col("ts") >= col("split")).cast("int").as("half"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("decimal(18,2)").as("v"))
    val totals = cells.groupBy(col("half"))
      .agg(sum(col("n")).as("nt"))
    val wide = cells.join(broadcast(totals), "half")
      .select(col("event_type"), col("half"),
        (col("n").cast("double") / col("nt").cast("double")).as("w"),
        (asD(col("v")) / col("n").cast("double")).as("m"))
    val h0 = wide.filter(col("half") === 0)
      .select(col("event_type"), col("w").as("w0"), col("m").as("m0"))
    val h1 = wide.filter(col("half") === 1)
      .select(col("event_type"), col("w").as("w1"), col("m").as("m1"))
    h0.join(h1, "event_type")
      .select(col("event_type"), col("w0"), col("w1"), col("m0"), col("m1"),
        ((col("w1") - col("w0")) * col("m0")).as("mix_effect"),
        (col("w1") * (col("m1") - col("m0"))).as("rate_effect"))
      .orderBy("event_type")
  }

  private val mixShiftOracle =
    """WITH sp AS (
      |  SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2)
      |    AS split FROM events),
      |cells AS (
      |  SELECT event_type,
      |    CAST(ts >= sp.split AS INT) AS half,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(15,2))) AS DECIMAL(18,2)) AS v
      |  FROM events CROSS JOIN sp GROUP BY 1, 2),
      |totals AS (
      |  SELECT half, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY 1),
      |wide AS (
      |  SELECT c.event_type, c.half,
      |    CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE) AS w,
      |    CAST(CAST(c.v AS VARCHAR) AS DOUBLE) / CAST(c.n AS DOUBLE) AS m
      |  FROM cells c JOIN totals t ON c.half = t.half)
      |SELECT h0.event_type, h0.w AS w0, h1.w AS w1, h0.m AS m0, h1.m AS m1,
      |  (h1.w - h0.w) * h0.m AS mix_effect,
      |  h1.w * (h1.m - h0.m) AS rate_effect
      |FROM (SELECT * FROM wide WHERE half = 0) h0
      |JOIN (SELECT * FROM wide WHERE half = 1) h1
      |  ON h0.event_type = h1.event_type
      |ORDER BY h0.event_type""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_mix_shift" -> (mixShift _)
  )

  val oracle: Map[String, String] = Map(
    "agg_mix_shift" -> mixShiftOracle
  )
}
