package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Tables._

/** SURVEY.md §2.90 (round-18 batch 2) — the first-two-digit Benford
  * screen:
  *
  *  - `dq_benford_first_two`: Nigrini's first-two-digit test (the
  *    90-bin screen run between `agg_benford`'s 9 bins and
  *    `dq_benford_second_digit`'s marginal): digits 10–99 from
  *    positions 1–2 of the DECIMAL(15,2) string (engine-identical
  *    formatting), expected log10(1 + 1/d) via the pinned-LN10
  *    discipline, totals < 10 excluded (documented no-op guard on
  *    this corpus).
  *
  * Scale shape: one hash aggregate over a projection; the only global
  * window is over the 90-row digit relation.
  */
object Composite82 {

  // ---- dq_benford_first_two ------------------------------------------
  private val LN10 = "2.302585092994046"

  private def b12Body(str: String) =
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS $str), 1, 2) AS INT) AS digits
       |  FROM orders
       |  WHERE CAST(o_totalprice AS DECIMAL(15,2)) >= 10),
       |c AS (SELECT digits, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digits)
       |SELECT digits, n,
       |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 6) AS share,
       |  round(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(digits AS DOUBLE)) / $LN10, 6) AS benford12,
       |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
       |    - ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(digits AS DOUBLE)) / $LN10, 6) AS deviation
       |FROM c
       |ORDER BY digits""".stripMargin

  private[graft] def benford12On(s: SparkSession, orders: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("orders")
    s.sql(b12Body("STRING"))
  }

  private def benford12(s: SparkSession, dir: String): DataFrame =
    benford12On(s, load(s, dir, "orders"))

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_benford_first_two" -> (benford12 _)
  )

  val oracle: Map[String, String] = Map(
    "dq_benford_first_two" -> b12Body("VARCHAR")
  )
}
