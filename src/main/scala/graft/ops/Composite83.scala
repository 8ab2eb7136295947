package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.90 (round-18 batch 3) — nonparametric change-point
  * detection:
  *
  *  - `evt_pettitt_changepoint`: Pettitt's nonparametric change-point
  *    test per event type over the daily count series — WHERE the
  *    level shifted, beside `evt_cusum_drift`'s monitoring view and
  *    `win_mann_kendall`'s monotone-trend verdict. The O(T²) pair
  *    statistic collapses to ranks: V_i = Σ_j sgn(x_i − x_j) =
  *    2(rmin−1) + t − T per day (exact midrank identity), and
  *    U_t = Σ_{i≤t} V_i is ONE type-partitioned cumulative window
  *    (the antisymmetric double sum over i,j ≤ t vanishes) — all
  *    windows bounded by the per-type day horizon
  *    (win_mann_kendall justification). K = max│U_t│ (t < T),
  *    change day = earliest attaining day, approximate
  *    p = min(1, 2·exp(−6K²/(T³+T²))) via identical-input exp.
  */
object Composite83 {

  // ---- evt_pettitt_changepoint ----------------------------------------
  private val pettittP =
    """least(1.0E0, 2.0E0*exp(-6.0E0*CAST(k_stat AS DOUBLE)*CAST(k_stat AS DOUBLE)
      |  / (CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE)
      |     + CAST(n_days AS DOUBLE)*CAST(n_days AS DOUBLE))))""".stripMargin
  private val pettittSelect = Seq("event_type", "n_days", "k_stat",
    "change_dd",
    s"floor(($pettittP)*1e6 + 0.5)/1e6 AS p_approx",
    s"($pettittP < 0.05E0) AS change_detected_5pct")

  private[graft] def pettittOn(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("bigint").as("dd"))
      .groupBy(col("event_type"), col("dd"))
      .agg(count(lit(1)).as("y"))
    val byType = Window.partitionBy(col("event_type"))
    val ranked = daily
      .withColumn("tt", count(lit(1)).over(byType))
      .withColumn("rmin", rank().over(byType.orderBy(col("y"))).cast("long"))
      .withColumn("tw", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col("y"))))
      .select(col("event_type"), col("dd"), col("tt"),
        (lit(2L) * (col("rmin") - 1L) + col("tw") - col("tt")).as("v"))
    val u = ranked
      .withColumn("u", sum(col("v")).over(byType.orderBy(col("dd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("idx", row_number().over(byType.orderBy(col("dd"))))
      .filter(col("idx") < col("tt")) // U_T ≡ 0, excluded by convention
      .localCheckpoint(false) // feeds the max AND the argmax join
    val k = u.groupBy(col("event_type"))
      .agg((max(col("tt")) /* constant per type */).as("nd"),
        max(abs(col("u"))).as("k_stat"))
    val at = u.join(broadcast(k), Seq("event_type"))
      .filter(abs(col("u")) === col("k_stat"))
      .groupBy(col("event_type")).agg(min(col("dd")).as("change_dd"))
    k.join(at, Seq("event_type"))
      .select(col("event_type"), col("nd").as("n_days"),
        col("k_stat").cast("bigint").as("k_stat"), col("change_dd"))
      .selectExpr(pettittSelect: _*)
      .orderBy("event_type")
  }

  private def pettitt(s: SparkSession, dir: String): DataFrame =
    pettittOn(loadEvents(s, dir))

  private val pettittOracle =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS dd,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |ranked AS (
       |  SELECT event_type, dd,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
       |    2*(CAST(rank() OVER (PARTITION BY event_type ORDER BY y) AS BIGINT) - 1)
       |      + CAST(count(*) OVER (PARTITION BY event_type, y) AS BIGINT)
       |      - CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS v
       |  FROM daily),
       |u AS (
       |  SELECT event_type, dd, tt,
       |    CAST(sum(v) OVER (PARTITION BY event_type ORDER BY dd
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS u,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY dd) AS BIGINT) AS idx
       |  FROM ranked),
       |ub AS (SELECT * FROM u WHERE idx < tt),
       |k AS (
       |  SELECT event_type, max(tt) AS n_days, max(abs(u)) AS k_stat
       |  FROM ub GROUP BY 1),
       |at AS (
       |  SELECT ub.event_type, min(ub.dd) AS change_dd
       |  FROM ub JOIN k ON ub.event_type = k.event_type
       |    AND abs(ub.u) = k.k_stat
       |  GROUP BY 1)
       |SELECT ${pettittSelect.mkString(",\n  ")}
       |FROM k JOIN at USING (event_type)
       |ORDER BY event_type""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_pettitt_changepoint" -> (pettitt _)
  )

  val oracle: Map[String, String] = Map(
    "evt_pettitt_changepoint" -> pettittOracle
  )
}
