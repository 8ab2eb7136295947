package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.51 (round-22 batch 3) — robust outlier auditing:
  *
  *  - [[outlierFences]]: Tukey-fence outlier audit per return flag —
  *    quartiles as PICKED values, fences at ±1.5·IQR, and the
  *    outlier counts beyond them. The robust alternative to z-score
  *    screens (evt_anomaly_iqr screens event VALUES; this audits the
  *    money column of the fact table, the DQ question).
  *
  * Scale shapes: the fence quartiles follow the agg_weighted_median
  * rule — cumulative windows read the (flag, cents) COUNT aggregate,
  * never the raw fact table, and the 3-row fence table broadcasts
  * back into the counting pass over the same aggregate.
  *
  * Determinism: every comparison is exact-integer (quartiles are
  * picked values; fence tests multiply through by 2 so 1.5·IQR never
  * leaves the integers); surfaced prices divide exact cents by 100
  * once, floor-6-dp (§1.5).
  */
object Composite35 {

  // ---- dq_outlier_fences -----------------------------------------------
  // Per return flag over extendedprice (exact cents): Q1/Q3 as the
  // smallest values whose cumulative count reaches ¼ / ¾ of the rows
  // (4·cum ≥ n / 4·cum ≥ 3n — the percentile_disc pick), fences at
  // Q1 − 1.5·IQR and Q3 + 1.5·IQR tested as 2·cents < 2·Q1 − 3·IQR
  // (× 2 keeps the half-cent fence in integers), outlier counts from
  // the SAME (flag, cents) aggregate the quartiles came from.
  private[graft] def outlierFencesOn(li: DataFrame): DataFrame = {
    val grouped = li
      .select(col("l_returnflag"),
        (money(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .groupBy(col("l_returnflag"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    // (r19: a whole-partition-window total variant and a lazy
    // checkpoint of `grouped` were both tried and reverted — the
    // window form violates the r11 plan contract PlanSpec pins for
    // this shape, and the checkpoint measured slower than recomputing
    // the cheap aggregate per consumer.)
    val tot = grouped.groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n"))
    val wc = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fences = grouped
      .select(col("l_returnflag"), col("cents"),
        sum(col("cnt")).over(wc).as("cum"))
      .join(broadcast(tot), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") * 4 >= col("n"), col("cents"))).as("q1c"),
        min(when(col("cum") * 4 >= col("n") * 3, col("cents"))).as("q3c"),
        min(col("n")).as("n"))
    grouped.join(broadcast(fences), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(min(col("n")).as("n_rows"), min(col("q1c")).as("q1c"),
        min(col("q3c")).as("q3c"),
        sum(when(col("cents") * 2 < col("q1c") * 2 - (col("q3c") - col("q1c")) * 3,
          col("cnt")).otherwise(0L)).as("n_low_outliers"),
        sum(when(col("cents") * 2 > col("q3c") * 2 + (col("q3c") - col("q1c")) * 3,
          col("cnt")).otherwise(0L)).as("n_high_outliers"))
      .selectExpr("l_returnflag", "n_rows",
        "CAST(q1c AS DOUBLE)/100 AS q1_price",
        "CAST(q3c AS DOUBLE)/100 AS q3_price",
        "n_low_outliers", "n_high_outliers")
      .orderBy("l_returnflag")
  }

  private def outlierFences(s: SparkSession, dir: String): DataFrame =
    outlierFencesOn(load(s, dir, "lineitem"))

  private val outlierFencesOracle =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |tot AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n
      |        FROM g GROUP BY 1),
      |cum AS (
      |  SELECT l_returnflag, cents, cnt,
      |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM g),
      |f AS (
      |  SELECT c.l_returnflag,
      |    min(CASE WHEN cum * 4 >= n THEN cents END) AS q1c,
      |    min(CASE WHEN cum * 4 >= n * 3 THEN cents END) AS q3c,
      |    min(n) AS n
      |  FROM cum c JOIN tot USING (l_returnflag) GROUP BY 1)
      |SELECT g.l_returnflag, CAST(min(n) AS BIGINT) AS n_rows,
      |  CAST(min(q1c) AS DOUBLE)/100 AS q1_price,
      |  CAST(min(q3c) AS DOUBLE)/100 AS q3_price,
      |  CAST(sum(CASE WHEN cents * 2 < q1c * 2 - (q3c - q1c) * 3
      |    THEN cnt ELSE 0 END) AS BIGINT) AS n_low_outliers,
      |  CAST(sum(CASE WHEN cents * 2 > q3c * 2 + (q3c - q1c) * 3
      |    THEN cnt ELSE 0 END) AS BIGINT) AS n_high_outliers
      |FROM g JOIN f USING (l_returnflag)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_outlier_fences" -> (outlierFences _)
  )

  val oracle: Map[String, String] = Map(
    "dq_outlier_fences" -> outlierFencesOracle
  )
}
