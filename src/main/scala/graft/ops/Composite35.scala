package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.51 (round-22 batch 3) — robust outlier auditing and
  * community boundary quality:
  *
  *  - [[outlierFences]]: Tukey-fence outlier audit per return flag —
  *    quartiles as PICKED values, fences at ±1.5·IQR, and the
  *    outlier counts beyond them. The robust alternative to z-score
  *    screens (evt_anomaly_iqr screens event VALUES; this audits the
  *    money column of the fact table, the DQ question).
  *
  *  - [[conductance]]: per-community conductance cut_c / min(vol_c,
  *    2m − vol_c) over the co-purchase graph — the BOUNDARY quality
  *    number (graph_modularity scores internal density; conductance
  *    scores how leaky the cut is — both sides of the community-
  *    evaluation coin).
  *
  * Scale shapes: the fence quartiles follow the agg_weighted_median
  * rule — cumulative windows read the (flag, cents) COUNT aggregate,
  * never the raw fact table, and the 3-row fence table broadcasts
  * back into the counting pass over the same aggregate; conductance
  * is two keyed aggregates + the 1-row edge total broadcast.
  *
  * Determinism: every comparison is exact-integer (quartiles are
  * picked values; fence tests multiply through by 2 so 1.5·IQR never
  * leaves the integers); surfaced prices divide exact cents by 100
  * once, conductance assembles once in double, both floor-6-dp
  * (§1.5).
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

  // ---- graph_conductance -----------------------------------------------
  // Per community c(n) = n % 50: volume (degree sum), cut size
  // (edges with exactly one endpoint inside — each cut edge charges
  // BOTH its communities), and conductance cut / min(vol, 2m − vol)
  // (NULL if the denominator degenerates to 0 — only possible when
  // one community swallows the whole graph). graph_modularity scores
  // density; this scores the boundary.
  private val Communities = 50

  private[graft] def conductanceOn(half: DataFrame): DataFrame = {
    val m = half.agg(count(lit(1)).as("m"))
    val vol = half.select(col("src").as("n"))
      .unionAll(half.select(col("dst").as("n")))
      .groupBy((col("n") % Communities).as("community"))
      .agg(count(lit(1)).as("volume"))
    val cut = half
      .filter(col("src") % Communities =!= col("dst") % Communities)
      .select(explode(array(col("src") % Communities,
        col("dst") % Communities)).as("community"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("cut"))
    vol.join(cut, Seq("community"), "left")
      .select(col("community"), col("volume"),
        coalesce(col("cut"), lit(0L)).as("cut_edges"))
      .crossJoin(broadcast(m))
      .selectExpr("community", "volume", "cut_edges",
        """floor((CAST(cut_edges AS DOUBLE)
          | / nullif(CASE WHEN volume <= 2*m - volume THEN volume
          |     ELSE 2*m - volume END, 0))*1e6 + 0.5)/1e6
          | AS conductance""".stripMargin)
      .orderBy("community")
  }

  private def conductance(s: SparkSession, dir: String): DataFrame =
    conductanceOn(Composite4.coPurchaseHalfEdges(s, dir).localCheckpoint())

  private val conductanceOracle =
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |vol AS (
       |  SELECT n % $Communities AS community,
       |    CAST(count(*) AS BIGINT) AS volume
       |  FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
       |  GROUP BY 1),
       |cut AS (
       |  SELECT community, CAST(count(*) AS BIGINT) AS cut FROM (
       |    SELECT src % $Communities AS community FROM e
       |    WHERE src % $Communities <> dst % $Communities
       |    UNION ALL
       |    SELECT dst % $Communities FROM e
       |    WHERE src % $Communities <> dst % $Communities)
       |  GROUP BY 1),
       |j AS (
       |  SELECT community, volume,
       |    coalesce(cut, CAST(0 AS BIGINT)) AS cut_edges
       |  FROM vol LEFT JOIN cut USING (community))
       |SELECT community, volume, cut_edges,
       |  floor((CAST(cut_edges AS DOUBLE)
       | / nullif(CASE WHEN volume <= 2*m - volume THEN volume
       |     ELSE 2*m - volume END, 0))*1e6 + 0.5)/1e6
       | AS conductance
       |FROM j CROSS JOIN m ORDER BY community""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_outlier_fences" -> (outlierFences _),
    "graph_conductance" -> (conductance _)
  )

  val oracle: Map[String, String] = Map(
    "dq_outlier_fences" -> outlierFencesOracle,
    "graph_conductance" -> conductanceOracle
  )
}
