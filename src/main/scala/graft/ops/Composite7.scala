package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.21 — round-10 distribution and sequence operators:
  * the Pareto revenue decile table (and its distributed ntile twin)
  * and order-2 behavior motifs. (The round's truncated-kernel EWMA
  * smoothing is in [[timeseries.Indicators]].)
  *
  * Scale shapes: the deciles are one map-side-combining aggregate
  * over the fact, ranked over the |customers|-sized aggregate through
  * the distributed [[graft.util.DistRank.globalNtile]], never the
  * fact; the motifs are one per-user lag window and a ≤|types|³-row
  * aggregate.
  *
  * Float determinism: decile shares divide an EXACT decimal window
  * total.
  */
object Composite7 {

  // ---- agg_pareto_deciles ------------------------------------------
  // The 80/20 table: customers ranked into revenue deciles (ntile
  // over the total (spend desc, custkey) order), each decile's
  // customer count, exact-decimal revenue, and share of total. The
  // share divides a decimal window total that is EXACT, hence
  // order-independent. The window input is the |customers|-sized
  // aggregate — entity-sized at target scale — so the decile rides
  // [[graft.util.DistRank.globalNtile]] (r18 retrofit: range
  // partition → broadcast prefix offsets → per-partition row_number,
  // SQL-ntile-exact so the oracle hash cannot move);
  // `agg_ntile_distributed` remains the named twin that keeps the
  // primitive's contract continuously driver-proven.
  private def custSpend(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))

  private def paretoTail(spend: DataFrame): DataFrame =
    spend.groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("spend")).as("rev"))
      .withColumn("revenue", col("rev").cast("string"))
      .withColumn("share", round(col("rev").cast("double") /
        sum(col("rev")).over(Window.partitionBy()).cast("double"), 6))
      .select(col("decile"), col("n_customers"), col("revenue"), col("share"))
      .orderBy("decile")

  private def paretoDeciles(s: SparkSession, dir: String): DataFrame =
    // globalNtile already yields BIGINT, matching DuckDB's ntile.
    paretoTail(graft.util.DistRank.globalNtile(custSpend(s, dir),
      "decile", 10, Seq(col("spend").desc, col("o_custkey"))))

  // ---- agg_ntile_distributed ---------------------------------------
  // agg_pareto_deciles' oracle-checked twin on the PARTITIONED plan:
  // byte-identical output, but the decile comes from
  // [[graft.util.DistRank.globalNtile]] — range partition on the sort
  // key, per-partition counts, broadcast prefix offsets, per-partition
  // row_number, integer SQL-ntile arithmetic. No single-partition
  // exchange sees the entity-sized input (asserted in DistRankSpec's
  // plan test), and the driver hash-compares the result against the
  // same DuckDB ntile every round — the entity-scale swap for the
  // three bounded global-ntile rows stays continuously proven.
  private def ntileDistributed(s: SparkSession, dir: String): DataFrame =
    paretoTail(graft.util.DistRank.globalNtile(custSpend(s, dir),
      "decile", 10, Seq(col("spend").desc, col("o_custkey"))))

  private val paretoOracle =
    """WITH spend AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey),
      |d AS (
      |  SELECT spend,
      |    ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      |  FROM spend),
      |g AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
      |    sum(spend) AS rev
      |  FROM d GROUP BY decile)
      |SELECT decile, n_customers, CAST(rev AS VARCHAR) AS revenue,
      |  round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6) AS share
      |FROM g ORDER BY decile""".stripMargin

  // ---- evt_top_sequences -------------------------------------------
  // Order-2 behavior motifs: the top-20 event-type trigram sequences
  // across user timelines. One per-user double-lag window over the
  // unique (ts, event_id) order (a single Window exchange — both
  // lags share the frame), then a ≤|types|³-row aggregate; ties in
  // the count break on the sequence string, so the top-20 is total.
  private def topSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .filter(col("p2").isNotNull)
      .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("seq"))
      .groupBy("seq").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("seq"))
      .limit(20)
  }

  private val topSequencesOracle =
    """WITH s AS (
      |  SELECT event_type,
      |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
      |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
      |  FROM events)
      |SELECT p2 || '>' || p1 || '>' || event_type AS seq,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM s WHERE p2 IS NOT NULL
      |GROUP BY seq ORDER BY n DESC, seq LIMIT 20""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_pareto_deciles" -> (paretoDeciles _),
    "agg_ntile_distributed" -> (ntileDistributed _),
    "evt_top_sequences" -> (topSequences _)
  )

  val oracle: Map[String, String] = Map(
    "agg_pareto_deciles" -> paretoOracle,
    // The distributed twin must match the SAME ntile answer — one
    // oracle text, two physical plans under driver hash-compare.
    "agg_ntile_distributed" -> paretoOracle,
    "evt_top_sequences" -> topSequencesOracle
  )
}
