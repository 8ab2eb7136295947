package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.21 — round-10 distribution and time-series
  * operators: the Pareto revenue decile table (and its distributed
  * ntile twin), order-2 behavior motifs, and truncated-kernel EWMA
  * smoothing.
  *
  * Scale shapes: every operator is one map-side-combining aggregate
  * over the fact plus windows on aggregate-sized (deciles / per-entity
  * series) data; dimensions broadcast. The decile ntile runs over the
  * |customers|-sized aggregate through the distributed
  * [[graft.util.DistRank.globalNtile]], never the fact.
  *
  * Float determinism: decile shares divide an EXACT decimal window
  * total; EWMA weights are pinned double literals over exact daily
  * decimal revenue, rounded by the floor-6 form both engines compute
  * identically.
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

  // ---- win_ewma_smooth ---------------------------------------------
  // Truncated-kernel EWMA over each nation's daily order revenue:
  // y_t = Σ_{j=0..7} w_j·x_{t-j} / Σ_{j present} w_j with w_j =
  // 0.7^j pinned as exact double LITERALS (no cross-engine pow
  // call). The recursive EWMA is inherently sequential; the
  // 8-term truncation re-expresses it as a fixed window frame —
  // embarrassingly parallel per nation, kernel mass 1−0.7^8 ≈ 94%
  // covered. Daily revenue aggregates as exact DECIMAL (scaled
  // ≪ 2^53, so the double conversion is exact); head-of-series
  // rows renormalize over the weights actually present.
  private val ewmaWeights = Seq(
    "1.0", "0.7", "0.49", "0.343", "0.2401",
    "0.16807", "0.117649", "0.0823543")

  private def ewmaTerms(lagf: (String, Int) => String): (String, String) = {
    val num = ewmaWeights.zipWithIndex.map { case (w, j) =>
      s"coalesce(${lagf("x", j)}, 0.0) * $w"
    }.mkString(" + ")
    val den = ewmaWeights.zipWithIndex.map { case (w, j) =>
      s"CASE WHEN ${lagf("x", j)} IS NULL THEN 0.0 ELSE $w END"
    }.mkString(" + ")
    (num, den)
  }

  private def ewmaSmooth(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "orders")
      .join(broadcast(load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .select(col("n_name"), col("day"), col("rev").cast("double").as("x"))
    val (num, den) = ewmaTerms((c, j) =>
      if (j == 0) c
      else s"lag($c, $j) OVER (PARTITION BY n_name ORDER BY day)")
    daily.createOrReplaceTempView("daily_rev")
    // floor(v·10⁶ + 0.5)/10⁶, not round(v, 6): Spark rounds the exact
    // binary expansion of the double (BigDecimal HALF_UP) while DuckDB
    // rounds via v*10⁶ in floating point — a value ~1e-12 from a .5
    // boundary lands on different sides (the r9 tri-SF straddle,
    // 1/55134 rows at sf0.1). The floor form is computed identically
    // on identical doubles by BOTH engines (the llm_embed_quantize
    // discipline), so the straddle cannot occur.
    // 1e6, not 1000000.0: a plain decimal literal parses as DECIMAL in
    // Spark SQL and drags the division into decimal arithmetic (the
    // result surfaced as DECIMAL, red on dtype); the exponent literal
    // is DOUBLE in both engines, keeping the whole tree IEEE.
    s.sql(
      s"""SELECT n_name, day, round(x, 2) AS revenue,
         |  floor((($num) / ($den)) * 1e6 + 0.5) / 1e6 AS ewma
         |FROM daily_rev ORDER BY n_name, day""".stripMargin)
  }

  private val ewmaOracle = {
    val (num, den) = ewmaTerms((c, j) =>
      if (j == 0) c
      else s"lag($c, $j) OVER (PARTITION BY n_name ORDER BY day)")
    s"""WITH daily_rev AS (
       |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name, day)
       |SELECT n_name, day, round(x, 2) AS revenue,
       |  floor((($num) / ($den)) * 1e6 + 0.5) / 1e6 AS ewma
       |FROM daily_rev ORDER BY n_name, day""".stripMargin
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_pareto_deciles" -> (paretoDeciles _),
    "agg_ntile_distributed" -> (ntileDistributed _),
    "evt_top_sequences" -> (topSequences _),
    "win_ewma_smooth" -> (ewmaSmooth _)
  )

  val oracle: Map[String, String] = Map(
    "agg_pareto_deciles" -> paretoOracle,
    // The distributed twin must match the SAME ntile answer — one
    // oracle text, two physical plans under driver hash-compare.
    "agg_ntile_distributed" -> paretoOracle,
    "evt_top_sequences" -> topSequencesOracle,
    "win_ewma_smooth" -> ewmaOracle
  )
}
