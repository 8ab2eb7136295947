package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.util.Tables._

/** SURVEY.md §2.18 — round-7 engine surface: modern SQL sugar
  * (GROUP BY/ORDER BY ALL, named WINDOW clause, GROUPING_ID, ordered
  * LISTAGG), error-safe `try_*` arithmetic, Spark 4 collations, the
  * optimizer's automatic runtime bloom-filter join pruning, the
  * Observation metrics API (free QC stats on a pass that already
  * happens), explicit mid-plan reuse via caching, and the per-order
  * part sets the co-purchase graph is built from
  * ([[sharedOrderPsets]]).
  *
  * Scale notes are per-op below; the common theme is that every op
  * is either a pure projection or a single hash-aggregate — shapes
  * that survive a 1000-executor 100 TB run unchanged.
  */
object Composite4 {

  private def views(s: SparkSession, dir: String): Unit =
    Seq("customer", "orders", "lineitem", "supplier", "nation")
      .foreach(n => load(s, dir, n).createOrReplaceTempView(n))

  private def q(sql: String)(s: SparkSession, dir: String): DataFrame = {
    views(s, dir); s.sql(sql)
  }

  /** Set confs, build + eagerly PLAN the DataFrame under them, then
    * restore. The physical feature being demonstrated lives in the
    * planned `df.queryExecution.executedPlan` (asserted in
    * Round7Spec); re-planning by a later write/count without the
    * overrides changes only the physical strategy, never the result.
    * Sequential set/restore — queries are driver-run one at a time
    * (SURVEY §3), so no cross-query leakage.
    */
  private def withConfs(s: SparkSession, kv: Map[String, String])(body: => DataFrame): DataFrame = {
    val prior = kv.keys.map(k => k -> s.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try { val df = body; df.queryExecution.executedPlan; df }
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  // ---- sql_group_by_all --------------------------------------------
  // GROUP BY ALL / ORDER BY ALL (both engines support the modern
  // shorthand natively, so oracle text == query text). Resolves to
  // the same one-shuffle hash aggregate as the explicit form.
  private val groupByAllSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  // ---- sql_window_clause -------------------------------------------
  // Named WINDOW clause shared by two window functions: ONE window
  // shuffle on o_custkey serves both rank and the running sum
  // (deterministic: the (o_orderdate, o_orderkey) order is unique).
  private val windowClauseSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(rank() OVER w AS BIGINT) AS rk,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) OVER w AS DOUBLE) AS run_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- sql_grouping_id ---------------------------------------------
  // CUBE with GROUPING / GROUPING_ID disambiguation columns — the
  // standard way a reporting layer tells a subtotal row from a data
  // row whose key is genuinely NULL. Bit order verified identical in
  // both engines (first argument = most significant bit).
  private val groupingIdSql =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |  CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS INT) AS gid,
      |  count(*) AS n
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ---- agg_string_agg ----------------------------------------------
  // Ordered string aggregation (SQL:2016 LISTAGG ... WITHIN GROUP,
  // Spark 4 built-in; DuckDB spells it string_agg ... ORDER BY).
  // Deterministic because the ordering key (s_name) is unique per
  // group. One broadcast dim join + one hash aggregate.
  private def stringAgg(s: SparkSession, dir: String): DataFrame = {
    views(s, dir)
    s.sql(
      """SELECT n_name,
        |  listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name) AS suppliers,
        |  count(*) AS n_sup
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  private val stringAggOracle =
    """SELECT n_name,
      |  string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
      |  count(*) AS n_sup
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---- math_try_fns ------------------------------------------------
  // ANSI error-safe arithmetic: try_divide (÷0 → NULL), TRY_CAST of a
  // sometimes-parseable string, try_element_at past the end of an
  // array, and a guarded bigint-overflow probe. The oracle spells the
  // same semantics with NULLIF/TRY_CAST/list-index/CASE — DuckDB's
  // native behaviors. Pure projection; the ORDER BY covers every
  // column the remaining outputs are derived from, so row order is
  // deterministic even though (l_orderkey, l_linenumber) repeats.
  private val tryFnsSql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
      |  try_divide(l_extendedprice, l_quantity - 25.0) AS safe_ratio,
      |  try_cast(CASE WHEN l_linenumber % 3 = 0 THEN CAST(l_partkey AS STRING)
      |                ELSE concat('x', CAST(l_partkey AS STRING)) END AS BIGINT) AS parsed_key,
      |  try_element_at(array(l_orderkey, l_partkey), l_linenumber) AS probed,
      |  try_add(9223372036854775807L, l_orderkey) AS overflow_probe
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""".stripMargin

  private val tryFnsOracle =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
      |  l_extendedprice / nullif(l_quantity - 25.0, 0.0) AS safe_ratio,
      |  TRY_CAST(CASE WHEN l_linenumber % 3 = 0 THEN CAST(l_partkey AS VARCHAR)
      |                ELSE concat('x', CAST(l_partkey AS VARCHAR)) END AS BIGINT) AS parsed_key,
      |  ([l_orderkey, l_partkey])[l_linenumber] AS probed,
      |  CASE WHEN l_orderkey > 0 THEN NULL
      |       ELSE 9223372036854775807 + l_orderkey END AS overflow_probe
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""".stripMargin

  // ---- str_collation -----------------------------------------------
  // Spark 4 collations: a deterministically case-mangled segment
  // column grouped under UTF8_LCASE compares case-insensitively; the
  // surfaced key is re-collated to binary so the sink schema stays a
  // plain string. The oracle lowers the key — the LCASE-collation
  // semantics for this ASCII domain.
  private def collation(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .withColumn("seg", expr(
        "CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment) ELSE lower(c_mktsegment) END"))
      .groupBy(expr("collate(seg, 'UTF8_LCASE')").as("k"))
      .agg(count(lit(1)).as("n_cust"),
        asD(sum(money(col("c_acctbal")))).as("sum_bal"))
      .select(expr("collate(lower(k), 'UTF8_BINARY')").as("segment"),
        col("n_cust"), col("sum_bal"))
      .orderBy("segment")

  private val collationOracle =
    """SELECT lower(seg) AS segment, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS sum_bal
      |FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
      |                  ELSE lower(c_mktsegment) END AS seg, c_acctbal
      |      FROM customer)
      |GROUP BY lower(seg)
      |ORDER BY segment""".stripMargin

  // ---- join_runtime_bloom ------------------------------------------
  // The optimizer's automatic runtime-filter injection: a selective
  // filter on the creation side of a shuffle join materializes a
  // bloom filter that prunes the 600k-row application side BEFORE the
  // shuffle — at 100 TB this is the difference between shuffling the
  // whole fact table and shuffling the ~5% that can match. Broadcast
  // is disabled inside the scope so the bloom (not broadcast-hash
  // reuse) carries the pruning; thresholds are lowered because the
  // defaults target multi-GB scans. Round7Spec asserts
  // bloom_filter_might_contain in the captured plan.
  private def runtimeBloom(s: SparkSession, dir: String): DataFrame =
    withConfs(s, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val sel = load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          money(col("o_totalprice")) > lit(200000))
      load(s, dir, "lineitem")
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          asD(sum(money(col("l_extendedprice")))).as("revenue"))
        .orderBy("l_returnflag")
    }

  private val runtimeBloomOracle =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |  AND CAST(o_totalprice AS DECIMAL(15,2)) > 200000
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- obs_metrics -------------------------------------------------
  // Observation API: accumulator-backed metrics collected DURING a
  // pass that already happens (here a noop write standing in for any
  // production sink) — at 100 TB this is how per-write data-quality
  // stats come for free instead of costing a second scan. The
  // surfaced row is the observed metrics themselves; the oracle
  // recomputes them declaratively. min/max/count are order-exact;
  // the sum goes through the usual exact-decimal route.
  private def obsMetrics(s: SparkSession, dir: String): DataFrame = {
    val obs = new Observation()
    val base = load(s, dir, "lineitem").observe(obs,
      count(lit(1)).as("n_rows"),
      asD(sum(money(col("l_extendedprice")))).as("sum_price"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"))
    base.write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("sum_price").asInstanceOf[Double],
      m("min_price").asInstanceOf[Double], m("max_price").asInstanceOf[Double]))
      .toDF("n_rows", "sum_price", "min_price", "max_price")
  }

  private val obsMetricsOracle =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
      |  min(l_extendedprice) AS min_price,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem""".stripMargin

  // ---- cache_reuse -------------------------------------------------
  // Explicit mid-plan reuse: the per-customer spend aggregate is
  // computed ONCE, cached, and feeds two downstream branches — the
  // pattern every multi-output pipeline job uses to avoid re-scanning
  // the fact table per output. Spend stays DECIMAL inside the cache
  // so the branch re-aggregations remain order-exact. Round7Spec
  // asserts the branches read InMemoryTableScan. Spark's CacheManager
  // holds cached plans until an explicit unpersist (ContextCleaner
  // does NOT reclaim them), so each call unpersists the previous
  // call's cache: a session holds at most ONE copy of the
  // one-row-per-customer aggregate regardless of how many times the
  // bench re-times this query.
  private var lastCache: Option[DataFrame] = None

  private def cacheReuse(s: SparkSession, dir: String): DataFrame = synchronized {
    // Tolerate a lastCache from a since-stopped session (unpersist on
    // a dead SparkContext throws); synchronization keeps the
    // one-copy invariant if a harness ever invokes queries
    // concurrently (the driver contract is sequential, SURVEY §3).
    lastCache.foreach(df => scala.util.Try(df.unpersist(blocking = false)))
    val perCust = load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(money(col("o_totalprice"))).as("spend"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    lastCache = Some(perCust)
    def branch(tag: String, f: DataFrame => DataFrame): DataFrame =
      f(perCust).agg(count(lit(1)).as("n_cust"),
        asD(sum(col("spend"))).as("total_spend"),
        sum(col("n_orders")).as("total_orders"))
        .select(lit(tag).as("tier"), col("n_cust"), col("total_spend"),
          col("total_orders"))
    branch("high", _.filter(col("spend") > lit(300000)))
      .unionAll(branch("low", _.filter(col("spend") <= lit(300000))))
      .orderBy("tier")
  }

  private val cacheReuseOracle =
    """WITH per_cust AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(15,2))) AS spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT 'high' AS tier, count(*) AS n_cust,
      |  CAST(sum(spend) AS DOUBLE) AS total_spend,
      |  CAST(sum(n_orders) AS BIGINT) AS total_orders
      |FROM per_cust WHERE spend > 300000
      |UNION ALL
      |SELECT 'low' AS tier, count(*) AS n_cust,
      |  CAST(sum(spend) AS DOUBLE) AS total_spend,
      |  CAST(sum(n_orders) AS BIGINT) AS total_orders
      |FROM per_cust WHERE spend <= 300000
      |ORDER BY tier""".stripMargin

  /** Per-order sorted distinct part sets — the BASE view of the
    * co-purchase layer (r18): `agg_basket_lift` consumes it directly
    * and the weighted edge view explodes its pairs, so the lineitem
    * grouping runs once per JVM (timed as `memo_order_psets`). Exact
    * content (sorted distinct bigints per orderkey), built by the
    * primitive [[graft.plans.SortedLongSets]] operator. */
  private[graft] def sharedOrderPsets(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "order_psets")(orderPsetsOn(load(s, dir, "lineitem")))

  private[graft] def orderPsetsOn(lineitem: DataFrame): DataFrame =
    graft.plans.SortedLongSets(lineitem, "l_orderkey", "l_partkey", "ps")

  // ---- agg_corr_matrix ---------------------------------------------
  // All 6 pairwise Pearson correlations over (quantity, price,
  // discount, tax) from ONE scan: 15 exact-decimal sums in a single
  // map-side-combining aggregate, then `stack` unpivots the 6
  // statistics out of the one aggregated row — the single-pass
  // profiling shape (a naive UNION of 6 selects would re-scan the
  // fact table per pair; at 100 TB that is 6 scans vs 1). Assembly
  // formulas share their text with the oracle (SURVEY §2.17
  // discipline); oracle decimal→double casts route through VARCHAR
  // (§1.5 r7 — the squared-price sums exceed 2^53 scaled).
  // Minimal-width decimal views (corpus-verified bounds: qty ≤ 50,
  // price < 1.1e5, disc/tax < 1): narrow inputs keep the per-row
  // products on Spark's long-backed Decimal fast path and shrink the
  // aggregation buffers. Exactness is unchanged — both engines'
  // precision-propagation rules stay inside 38 digits for every
  // product and sum here, and equal exact values cast to equal
  // doubles regardless of declared width.
  private val corrVars = Seq(
    "q" -> "CAST(l_quantity AS DECIMAL(4,2))",
    "p" -> "CAST(l_extendedprice AS DECIMAL(9,2))",
    "d" -> "CAST(l_discount AS DECIMAL(3,2))",
    "t" -> "CAST(l_tax AS DECIMAL(3,2))")
  private val corrPairs = Seq(
    ("qty_price", "q", "p"), ("qty_disc", "q", "d"), ("qty_tax", "q", "t"),
    ("price_disc", "p", "d"), ("price_tax", "p", "t"), ("disc_tax", "d", "t"))

  // Sum-column naming: s1_<a> (sums), s2_<a> (squares), s3_<a>__<b>
  // (crosses). Aliases are restricted to [A-Za-z0-9]+ (enforced in
  // corrMatrixOn), so the "__" separator cannot collide — plain
  // concatenation would (vars "a","b" vs "ab" both yield "sab").
  private def corrSums(vars: Seq[(String, String)],
      pairs: Seq[(String, String, String)],
      cast: String => String): Seq[String] = {
    val varMap = vars.toMap
    val singles = vars.map { case (a, e) => s"${cast(s"sum($e)")} AS s1_$a" }
    val squares = vars.map { case (a, e) => s"${cast(s"sum($e * $e)")} AS s2_$a" }
    val crosses = pairs.map { case (_, a, b) =>
      s"${cast(s"sum(${varMap(a)} * ${varMap(b)})")} AS s3_${a}__$b"
    }
    Seq("CAST(count(*) AS DOUBLE) AS n") ++ singles ++ squares ++ crosses
  }

  private def corrFormula(a: String, b: String): String =
    s"round((n * s3_${a}__$b - s1_$a * s1_$b) / (sqrt(n * s2_$a - s1_$a * s1_$a) * sqrt(n * s2_$b - s1_$b * s1_$b)), 6)"

  /** Generic single-pass correlation matrix over (alias → SQL
    * expression) variable definitions — the [[graft.Graft.corrMatrix]]
    * facade surface. Expressions should be exact (decimal) views of
    * the source columns; every C(n,2) pair surfaces as one row.
    * Aliases must be alphanumeric and distinct (underscores would
    * make the generated sum-column names ambiguous). */
  private[graft] def corrMatrixOn(df: DataFrame,
      vars: Seq[(String, String)]): DataFrame = {
    val aliases = vars.map(_._1)
    // ≥2 vars (stack(0) is a parse error), alphanumeric (underscores
    // break the generated sum-column naming), and distinct under
    // LOWERCASE (Spark resolution is case-insensitive by default, so
    // "a" and "A" would make s1_a/s1_A ambiguous).
    require(aliases.size >= 2,
      s"corrMatrix needs at least 2 variables, got $aliases")
    require(aliases.forall(_.matches("[A-Za-z0-9]+")) &&
      aliases.map(_.toLowerCase).distinct.size == aliases.size,
      s"corrMatrix aliases must be case-insensitively distinct and alphanumeric: $aliases")
    val pairs = for {
      (a, ia) <- aliases.zipWithIndex
      (b, ib) <- aliases.zipWithIndex if ia < ib
    } yield (s"${a}_$b", a, b)
    val aggExprs = corrSums(vars, pairs, e => s"CAST($e AS DOUBLE)").map(expr)
    val stacked = pairs
      .map { case (nm, a, b) => s"'$nm', ${corrFormula(a, b)}" }
      .mkString(", ")
    df.agg(aggExprs.head, aggExprs.tail: _*)
      .select(expr(s"stack(${pairs.size}, $stacked) AS (pair, corr)"))
      .orderBy("pair")
  }

  private def corrMatrixSql: String = {
    val stacked = corrPairs
      .map { case (nm, a, b) => s"'$nm', ${corrFormula(a, b)}" }
      .mkString(",\n    ")
    s"""WITH s AS (
       |  SELECT ${corrSums(corrVars, corrPairs, e => s"CAST($e AS DOUBLE)").mkString(",\n    ")}
       |  FROM lineitem)
       |SELECT stack(6,
       |    $stacked) AS (pair, corr)
       |FROM s
       |ORDER BY pair""".stripMargin
  }

  private def corrMatrixOracle: String = {
    val branches = corrPairs.map { case (nm, a, b) =>
      s"SELECT '$nm' AS pair, ${corrFormula(a, b)} AS corr FROM s"
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (
       |  SELECT ${corrSums(corrVars, corrPairs, e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)").mkString(",\n    ")}
       |  FROM lineitem)
       |$branches
       |ORDER BY pair""".stripMargin
  }

  // ---- join_asof_tolerance -----------------------------------------
  // Backward as-of with a MAX-GAP bound (pandas merge_asof
  // `tolerance`): each event keeps its latest at-or-before order date
  // only when it is within 30 days; stale or absent matches surface
  // NULL. Reuses Relational.asofBackwardMerged — the tolerance is a
  // pure post-projection, so the scale shape is unchanged. Oracle:
  // DuckDB ASOF LEFT JOIN with the same CASE bound.
  private def asofTolerance(s: SparkSession, dir: String): DataFrame =
    Relational.asofBackwardMerged(s, dir)
      .select(col("event_id"), col("user_id"), col("t").as("ts"),
        when(col("m") >= col("t") - expr("INTERVAL 30 DAY"), col("m"))
          .as("asof_orderdate"))
      .orderBy("event_id")

  private val asofToleranceOracle =
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  CASE WHEN o.o_orderdate >= CAST(e.ts AS TIMESTAMP) - INTERVAL 30 DAY
      |       THEN o.o_orderdate END AS asof_orderdate
      |FROM events e ASOF LEFT JOIN
      |  (SELECT DISTINCT o_custkey, o_orderdate FROM orders) o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  // ---- sql_join_hint_shuffle ---------------------------------------
  // The two non-broadcast join-strategy hints beside sql_join_hint's
  // BROADCAST: SHUFFLE_HASH pins the nation join to a shuffled hash
  // join (no sort), MERGE pins the orders join to sort-merge —
  // the knobs a tuner reaches for when the default pick is wrong
  // (e.g. a "small" side that actually spills, or a sort already
  // satisfied upstream). Round7Spec asserts both operators appear.
  private val hintShuffleSql =
    """SELECT /*+ SHUFFLE_HASH(nation), MERGE(orders) */
      |  n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  private val hintShuffleOracle =
    """SELECT n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_group_by_all" -> (q(groupByAllSql) _),
    "sql_window_clause" -> (q(windowClauseSql) _),
    "sql_grouping_id" -> (q(groupingIdSql) _),
    "agg_string_agg" -> (stringAgg _),
    "math_try_fns" -> (q(tryFnsSql) _),
    "str_collation" -> (collation _),
    "join_runtime_bloom" -> (runtimeBloom _),
    "obs_metrics" -> (obsMetrics _),
    "cache_reuse" -> (cacheReuse _),
    "agg_corr_matrix" -> (q(corrMatrixSql) _),
    "join_asof_tolerance" -> (asofTolerance _),
    "sql_join_hint_shuffle" -> (q(hintShuffleSql) _)
  )

  val oracle: Map[String, String] = Map(
    "sql_group_by_all" -> groupByAllSql,
    "sql_window_clause" -> windowClauseSql,
    "sql_grouping_id" -> groupingIdSql,
    "agg_string_agg" -> stringAggOracle,
    "math_try_fns" -> tryFnsOracle,
    "str_collation" -> collationOracle,
    "join_runtime_bloom" -> runtimeBloomOracle,
    "obs_metrics" -> obsMetricsOracle,
    "cache_reuse" -> cacheReuseOracle,
    "agg_corr_matrix" -> corrMatrixOracle,
    "join_asof_tolerance" -> asofToleranceOracle,
    "sql_join_hint_shuffle" -> hintShuffleOracle
  )
}
