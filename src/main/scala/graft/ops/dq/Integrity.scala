package graft.ops.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Schema-integrity audits over the TPC-H star (SURVEY.md §2.44,
  * §2.49, §2.53, §2.54) — the checks a production data platform runs
  * before anything else reads the tables:
  *
  *  - `dq_constraint_check`: declared-constraint violations (FK
  *    orphans, domain bounds, temporal ordering) as one (check_name,
  *    count) relation. ONE scan per audited table: the fact acquires
  *    every dimension key through left joins in a single pass and all
  *    per-constraint counts fall out of one conditional aggregate — at
  *    100 TB that is 3 co-partitioned joins + a 10-row result, vs the
  *    naive one-anti-join-per-constraint plan's 7 fact rescans.
  *
  *  - `dq_uniqueness_audit`: candidate-key cardinality audit per
  *    entity of [[PrimaryKeys]] (n_rows, n_keys, n_dup_rows). Each
  *    entity is one count+count_distinct aggregate; the known
  *    non-unique lineitem (l_orderkey, l_linenumber) tuple (see
  *    [[graft.util.Tables.lineitemCols]]) keeps the op honest with a
  *    non-zero row.
  *
  *  - `dq_referential_integrity`: orphan-FK audit across every edge
  *    of the star schema ([[FkEdges]]) — the check the single-table
  *    rows cannot answer ("which lineitem rows orphan their order?").
  *    Each edge is ONE fk-keyed shuffle join (parent side deduped by
  *    an aggregate on the small side; AQE broadcasts the dim parents)
  *    feeding a map-side-combining conditional count — the 7 edges
  *    are independent union branches, embarrassingly parallel.
  *
  *  - `dq_functional_dependency`: candidate functional-dependency
  *    audit X→Y over [[FdCandidates]]: distinct-X count, count of X
  *    values mapping to >1 distinct Y, the worst fan-out, and the
  *    violation share — single-table FD profiling (TANE's
  *    verification step), the "is this column derivable?" question
  *    the single-column uniqueness profile cannot answer. Four
  *    independent two-level aggregates (X-keyed count-distinct, then
  *    a tiny rollup) union'd.
  *
  *  - `dq_order_reconciliation`: header-vs-facts money
  *    reconciliation — per order priority, does o_totalprice equal the
  *    order's Σ extendedprice·(1−discount)·(1+tax) recomputed from its
  *    lineitems? Keys can match while the money does not. ONE
  *    orderkey-keyed join (both sides shuffle-keyed — the
  *    agg_ship_delay fact⋈fact discipline) between two
  *    map-side-combining aggregates.
  *
  * Each inventory (keys, edges, candidates) is one `Seq` that drives
  * both the builder and its oracle text.
  *
  * Determinism: every output is an exact integer except the FD
  * violation share (floor-6-dp, §1.5); the reconciliation compares at
  * scale 10⁴·cents so (1−d)(1+t) never leaves the integers (terms
  * ≤ ~10¹¹, sums ≤ ~10¹² — far inside BIGINT).
  */
object Integrity {

  // ---- dq_constraint_check -------------------------------------------
  private def constraintCheck(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .join(load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .join(load(s, dir, "part").select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left")
      .join(load(s, dir, "supplier").select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left")
    def viol(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val liRow = li.agg(
      viol(col("o_orderkey").isNull).as("fk_lineitem_orderkey"),
      viol(col("p_partkey").isNull).as("fk_lineitem_partkey"),
      viol(col("s_suppkey").isNull).as("fk_lineitem_suppkey"),
      viol(col("l_quantity") < 1 || col("l_quantity") > 50)
        .as("chk_quantity_range"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.1)
        .as("chk_discount_range"),
      viol(col("l_tax") < 0 || col("l_tax") > 0.08).as("chk_tax_range"),
      viol(col("o_orderdate").isNotNull &&
        col("l_shipdate") < col("o_orderdate")).as("chk_ship_after_order"))
    val ordRow = load(s, dir, "orders")
      .join(load(s, dir, "customer").select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(
        viol(col("c_custkey").isNull).as("fk_orders_custkey"),
        viol(col("o_totalprice") <= 0).as("chk_price_positive"))
    val custRow = load(s, dir, "customer")
      .join(broadcast(load(s, dir, "nation").select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"), "left")
      .agg(viol(col("n_nationkey").isNull).as("fk_customer_nationkey"))
    def unpivot(row: DataFrame): DataFrame = {
      val cols = row.columns
      val stackArgs = cols.map(c => s"'$c', $c").mkString(", ")
      row.select(expr(
        s"stack(${cols.length}, $stackArgs) AS (check_name, n_violations)"))
    }
    unpivot(liRow).unionAll(unpivot(ordRow)).unionAll(unpivot(custRow))
      .orderBy("check_name")
  }

  private val constraintCheckOracle =
    """WITH li AS (
      |  SELECT l.*, o.o_orderkey AS ok, o.o_orderdate AS od,
      |         p.p_partkey AS pk, s.s_suppkey AS sk
      |  FROM lineitem l
      |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |  LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |ord AS (
      |  SELECT o.*, c.c_custkey AS ck FROM orders o
      |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
      |cust AS (
      |  SELECT c.*, n.n_nationkey AS nk FROM customer c
      |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |rows AS (
      |  SELECT 'fk_lineitem_orderkey' AS check_name,
      |    sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS n_violations FROM li
      |  UNION ALL SELECT 'fk_lineitem_partkey',
      |    sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) FROM li
      |  UNION ALL SELECT 'fk_lineitem_suppkey',
      |    sum(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) FROM li
      |  UNION ALL SELECT 'chk_quantity_range',
      |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) FROM li
      |  UNION ALL SELECT 'chk_discount_range',
      |    sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) FROM li
      |  UNION ALL SELECT 'chk_tax_range',
      |    sum(CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END) FROM li
      |  UNION ALL SELECT 'chk_ship_after_order',
      |    sum(CASE WHEN od IS NOT NULL AND l_shipdate < od THEN 1 ELSE 0 END) FROM li
      |  UNION ALL SELECT 'fk_orders_custkey',
      |    sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) FROM ord
      |  UNION ALL SELECT 'chk_price_positive',
      |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) FROM ord
      |  UNION ALL SELECT 'fk_customer_nationkey',
      |    sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) FROM cust)
      |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations
      |FROM rows ORDER BY check_name""".stripMargin

  // ---- dq_uniqueness_audit -------------------------------------------
  /** (table, single-column primary key) of every audited entity. */
  private val PrimaryKeys = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  private def uniquenessAudit(s: SparkSession, dir: String): DataFrame = {
    def simple(table: String, key: String): DataFrame =
      load(s, dir, table).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(key)).as("n_keys"))
        .select(lit(s"$table.$key").as("entity"), col("n_rows"),
          col("n_keys"), (col("n_rows") - col("n_keys")).as("n_dup_rows"))
    // the known-non-unique composite key (Tables.lineitemCols note):
    // a real audit must surface the violation, not assume it away
    val liKey = load(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_keys"))
      .select(lit("lineitem.l_orderkey+l_linenumber").as("entity"),
        col("n_rows"), col("n_keys"),
        (col("n_rows") - col("n_keys")).as("n_dup_rows"))
    (PrimaryKeys.map { case (t, k) => simple(t, k) } :+ liKey)
      .reduce(_.unionAll(_))
      .orderBy("entity")
  }

  private val uniquenessAuditOracle = {
    val parts = PrimaryKeys.map { case (t, k) =>
      s"""SELECT '$t.$k' AS entity, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT $k) AS BIGINT) AS n_keys,
         |  CAST(count(*) - count(DISTINCT $k) AS BIGINT) AS n_dup_rows
         |FROM $t""".stripMargin
    } :+
      """SELECT 'lineitem.l_orderkey+l_linenumber', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
        |FROM lineitem""".stripMargin
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY entity")
  }

  // ---- dq_referential_integrity ---------------------------------------
  // One row per FK edge: child rowcount and orphan count (fk NOT NULL
  // with no parent). NULL fks are counted in n_child but are NOT
  // orphans — missing values are dq_constraint_check's business; this
  // audit is about dangling references. The parent key is deduped
  // before the join so a (hypothetically) non-unique parent PK can
  // never double-count child rows into the audit.

  /** (edge, child table, fk, parent table, pk) of every star edge. */
  private val FkEdges = Seq(
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  private def riEdge(name: String, child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    child.select(col(fk).as("fk"))
      .join(parent.select(col(pk).as("fk")).distinct()
        .withColumn("hit", lit(1)), Seq("fk"), "left")
      .agg(count(lit(1)).as("n_child"),
        // coalesce: sum over an EMPTY child is NULL, and the audit
        // must stay total for empty relations (0 rows, 0 orphans)
        coalesce(sum(when(col("fk").isNotNull && col("hit").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_orphans"))
      .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))

  /** The full star-schema audit as (edge, n_child, n_orphans) rows.
    * Factored over arbitrary (name, child, fk, parent, pk) edges for
    * the planted-orphan spec and the facade. */
  private[graft] def referentialIntegrityOn(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    edges.map { case (n, c, fk, p, pk) => riEdge(n, c, fk, p, pk) }
      .reduce(_.unionAll(_))
      .orderBy("edge")

  private def referentialIntegrity(s: SparkSession, dir: String): DataFrame = {
    val t = FkEdges.flatMap(e => Seq(e._2, e._4)).distinct
      .map(n => n -> load(s, dir, n)).toMap
    referentialIntegrityOn(FkEdges.map { case (n, c, fk, p, pk) =>
      (n, t(c), fk, t(p), pk) })
  }

  private def riOracleEdge(name: String, child: String, fk: String,
      parent: String, pk: String): String =
    s"""SELECT '$name' AS edge, CAST(count(*) AS BIGINT) AS n_child,
       |  CAST(sum(CASE WHEN c.fk IS NOT NULL AND p.fk IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
       |FROM (SELECT $fk AS fk FROM $child) c
       |LEFT JOIN (SELECT DISTINCT $pk AS fk FROM $parent) p USING (fk)""".stripMargin

  private val referentialIntegrityOracle = FkEdges
    .map((riOracleEdge _).tupled)
    .mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  // ---- dq_functional_dependency ----------------------------------------
  // Per FD: |X|, X values with >1 distinct Y, the worst per-X
  // fan-out, and the violation share.

  /** (table, X, Y) of every declared FD candidate X→Y. */
  private val FdCandidates = Seq(
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("orders", "o_custkey", "o_orderpriority"))

  private[graft] def fdAuditOn(df: DataFrame, fdName: String,
      x: String, y: String): DataFrame =
    df.groupBy(col(x)).agg(countDistinct(col(y)).as("ny"))
      .agg(count(lit(1)).as("n_lhs"),
        sum(when(col("ny") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("ny")).as("max_fanout"))
      .select(lit(fdName).as("fd"), col("n_lhs"), col("n_violating"),
        col("max_fanout"))

  private def functionalDependency(s: SparkSession, dir: String): DataFrame = {
    val audits = FdCandidates.map { case (t, x, y) =>
      fdAuditOn(load(s, dir, t), s"$t.$x->$y", x, y) }
    audits.reduce(_ unionAll _)
      .selectExpr("fd", "n_lhs", "n_violating", "max_fanout",
        """floor((CAST(n_violating AS DOUBLE)/n_lhs)*1e6 + 0.5)/1e6
          | AS violation_share""".stripMargin)
      .orderBy("fd")
  }

  private val functionalDependencyOracle = {
    def one(table: String, x: String, y: String) =
      s"""SELECT '$table.$x->$y' AS fd,
         |  CAST(count(*) AS BIGINT) AS n_lhs,
         |  CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  CAST(max(ny) AS BIGINT) AS max_fanout
         |FROM (SELECT $x, CAST(count(DISTINCT $y) AS BIGINT) AS ny
         |      FROM $table GROUP BY 1)""".stripMargin
    s"""WITH u AS (
       |${FdCandidates.map((one _).tupled).mkString("\nUNION ALL\n")})
       |SELECT fd, n_lhs, n_violating, max_fanout,
       |  floor((CAST(n_violating AS DOUBLE)/n_lhs)*1e6 + 0.5)/1e6
       |   AS violation_share
       |FROM u ORDER BY fd""".stripMargin
  }

  // ---- dq_order_reconciliation -----------------------------------------
  // diff is measured at scale 10^4 · cents: header_scaled =
  // total_cents·10^4, line term = e_cents·(100−d_h)·(100+t_h). A
  // one-cent tolerance is diff ≤ 10^4. Orders with no lineitems are
  // counted apart (their diff is undefined, not zero).
  private[graft] def orderReconciliationOn(orders: DataFrame, li: DataFrame): DataFrame = {
    val lineSums = li.select(col("l_orderkey").as("o_orderkey"),
        (cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))
          * (lit(100L) + cents(col("l_tax")))).as("term"))
      .groupBy(col("o_orderkey")).agg(sum(col("term")).as("line_scaled"))
    val diff = abs(col("header_scaled") - col("line_scaled"))
    orders.select(col("o_orderkey"), col("o_orderpriority"),
        (cents(col("o_totalprice")) * lit(10000L)).as("header_scaled"))
      .join(lineSums, Seq("o_orderkey"), "left")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("line_scaled").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(diff === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(diff > 0 && diff <= 10000, 1L).otherwise(0L)).as("n_within_cent"),
        sum(when(diff > 10000, 1L).otherwise(0L)).as("n_above_cent"),
        max(floor(diff / 10000).cast("long")).as("max_diff_cents"))
      .orderBy("o_orderpriority")
  }

  private val orderReconciliationOracle =
    """WITH ls AS (
      |  SELECT l_orderkey AS o_orderkey,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))*100 AS BIGINT)
      |      * (100 - CAST(CAST(l_discount AS DECIMAL(15,2))*100 AS BIGINT))
      |      * (100 + CAST(CAST(l_tax AS DECIMAL(15,2))*100 AS BIGINT)))
      |      AS line_scaled
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) * 10000
      |      AS header_scaled,
      |    CAST(line_scaled AS BIGINT) AS line_scaled
      |  FROM orders LEFT JOIN ls USING (o_orderkey))
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN line_scaled IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_no_lines,
      |  CAST(sum(CASE WHEN abs(header_scaled - line_scaled) = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN abs(header_scaled - line_scaled) > 0
      |    AND abs(header_scaled - line_scaled) <= 10000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_cent,
      |  CAST(sum(CASE WHEN abs(header_scaled - line_scaled) > 10000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above_cent,
      |  CAST(max(abs(header_scaled - line_scaled) // 10000) AS BIGINT)
      |    AS max_diff_cents
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_constraint_check" -> (constraintCheck _),
    "dq_uniqueness_audit" -> (uniquenessAudit _),
    "dq_referential_integrity" -> (referentialIntegrity _),
    "dq_functional_dependency" -> (functionalDependency _),
    "dq_order_reconciliation" -> ((s: SparkSession, dir: String) =>
      orderReconciliationOn(load(s, dir, "orders"), load(s, dir, "lineitem")))
  )

  val oracle: Map[String, String] = Map(
    "dq_constraint_check" -> constraintCheckOracle,
    "dq_uniqueness_audit" -> uniquenessAuditOracle,
    "dq_referential_integrity" -> referentialIntegrityOracle,
    "dq_functional_dependency" -> functionalDependencyOracle,
    "dq_order_reconciliation" -> orderReconciliationOracle
  )
}
