package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.49 (round-22 batch) — the gap VERDICT r11 ranked as
  * what a real user hits next:
  *
  *  - [[referentialIntegrity]]: orphan-FK audit across every edge of
  *    the star schema — the FIRST data-quality check a warehouse
  *    pipeline runs, and the one the existing single-table `dq_*`
  *    rows cannot answer ("which lineitem rows orphan their order?").
  *
  * Scale shapes: each RI edge is ONE fk-keyed shuffle join (parent
  * side deduped by an aggregate on the small side; AQE broadcasts the
  * dim parents) feeding a map-side-combining conditional count — the
  * 7 edges are independent union branches, embarrassingly parallel.
  *
  * Determinism: RI outputs are exact integers.
  */
object Composite33 {

  // ---- dq_referential_integrity ---------------------------------------
  // One row per FK edge: child rowcount and orphan count (fk NOT NULL
  // with no parent). NULL fks are counted in n_child but are NOT
  // orphans — missing values are dq_constraint_check's business; this
  // audit is about dangling references. The parent key is deduped
  // before the join so a (hypothetically) non-unique parent PK can
  // never double-count child rows into the audit.
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
    val li = load(s, dir, "lineitem"); val o = load(s, dir, "orders")
    val c = load(s, dir, "customer"); val n = load(s, dir, "nation")
    referentialIntegrityOn(Seq(
      ("customer->nation", c, "c_nationkey", n, "n_nationkey"),
      ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      ("lineitem->part", li, "l_partkey", load(s, dir, "part"), "p_partkey"),
      ("lineitem->supplier", li, "l_suppkey", load(s, dir, "supplier"), "s_suppkey"),
      ("nation->region", n, "n_regionkey", load(s, dir, "region"), "r_regionkey"),
      ("orders->customer", o, "o_custkey", c, "c_custkey"),
      ("supplier->nation", load(s, dir, "supplier"), "s_nationkey", n, "n_nationkey")))
  }

  private def riOracleEdge(name: String, child: String, fk: String,
      parent: String, pk: String): String =
    s"""SELECT '$name' AS edge, CAST(count(*) AS BIGINT) AS n_child,
       |  CAST(sum(CASE WHEN c.fk IS NOT NULL AND p.fk IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
       |FROM (SELECT $fk AS fk FROM $child) c
       |LEFT JOIN (SELECT DISTINCT $pk AS fk FROM $parent) p USING (fk)""".stripMargin

  private val referentialIntegrityOracle = Seq(
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
    .map((riOracleEdge _).tupled)
    .mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_referential_integrity" -> (referentialIntegrity _)
  )

  val oracle: Map[String, String] = Map(
    "dq_referential_integrity" -> referentialIntegrityOracle
  )
}
