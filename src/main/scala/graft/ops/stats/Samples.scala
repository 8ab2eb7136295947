package graft.ops.stats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** The decisions the hypothesis-test rows share, each made once: the
  * group alphabets, the AUTOMOBILE/HOUSEHOLD two-sample slice and its
  * (x, i1) projection, the per-priority cent projection and moments,
  * the exact power-sum aggregates, the one-way ANOVA F, and the 6-dp
  * floor rounding. Every SQL text piece here is pasted into both the
  * Spark plan and the DuckDB oracle, so the two cannot drift apart.
  */
object Samples {

  /** The five order priorities in their natural order — the k groups
    * of the k-sample and block-design rows, always laid out as
    * fixed-order columns 0..4 so every cross-group sum is one fixed
    * left-to-right formula. */
  val Priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** The five customer market segments (TESTDATA.md dictionary). */
  val Segments = Seq(
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** floor((e)*1e6 + 0.5)/1e6, not round(e, 6): Spark rounds the exact
    * binary expansion of the double while DuckDB rounds e·10⁶ in
    * floating point, so a value near a .5 boundary lands on different
    * sides; the floor form is computed identically on identical
    * doubles by both engines. */
  def r6(e: String): String = s"floor(($e)*1e6 + 0.5)/1e6"

  // ---- the two-sample slice -------------------------------------------
  // AUTOMOBILE vs HOUSEHOLD customer account balances: every
  // two-sample row tests this one slice, as (x, i1) rows with i1 = 1
  // for AUTOMOBILE.

  private[graft] def pooled(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
      .select(col("c_acctbal").as("x"),
        (col("c_mktsegment") === "AUTOMOBILE").cast("int").as("i1"))

  /** The oracle twin of [[pooled]], as one CTE. */
  val pooledSql: String =
    """pooled AS (
      |  SELECT c_acctbal AS x,
      |    CAST(c_mktsegment = 'AUTOMOBILE' AS INT) AS i1
      |  FROM customer
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD'))""".stripMargin

  /** The generic two-sample input: (value AS `name`, i1) rows, i1 = 1
    * where `isGroup1` holds. */
  def twoSample(df: DataFrame, value: Column, isGroup1: Column,
      name: String = "x"): DataFrame =
    df.select(value.as(name), isGroup1.cast("int").as("i1"))

  /** The two-sample value grid: per distinct `key` value, the group-1
    * count a and the group-2 count b. */
  def abGrid(xy: DataFrame, key: String = "x"): DataFrame =
    xy.groupBy(key)
      .agg(sum(col("i1")).cast("bigint").as("a"),
        sum(lit(1) - col("i1")).cast("bigint").as("b"))

  /** The group sizes (n1, n2) of an [[abGrid]]. */
  def groupSizes(v: DataFrame): DataFrame =
    v.agg(sum(col("a")).cast("bigint").as("n1"),
      sum(col("b")).cast("bigint").as("n2"))

  // ---- per-priority cents ---------------------------------------------

  /** (g, c): each order's priority and its total in exact cents. */
  def priorityCents(orders: DataFrame): DataFrame =
    orders.select(col("o_orderpriority").as("g"),
      cents(col("o_totalprice")).as("c"))

  /** The oracle twin of [[priorityCents]], as the CTE `o`. */
  val priorityCentsSql: String =
    """o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(15,2))*100 AS BIGINT) AS c
      |  FROM orders)""".stripMargin

  /** Per group i of `groups` over (g, c) rows: the count n_i, Σc s_i
    * and Σc² q_i, the sums exact in DECIMAL (Σc² passes 2^63 at target
    * scale) and surfaced as doubles. */
  def centMoments(groups: Seq[String]): Seq[Column] =
    groups.zipWithIndex.flatMap { case (p, i) => Seq(
      sum(when(col("g") === p, 1L).otherwise(0L)).as(s"n$i"),
      sum(when(col("g") === p, expr("CAST(c AS DECIMAL(19,0))"))
        .otherwise(expr("CAST(0 AS DECIMAL(19,0))")))
        .cast("double").as(s"s$i"),
      sum(when(col("g") === p,
          expr("CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))"))
        .otherwise(expr("CAST(0 AS DECIMAL(38,0))")))
        .cast("double").as(s"q$i")) }

  /** The oracle twin of [[centMoments]]: the sums route through
    * VARCHAR, because DuckDB's direct decimal→double cast
    * double-rounds once the scaled integer exceeds 2^53 (§1.5 r7). */
  def centMomentsSql(groups: Seq[String]): String =
    groups.zipWithIndex.flatMap { case (p, i) => Seq(
      s"CAST(sum(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n$i",
      s"""CAST(CAST(sum(CASE WHEN g = '$p' THEN CAST(c AS DECIMAL(19,0))
         |  ELSE CAST(0 AS DECIMAL(19,0)) END) AS VARCHAR) AS DOUBLE)
         |  AS s$i""".stripMargin,
      s"""CAST(CAST(sum(CASE WHEN g = '$p' THEN
         |  CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
         |  ELSE CAST(0 AS DECIMAL(38,0)) END) AS VARCHAR) AS DOUBLE)
         |  AS q$i""".stripMargin)
    }.mkString(",\n    ")

  /** Sample variance of group i from [[centMoments]]:
    * s² = (n·Σc² − (Σc)²)/(n(n−1)). */
  def varF(i: Int): String =
    s"""((CAST(n$i AS DOUBLE)*q$i - s$i*s$i)
       | / nullif(CAST(n$i AS DOUBLE)*(n$i - 1), 0))""".stripMargin

  // ---- exact power-sum aggregates -------------------------------------

  /** One power-sum aggregate, rendered per engine: the Spark side
    * casts the exact decimal sum straight to double; the ORACLE side
    * routes the same sum through VARCHAR (SURVEY §1.5 r7 — DuckDB's
    * direct decimal→double cast double-rounds once the scaled integer
    * exceeds 2^53). Built structurally from the inner expression —
    * no post-hoc string rewriting of assembled SQL. */
  private[graft] final case class StatAgg(alias: String, spark: String, oracle: String)
  private[graft] def sumAgg(inner: String, alias: String) = StatAgg(alias,
    s"CAST(sum($inner) AS DOUBLE)",
    s"CAST(CAST(sum($inner) AS VARCHAR) AS DOUBLE)")
  private[graft] def countAgg(alias: String) = {
    val e = "CAST(count(*) AS DOUBLE)"
    StatAgg(alias, e, e)
  }

  /** `aggs` in Spark spelling, as aggregate columns. */
  def aggColumns(aggs: Seq[StatAgg]): Seq[Column] =
    aggs.map(a => expr(a.spark).as(a.alias))

  /** `aggs` in oracle spelling, one `expr AS alias` per line. */
  def aggregateSql(aggs: Seq[StatAgg]): String =
    aggs.map(a => s"${a.oracle} AS ${a.alias}").mkString(",\n    ")

  // ---- one-way ANOVA ---------------------------------------------------

  /** One-way ANOVA across the priorities, in ONE conditional
    * aggregation: per priority i the count n_i, Σx a_i and Σx² b_i land
    * in fixed-order columns (`sumX` renders Σx, `x2` is the square);
    * `n`, `ssb`, `ssw` and the floor-6 `f` are fixed left-to-right
    * texts over those columns. nullif: a zero within-group SS (all
    * groups internally constant) yields NULL F instead of
    * engine-specific Inf handling. */
  final case class OneWayF(aggs: Seq[StatAgg], n: String, ssb: String,
      ssw: String, f: String)

  def oneWayF(x: String, x2: String,
      sumX: (String, String) => StatAgg = sumAgg): OneWayF = {
    def inGroup(p: String, e: String) =
      s"CASE WHEN o_orderpriority = '$p' THEN $e END"
    val aggs = Priorities.zipWithIndex.flatMap { case (p, i) =>
      val cnt =
        s"CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS DOUBLE)"
      Seq(StatAgg(s"n$i", cnt, cnt),
        sumX(inGroup(p, x), s"a$i"),
        sumAgg(inGroup(p, x2), s"b$i"))
    }
    val k = Priorities.indices
    val n = k.map(i => s"n$i").mkString(" + ")
    val s1 = k.map(i => s"a$i").mkString(" + ")
    val ssw = k.map(i => s"(b$i - (a$i/n$i)*a$i)").mkString(" + ")
    val ssb = s"(${k.map(i => s"(a$i/n$i)*a$i").mkString(" + ")})" +
      s" - (($s1)/($n))*($s1)"
    val f = r6(s"(($ssb)/${k.size - 1}) / nullif(($ssw)/(($n) - ${k.size}), 0)")
    OneWayF(aggs, n, ssb, ssw, f)
  }
}
