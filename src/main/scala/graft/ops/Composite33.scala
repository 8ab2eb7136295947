package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.49 (round-22 batch) — gaps VERDICT r11 ranked as what
  * a real user hits next:
  *
  *  - [[referentialIntegrity]]: orphan-FK audit across every edge of
  *    the star schema — the FIRST data-quality check a warehouse
  *    pipeline runs, and the one the existing single-table `dq_*`
  *    rows cannot answer ("which lineitem rows orphan their order?").
  *
  *  - [[shortestPathWeighted]]: weighted graph distances —
  *    `graph_shortest_path` counts hops; with co-purchase
  *    multiplicity as the edge weight the same K-round Bellman-Ford
  *    loop answers "how far in accumulated edge cost" (min(d + w)
  *    instead of min(d + 1)).
  *
  * Scale shapes: each RI edge is ONE fk-keyed shuffle join (parent
  * side deduped by an aggregate on the small side; AQE broadcasts the
  * dim parents) feeding a map-side-combining conditional count — the
  * 7 edges are independent union branches, embarrassingly parallel;
  * weighted shortest-path inherits the connected_components loop
  * discipline (node-sized distance table broadcast into the edge
  * scan, ONE node-keyed min exchange per round).
  *
  * Determinism: RI and distance outputs are exact integers.
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

  // ---- graph_shortest_path_weighted ------------------------------------
  // K=3 Bellman-Ford rounds with min(d + w) over the multiplicity-
  // weighted co-purchase graph: w(src, dst) = number of orders whose
  // baskets contain both parts. graph_shortest_path's loop discipline
  // unchanged — node-sized distance table size-gated-broadcast into
  // the edge scan, one node-keyed min exchange per round, persist-per-round +
  // final eager localCheckpoint (each round's broadcast collect
  // materializes the previous cache; the rounds buffer keeps K
  // tables alive until then — K-proportional memory, fine at K = 3).
  // Same engine-agnostic NULL-min: least(coalesce(d, nd),
  // coalesce(nd, d)).

  /** Symmetric weighted co-purchase edges (src, dst, w): the
    * coPurchaseHalfEdges pair generation WITHOUT its distinct — the
    * per-(order, pair) rows count straight into the multiplicity via
    * one map-side-combining aggregate, then the half edges mirror. */
  private[graft] def coPurchaseWeightedEdges(s: SparkSession, dir: String): DataFrame = {
    val half = coPurchaseWeightedHalf(s, dir)
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst"),
      col("w")))
  }

  /** Weighted half edges as the BASE DiskMemo view of the co-purchase
    * layer (r18): the groupBy(src, dst).count keys are exactly the
    * distinct unordered pairs, so [[Composite4.coPurchaseHalfEdges]]
    * is a 2-column projection of THIS view — one co-purchase
    * aggregation feeds both the weighted and unweighted graph (the
    * warehouse layered-view shape). Build timed as
    * `memo_copurchase_weighted`; the unweighted projection's write is
    * what `memo_copurchase_half` times on top of it. */
  private[graft] def coPurchaseWeightedHalf(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "copurchase_weighted")(
      Composite4.sharedOrderPsets(s, dir)
        .select(col("ps"), posexplode(col("ps")))
        .toDF("ps", "i", "src")
        .select(col("src"),
          explode(slice(col("ps"), col("i") + lit(2), size(col("ps"))))
            .as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w")))

  /** K weighted Bellman-Ford rounds over a (src, dst, w) edge list;
    * `seed` marks distance-0 nodes. Returns the distance histogram
    * (unreached = -1). The node universe is src ∪ dst, so asymmetric
    * (directed) edge lists keep their sink-only nodes in the
    * histogram; relaxation itself follows edge direction. Factored
    * for the planted spec and the scalacheck law against brute
    * k-round relaxation. */
  private[graft] def shortestPathWeightedOn(edges: DataFrame,
      seed: Column => Column, k: Int): DataFrame = {
    // r19: sentinel-distance + zero-weight self-loop fusion (see
    // Composite31.shortestPathOn — identical algebra, non-negative
    // weights required and given: co-purchase multiplicities ≥ 1).
    // One join + one map-side-combining min per round; the per-round
    // unreached re-attach left-join is gone. The node universe is
    // src ∪ dst, so directed lists keep their sink-only nodes.
    val e = edges.select(col("src"), col("dst"), col("w"))
      .unionAll(edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct()
        .select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("w")))
      .localCheckpoint()
    // Node universe from the checkpointed table (every node appears
    // as src once self-loops are in) — NOT from filter(w = 0), which
    // would double-count nodes if a caller ever passed genuine
    // zero-weight edges.
    var dist = e.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(seed(col("node")), lit(0L))
          .otherwise(lit(Composite31.Unreached)).as("d"))
      .persist()
    // Hints size-gated once on the round-invariant node count; over
    // the cap the joins run un-hinted (node-keyed shuffles) instead
    // of hard-failing at the broadcast limit (graft.util.Hints).
    val hint = graft.util.Hints.maybeBroadcast(dist.count())
    val rounds = scala.collection.mutable.ListBuffer(dist)
    for (_ <- 1 to k) {
      dist = e
        .join(hint(dist.select(col("node").as("dst"), col("d").as("pd"))),
          "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("pd") + col("w")).as("d"))
        .persist()
      rounds += dist
    }
    val finalDist = dist.localCheckpoint()
    rounds.foreach(_.unpersist(false))
    finalDist.groupBy(
        when(col("d") >= Composite31.Unreached, lit(-1L))
          .otherwise(col("d")).as("distance"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("distance")
  }

  private def shortestPathWeighted(s: SparkSession, dir: String): DataFrame =
    shortestPathWeightedOn(coPurchaseWeightedEdges(s, dir),
      n => n % 100 === 0, k = 3)

  private def shortestPathWeightedOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""d$i AS (
         |  SELECT p.node,
         |    least(coalesce(p.d, m.nd), coalesce(m.nd, p.d)) AS d
         |  FROM d${i - 1} p LEFT JOIN (
         |    SELECT e.src AS node, min(q.d + e.w) AS nd
         |    FROM e JOIN d${i - 1} q ON e.dst = q.node
         |    WHERE q.d IS NOT NULL
         |    GROUP BY e.src) m ON p.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT DISTINCT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
       |    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey <> b.l_partkey)
       |  GROUP BY src, dst),
       |d0 AS MATERIALIZED (
       |  SELECT src AS node,
       |    CASE WHEN src % 100 = 0 THEN CAST(0 AS BIGINT) END AS d
       |  FROM (SELECT DISTINCT src FROM e)),
       |$rounds
       |SELECT coalesce(d, CAST(-1 AS BIGINT)) AS distance,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM d3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_referential_integrity" -> (referentialIntegrity _),
    "graph_shortest_path_weighted" -> (shortestPathWeighted _)
  )

  val oracle: Map[String, String] = Map(
    "dq_referential_integrity" -> referentialIntegrityOracle,
    "graph_shortest_path_weighted" -> shortestPathWeightedOracle
  )
}
