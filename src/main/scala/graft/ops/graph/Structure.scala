package graft.ops.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TriCore
import CoPurchase.{coPurchaseEdges, coPurchaseHalfEdges}

/** Degree and triangle structure of the co-purchase graph (SURVEY.md
  * §2.18, §2.24, §2.31, §2.32, §2.33, §2.37, §2.52, §2.55):
  *
  *  - degrees: [[degreeDist]] (the degree histogram),
  *    [[assortativity]] (Pearson r of endpoint degrees),
  *    [[avgNeighborDegree]] (the k_nn(k) curve), [[richClub]] (φ(k)
  *    for k = 1..8) and [[kcore]] (the synchronized 3-core peel
  *    trace);
  *  - triangles: [[triangleCount]] (count + global clustering),
  *    [[localClustering]] (local cc by degree decile) and
  *    [[commonNeighbors]] (top edges by neighborhood Jaccard).
  *
  * Scale shapes: the degree rows read the shared [[TriCore]] degree
  * view and reduce to node- or degree-sized aggregates before any
  * join; the triangle rows intersect the degree-ordered sorted
  * adjacency lists of the shared TriCore views (lists ≤ √(2E) long,
  * so the wedge self-join never materializes). Determinism: every
  * count and degree is an exact integer; ratios assemble once in
  * double from identical formula text.
  */
object Structure {

  // ---- graph_degree_dist -------------------------------------------
  // Degree distribution of the part co-purchase graph (the first
  // thing a graph analyst plots): per-node degree → nodes-per-degree.
  // Reuses the graph_pagerank edge definition; two chained hash
  // aggregates after the orderkey-co-partitioned self-join.
  private def degreeDist(s: SparkSession, dir: String): DataFrame =
    // r18: per-node degree over the symmetric edge list IS the shared
    // TriCore degree view (undirected degree from the half edges) —
    // one bounded-alphabet histogram aggregate over the parquet view.
    TriCore.sharedDeg(s, dir)
      .select(col("deg").as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  private val degreeDistOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY src)
      |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM deg GROUP BY degree
      |ORDER BY degree""".stripMargin

  // ---- graph_assortativity -----------------------------------------
  // Degree assortativity of the co-purchase graph: Pearson
  // correlation of endpoint degrees over the DIRECTED edge list
  // (Newman 2002's r, computed over both orientations — symmetric,
  // so excess-degree means match either convention). All sums are
  // exact integers; r assembles once. At this corpus' density the
  // degree table broadcasts; the code path works identically as two
  // shuffle joins when it cannot.
  private def assortativity(s: SparkSession, dir: String): DataFrame = {
    // r18: edges + degrees read from the shared DiskMemo parquet
    // views (built once per JVM) instead of per-invocation rebuild +
    // two checkpoints; parquet statistics drive broadcast-vs-shuffle.
    val edges = coPurchaseEdges(s, dir)
    val deg = TriCore.sharedDeg(s, dir).withColumnRenamed("n", "src")
      .withColumnRenamed("deg", "d")
    val paired = edges
      .join(deg.select(col("src"), col("d").as("da")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("db")), "dst")
    val rF =
      """round((sab / m - (sa / m) * (sb / m)) /
        |  (sqrt(sa2 / m - (sa / m) * (sa / m)) *
        |   sqrt(sb2 / m - (sb / m) * (sb / m))), 6)""".stripMargin
    paired.agg(count(lit(1)).cast("double").as("m"),
      sum(col("da")).cast("double").as("sa"),
      sum(col("db")).cast("double").as("sb"),
      sum(col("da") * col("db")).cast("double").as("sab"),
      sum(col("da") * col("da")).cast("double").as("sa2"),
      sum(col("db") * col("db")).cast("double").as("sb2"))
      .select(col("m").cast("bigint").as("n_dir_edges"),
        expr(rF).as("assortativity"))
  }

  private val assortativityOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
      |        FROM edges GROUP BY src),
      |p AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS m,
      |    CAST(sum(a.d) AS DOUBLE) AS sa, CAST(sum(b.d) AS DOUBLE) AS sb,
      |    CAST(sum(a.d * b.d) AS DOUBLE) AS sab,
      |    CAST(sum(a.d * a.d) AS DOUBLE) AS sa2,
      |    CAST(sum(b.d * b.d) AS DOUBLE) AS sb2
      |  FROM edges e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src)
      |SELECT CAST(m AS BIGINT) AS n_dir_edges,
      |  round((sab / m - (sa / m) * (sb / m)) /
      |    (sqrt(sa2 / m - (sa / m) * (sa / m)) *
      |     sqrt(sb2 / m - (sb / m) * (sb / m))), 6) AS assortativity
      |FROM p""".stripMargin

  // ---- graph_avg_neighbor_degree ---------------------------------------
  // k_nn(k) = Σ_{sym edges u→v, deg(u)=k} deg(v) / (k·N_k); the
  // denominator is surfaced as the endpoint count (= k·N_k by
  // construction) so the ratio is one division of exact integers.
  private[graft] def avgNeighborDegreeOn(half: DataFrame): DataFrame =
    avgNeighborDegreeCore(half, TriCore.degOn(half).localCheckpoint())

  private[graft] def avgNeighborDegreeCore(half: DataFrame,
      deg: DataFrame): DataFrame = {
    val sym = half.unionAll(
      half.select(col("dst").as("src"), col("src").as("dst")))
    val nodeH = deg.groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_nodes"))
    sym
      .join(deg.select(col("n").as("src"), col("deg").as("k")), "src")
      .join(deg.select(col("n").as("dst"), col("deg").as("nbr_deg")), "dst")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_endpoints"),
        sum(col("nbr_deg")).as("sum_nbr_deg"))
      .join(nodeH, "k")
      .selectExpr("k", "n_nodes", "n_endpoints", "sum_nbr_deg",
        """floor((CAST(sum_nbr_deg AS DOUBLE)/n_endpoints)*1e6 + 0.5)/1e6
          | AS knn""".stripMargin)
      .orderBy("k")
  }

  private def avgNeighborDegree(s: SparkSession, dir: String): DataFrame =
    // r18: half edges + degrees from the shared DiskMemo parquet views
    avgNeighborDegreeCore(coPurchaseHalfEdges(s, dir),
      TriCore.sharedDeg(s, dir))

  private val avgNeighborDegreeOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |h AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (
      |  SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
      |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
      |        FROM e GROUP BY 1),
      |nh AS (SELECT deg AS k, CAST(count(*) AS BIGINT) AS n_nodes
      |       FROM deg GROUP BY 1),
      |agg AS (
      |  SELECT ds.deg AS k, CAST(count(*) AS BIGINT) AS n_endpoints,
      |    CAST(sum(dd.deg) AS BIGINT) AS sum_nbr_deg
      |  FROM e JOIN deg ds ON e.src = ds.n JOIN deg dd ON e.dst = dd.n
      |  GROUP BY 1)
      |SELECT k, n_nodes, n_endpoints, sum_nbr_deg,
      |  floor((CAST(sum_nbr_deg AS DOUBLE)/n_endpoints)*1e6 + 0.5)/1e6
      |   AS knn
      |FROM agg JOIN nh USING (k) ORDER BY k""".stripMargin

  // ---- graph_rich_club -------------------------------------------------
  // The edge list collapses to two small histograms — node count per
  // degree and edge count per min-endpoint-degree — before the 8-row
  // k table sees anything; E_k / N_k are conditional sums over those
  // histograms (non-equi left joins on 8 × |distinct degrees| rows),
  // so the curve costs two keyed aggregates regardless of scale.
  private val MaxK = 8

  private[graft] def richClubOn(half: DataFrame): DataFrame =
    richClubCore(half, TriCore.degOn(half).localCheckpoint())

  private[graft] def richClubCore(half: DataFrame, deg: DataFrame): DataFrame = {
    val nodeH = deg.groupBy(col("deg")).agg(count(lit(1)).as("ncnt"))
    val edgeH = half
      .join(deg.select(col("n").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("n").as("dst"), col("deg").as("ddst")), "dst")
      .select(least(col("dsrc"), col("ddst")).as("mindeg"))
      .groupBy(col("mindeg")).agg(count(lit(1)).as("ecnt"))
    val ks = half.agg(count(lit(1)).as("ign"))
      .select(explode(array((1 to MaxK).map(i => lit(i.toLong)): _*)).as("k"))
    val nk = ks.join(broadcast(nodeH), col("deg") > col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("ncnt")), lit(0L)).as("n_nodes"))
    val ek = ks.join(broadcast(edgeH), col("mindeg") > col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("ecnt")), lit(0L)).as("n_edges"))
    nk.join(ek, "k")
      .selectExpr("k", "n_nodes", "n_edges",
        """floor((2.0 * n_edges
          | / nullif(CAST(n_nodes AS DOUBLE) * (n_nodes - 1), 0))*1e6
          | + 0.5)/1e6 AS phi""".stripMargin)
      .orderBy("k")
  }

  private def richClub(s: SparkSession, dir: String): DataFrame =
    // r18: half edges + degrees from the shared DiskMemo parquet views
    richClubCore(coPurchaseHalfEdges(s, dir),
      TriCore.sharedDeg(s, dir))

  private val richClubOracle = {
    val ks = (1 to MaxK).map(i => s"($i)").mkString(",")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |h AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
       |  (SELECT src AS n FROM h UNION ALL SELECT dst FROM h)
       |  GROUP BY 1),
       |nh AS (SELECT deg, CAST(count(*) AS BIGINT) AS ncnt
       |       FROM deg GROUP BY 1),
       |eh AS (SELECT least(ds.deg, dd.deg) AS mindeg,
       |         CAST(count(*) AS BIGINT) AS ecnt
       |       FROM h JOIN deg ds ON h.src = ds.n
       |              JOIN deg dd ON h.dst = dd.n
       |       GROUP BY 1),
       |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES $ks) t(k)),
       |nk AS (SELECT k, CAST(coalesce(sum(ncnt), 0) AS BIGINT) AS n_nodes
       |       FROM ks LEFT JOIN nh ON deg > k GROUP BY 1),
       |ek AS (SELECT k, CAST(coalesce(sum(ecnt), 0) AS BIGINT) AS n_edges
       |       FROM ks LEFT JOIN eh ON mindeg > k GROUP BY 1)
       |SELECT k, n_nodes, n_edges,
       |  floor((2.0 * n_edges
       |   / nullif(CAST(n_nodes AS DOUBLE) * (n_nodes - 1), 0))*1e6
       |   + 0.5)/1e6 AS phi
       |FROM nk JOIN ek USING (k) ORDER BY k""".stripMargin
  }

  // ---- graph_kcore -------------------------------------------------
  // Synchronized 3-core peeling on the co-purchase graph: each round
  // keeps nodes whose degree among SURVIVORS is ≥ 3, and surfaces
  // (iter, n_nodes, n_dir_edges) for rounds 1..5 — the convergence
  // trace (node count stabilizing ⇒ the 3-core). The edge list is
  // localCheckpoint'd once (pagerank discipline: 5 reuses must not
  // re-run the groupBy + pair explosion + DISTINCT); each peel is
  // two semi-joins keyed on the edge endpoints plus one degree
  // aggregate — all shuffle-partitioned by node id at any scale.
  private def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreOn(coPurchaseEdges(s, dir), k = 3, rounds = 5)

  /** Generic synchronized k-core peeling trace over a
    * directed-symmetric edge list (src, dst) — the
    * [[graft.Graft.kcore]] facade surface. Emits one
    * (iter, n_nodes, n_dir_edges) row per round. */
  private[graft] def kcoreOn(edgePlan: DataFrame, k: Int, rounds: Int)
      : DataFrame = {
    require(k >= 1 && rounds >= 1, s"kcoreOn: bad k=$k rounds=$rounds")
    // checkpoint the edge list LAZILY: the initial degree table needs
    // only one pass over the edge build, and when the peel converges
    // immediately (this corpus' co-purchase graph is dense — verified
    // at two SFs) no later pass ever happens, so an up-front
    // materialization would be pure waste. The first real peel pays
    // one extra build pass to checkpoint, then iterates from memory.
    var edgesCk: DataFrame = null
    def edges: DataFrame = {
      if (edgesCk == null) edgesCk = edgePlan.localCheckpoint()
      edgesCk
    }
    // deg_i is node-sized (tiny); checkpointing it each round truncates
    // the lineage so round i executes ONCE — a naive union of 5 lazy
    // chains re-runs rounds 1..i for every trace row (1+2+…+5 = 15
    // edge passes). Survivor sets broadcast into the edge filter, so
    // the only per-round shuffle is the degree groupBy.
    var deg = edgePlan.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // convergence short-circuit: when no node falls below k, the edge
    // set is a fixed point and the remaining trace rows repeat — skip
    // their edge passes entirely. The per-round counts read the
    // CHECKPOINTED node-sized degree table (distributed count on
    // materialized data — not a plan re-execution, unlike the
    // standalone count() VERDICT r4 flagged in pagerank).
    var nCur = deg.count()
    var converged = false
    val traces = (1 to rounds).map { i =>
      if (!converged) {
        val surv = deg.filter(col("d") >= k).select(col("src").as("n"))
        val nSurv = surv.count()
        if (nSurv == nCur) converged = true
        else {
          // filtering the ORIGINAL checkpointed list is equivalent to
          // filtering e_{i-1}: survivor sets shrink monotonically
          // nSurv was just counted above — gate this round's hints on
          // it (graft.util.Hints): past the cap the survivor filter
          // runs as node-keyed shuffle semi-joins instead of
          // hard-failing at the broadcast limit.
          val survHint = graft.util.Hints.maybeBroadcast(nSurv)
          val e = edges
            .join(survHint(surv.withColumnRenamed("n", "src")), "src")
            .join(survHint(surv.withColumnRenamed("n", "dst")), "dst")
          deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
            .localCheckpoint()
          nCur = deg.count()
        }
      }
      // n_nodes = rows of deg_i (distinct src), n_dir_edges = Σd —
      // both read the checkpointed node-sized table, no edge re-pass
      deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("d")).cast("bigint").as("n_dir_edges"))
        .select(lit(i).as("iter"), col("n_nodes"), col("n_dir_edges"))
    }
    traces.reduce(_ union _).orderBy("iter")
  }

  // AS MATERIALIZED on every round CTE: each e_i is referenced three
  // times (next peel, next edge filter, final union row) — unpinned,
  // DuckDB inlines each reference and the 5-round tree re-expands
  // ~3^5-fold, which exhausted temp disk at sf0.1 (the
  // graph_connected_components_conv lesson, r8).
  private def kcoreOracle: String = {
    val peels = (1 to 5).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT src AS n FROM e${i - 1} GROUP BY src
         |  HAVING count(*) >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.n JOIN k$i b ON e.dst = b.n)"""
        .stripMargin
    }.mkString(",\n")
    val rows = (1 to 5).map { i =>
      s"""SELECT $i AS iter,
         |  CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
         |  CAST(count(*) AS BIGINT) AS n_dir_edges FROM e$i"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |$peels
       |SELECT * FROM ($rows) ORDER BY iter""".stripMargin
  }

  // NOTE the oracle's k1 peels from e0 degrees — identical to the
  // Spark side's first filter, which also computes degrees over the
  // full edge list. Subsequent peels align round for round.

  // ---- graph_triangle_count ----------------------------------------
  // Triangle count + global clustering coefficient on the undirected
  // co-purchase graph via degree-ordered orientation ("compact
  // forward"): each edge points at its higher-degree endpoint, so
  // out-adjacency lists are ≤ √(2E) long and the per-edge
  // neighborhood intersection is bounded — the 148M-wedge naive
  // self-join never materializes. The oriented adjacency table is
  // |nodes|-row but edge-cell-sized, so its broadcast hint is gated
  // on the EDGE count (graft.util.Hints); above the cap the same
  // plan runs un-hinted as two shuffle joins keyed on the edge
  // endpoints rather than hard-failing at the broadcast limit.
  /** Generic triangle/clustering core over an undirected edge list
    * (one row per unordered pair) — the
    * [[graft.Graft.triangleCount]] facade surface. */
  private[graft] def triangleCountOn(edges: DataFrame): DataFrame = {
    // The TriCore seams over this edge list: e/deg/o/adj each feed 2+
    // consumers — localCheckpoint() every node/edge-sized
    // intermediate once so the upstream edge build is not
    // re-executed per consumer.
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = TriCore.degOn(e).localCheckpoint()
    // ONE cached-block count gates all hints: |o| == |e| row-for-row,
    // adjacency cells total |o|, |nodes| ≤ 2|e|.
    val eCnt = e.count()
    val degHint = graft.util.Hints.maybeBroadcast(2L * eCnt)
    val o = TriCore.orientedOn(e, degHint(deg)).localCheckpoint()
    val adj = TriCore.adjOn(o).localCheckpoint()
    val adjHint = graft.util.Hints.maybeBroadcast(eCnt)
    triangleFromCore(deg, o, adj, adjHint)
  }

  /** Final triangle aggregation over a prebuilt core (deg, oriented
    * edges, sorted oriented adjacency) — shared by the planted seam
    * above and the corpus-facing path below (which reads the TriCore
    * DiskMemo parquet views; their file statistics let the planner
    * pick broadcast vs shuffle, so no manual hint is threaded). */
  private[graft] def triangleFromCore(deg: DataFrame, o: DataFrame,
      adj: DataFrame,
      adjHint: DataFrame => DataFrame = identity): DataFrame = {
    val tri = o
      .join(adjHint(adj.select(col("u"), col("nbrs").as("nu"))), Seq("u"))
      .join(adjHint(adj.select(col("u").as("v"), col("nbrs").as("nv"))),
        Seq("v"), "left")
      .select(size(graft.functions.SortedIntersect(col("nu"),
        coalesce(col("nv"), expr("CAST(array() AS ARRAY<BIGINT>)"))))
        .cast("bigint").as("c"))
      .agg(sum(col("c")).cast("bigint").as("n_triangles"))
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("bigint").as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("bigint").as("wedges"))
    wedges.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles").cast("double") /
          col("wedges").cast("double"), 6).as("clustering_coeff"))
  }

  private def triangleCount(s: SparkSession, dir: String): DataFrame =
    triangleFromCore(TriCore.sharedDeg(s, dir),
      TriCore.sharedOriented(s, dir), TriCore.sharedAdj(s, dir))

  private val triangleOracle =
    """WITH ps AS (
      |  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps
      |  FROM lineitem GROUP BY l_orderkey),
      |e AS (
      |  SELECT DISTINCT a AS src, b AS dst
      |  FROM (SELECT unnest(ps) AS a, ps FROM ps), unnest(ps) AS t(b)
      |  WHERE a < b),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e) g
      |  GROUP BY n),
      |o AS (
      |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)
      |           THEN e.src ELSE e.dst END AS u,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)
      |           THEN e.dst ELSE e.src END AS v
      |  FROM e JOIN deg da ON da.n = e.src JOIN deg db ON db.n = e.dst),
      |adj AS (
      |  SELECT u, list_sort(list(v)) AS nbrs FROM o GROUP BY u),
      |tri AS (
      |  SELECT CAST(sum(len(list_intersect(au.nbrs, coalesce(av.nbrs, [])))) AS BIGINT)
      |    AS n_triangles
      |  FROM o
      |  JOIN adj au ON au.u = o.u
      |  LEFT JOIN adj av ON av.u = o.v),
      |w AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
      |    CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS wedges
      |  FROM deg)
      |SELECT n_nodes, n_edges, n_triangles,
      |  round(3.0 * CAST(n_triangles AS DOUBLE) / CAST(wedges AS DOUBLE), 6)
      |    AS clustering_coeff
      |FROM w CROSS JOIN tri""".stripMargin

  // ---- graph_local_clustering --------------------------------------
  // Watts–Strogatz LOCAL clustering by degree decile: per-node
  // triangle counts from the oriented intersection (each triangle
  // (u, v, w) credits its three corners once), local cc_i =
  // 2·tri_i / (deg_i·(deg_i−1)), then a decile profile over
  // (deg, node)-ordered nodes. The 3T corner explosion is the only
  // addition over graph_triangle_count's plan.
  private def localClustering(s: SparkSession, dir: String): DataFrame = {
    // r18: the degree/oriented/adjacency core is read from the shared
    // TriCore DiskMemo parquet views (built once per JVM, timed as
    // memo_tri_adjacency) instead of being rebuilt + checkpointed per
    // invocation (the pre-r18 shape measured ~4 s at sf0.1 with the
    // checkpoints, ~9.4 s without). Parquet statistics let the planner
    // broadcast the node-sized sides when they fit — no manual gates.
    val deg = TriCore.sharedDeg(s, dir)
    val o = TriCore.sharedOriented(s, dir)
    val adj = TriCore.sharedAdj(s, dir)
    val corners = o
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")),
        Seq("v"), "left")
      .select(col("u"), col("v"), graft.functions.SortedIntersect(col("nu"),
        coalesce(col("nv"), expr("CAST(array() AS ARRAY<BIGINT>)"))).as("ws"))
      .select(explode(concat(array(col("u"), col("v")), col("ws"))).as("n"))
    val tri = corners.groupBy(col("n")).agg(count(lit(1)).as("t3"))
    // every corner row came from one oriented triangle edge: u and v
    // appear once per triangle THROUGH that edge, w once per closing
    // intersection — each triangle credits each of its 3 corners
    // exactly once, so t3 IS the per-node triangle count
    val withCc = deg.join(tri, "n")
      .select(col("n"), col("deg"), col("t3"))
    // r18 retrofit: the decile profile rode a bare node-sized ntile
    // window (one task holds every node at target scale); DistRank
    // .globalNtile is SQL-ntile-exact over the same (deg, n) total
    // order, so the oracle hash cannot move. INT cast preserves the
    // green schema (the oracle pins decile as INT).
    graft.util.DistRank
      .globalNtile(withCc, "decile10", 10, Seq(col("deg"), col("n")))
      .withColumn("decile", col("decile10").cast("int")).drop("decile10")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_nodes"),
        round(avg(col("deg").cast("double")), 6).as("mean_deg"),
        round(avg(col("t3").cast("double") * 2.0 /
          (col("deg") * (col("deg") - 1)).cast("double")), 6)
          .as("mean_local_cc"))
      .orderBy("decile")
  }

  private val localClusteringOracle =
    """WITH ps AS (
      |  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps
      |  FROM lineitem GROUP BY l_orderkey),
      |e AS (
      |  SELECT DISTINCT a AS src, b AS dst
      |  FROM (SELECT unnest(ps) AS a, ps FROM ps), unnest(ps) AS t(b)
      |  WHERE a < b),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e) g
      |  GROUP BY n),
      |o AS (
      |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)
      |           THEN e.src ELSE e.dst END AS u,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)
      |           THEN e.dst ELSE e.src END AS v
      |  FROM e JOIN deg da ON da.n = e.src JOIN deg db ON db.n = e.dst),
      |adj AS (
      |  SELECT u, list_sort(list(v)) AS nbrs FROM o GROUP BY u),
      |corners AS (
      |  SELECT unnest(list_concat([o.u, o.v],
      |    list_intersect(au.nbrs, coalesce(av.nbrs, [])))) AS n
      |  FROM o
      |  JOIN adj au ON au.u = o.u
      |  LEFT JOIN adj av ON av.u = o.v),
      |tri AS (SELECT n, CAST(count(*) AS BIGINT) AS t3
      |        FROM corners GROUP BY n),
      |cc AS (
      |  SELECT deg.n, deg.deg, tri.t3,
      |    CAST(ntile(10) OVER (ORDER BY deg.deg, deg.n) AS INT) AS decile
      |  FROM deg JOIN tri ON deg.n = tri.n)
      |SELECT decile, CAST(count(*) AS BIGINT) AS n_nodes,
      |  round(avg(CAST(deg AS DOUBLE)), 6) AS mean_deg,
      |  round(avg(CAST(t3 AS DOUBLE) * 2.0 /
      |    CAST(deg * (deg - 1) AS DOUBLE)), 6) AS mean_local_cc
      |FROM cc GROUP BY decile ORDER BY decile""".stripMargin

  // ---- graph_common_neighbors --------------------------------------
  // Link-strength Jaccard: for each existing edge (a,b), a<b, the
  // Jaccard of the endpoints' neighborhoods |N(a)∩N(b)| /
  // (|N(a)|+|N(b)|−|N(a)∩N(b)|); top-10 by (jaccard, a, b). Uses the
  // triangle core's adjacency-list discipline — sorted neighbor
  // lists built with ONE node-keyed aggregate, then each unordered
  // edge intersects its endpoints' lists map-side — NOT the naive
  // wedge self-join, whose Σdeg² blow-up measured ~10× slower at
  // sf0.1. Adjacency rides a SIZE-GATED broadcast here (gated on the
  // edge count — list rows are edge-wide, not node-wide); past the
  // cap the same two joins run un-hinted and shuffle on the node
  // key. Every node/edge-sized
  // intermediate (e, deg, o, adj) is localCheckpoint()'d because
  // each has 2-4 consumers downstream — without the checkpoints the
  // whole subtree re-executes per consumer (measured 17 s; with
  // them ~4 s at sf0.1).
  private def commonNeighbors(s: SparkSession, dir: String): DataFrame = {
    // |N(a)∩N(b)| for an EDGE (a,b) is the number of triangles
    // through that edge, so the oriented triangle core (degree-
    // ordered adjacency, ~¼ the intersect work of full lists) finds
    // every triangle once and each triangle credits its THREE edges
    // — the localClustering corner-explode shape, keyed by edge
    // instead of node. Full-adjacency intersection per edge measured
    // 2-4× slower; the naive wedge self-join 10× slower.
    // r18: e/deg/o/adj come from the shared DiskMemo parquet views
    // (coPurchaseHalfEdges + TriCore, built once per JVM, timed as
    // memo rows) instead of per-invocation rebuild + 4 checkpoints;
    // parquet statistics drive broadcast-vs-shuffle, no manual gates.
    val e = coPurchaseHalfEdges(s, dir)
    val deg = TriCore.sharedDeg(s, dir)
      .withColumnRenamed("deg", "d")
    val o = TriCore.sharedOriented(s, dir)
    val adj = TriCore.sharedAdj(s, dir)
    val cn = o
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")),
        Seq("v"), "left")
      .select(col("u"), col("v"), explode(graft.functions.SortedIntersect(col("nu"),
        coalesce(col("nv"), expr("CAST(array() AS ARRAY<BIGINT>)"))))
        .as("w"))
      // All three pair-credits of a triangle enumerated at oriented
      // edge (u,v) with closer w are themselves ORIENTED edges —
      // (u,v), (u,w), (v,w) all ∈ o — so the aggregate can key on the
      // oriented pair directly and the least/greatest normalization
      // (6 conditionals per corner on the 3·|triangles| hot path)
      // moves AFTER the aggregate, where it runs once per edge.
      .select(explode(array(
        struct(col("u").as("p"), col("v").as("q")),
        struct(col("u").as("p"), col("w").as("q")),
        struct(col("v").as("p"), col("w").as("q")))).as("t"))
      .groupBy(col("t.p").as("p"), col("t.q").as("q"))
      .agg(count(lit(1)).as("cn"))
      .select(least(col("p"), col("q")).as("a"),
        greatest(col("p"), col("q")).as("b"), col("cn"))
    e.select(col("src").as("a"), col("dst").as("b"))
      .join(cn, Seq("a", "b"), "left")
      .join(deg.select(col("n").as("a"), col("d").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("deg_b")), "b")
      .select(col("a"), col("b"),
        coalesce(col("cn"), lit(0L)).as("cn"), col("deg_a"), col("deg_b"))
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
          .as("jaccard"))
      .orderBy(desc("jaccard"), col("a"), col("b"))
      .limit(10)
  }

  private val commonNeighborsOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |adj AS (
      |  SELECT src AS n, list_sort(list(dst)) AS nbrs FROM e GROUP BY 1),
      |p AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
      |j AS (
      |  SELECT p.a, p.b,
      |    CAST(len(list_intersect(na.nbrs, nb.nbrs)) AS BIGINT) AS cn,
      |    CAST(len(na.nbrs) AS BIGINT) AS deg_a,
      |    CAST(len(nb.nbrs) AS BIGINT) AS deg_b
      |  FROM p JOIN adj na ON na.n = p.a JOIN adj nb ON nb.n = p.b)
      |SELECT a, b, cn, deg_a, deg_b,
      |  CAST(cn AS DOUBLE) /
      |    CAST(deg_a + deg_b - cn AS DOUBLE) AS jaccard
      |FROM j
      |ORDER BY jaccard DESC, a, b LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_degree_dist" -> (degreeDist _),
    "graph_assortativity" -> (assortativity _),
    "graph_avg_neighbor_degree" -> (avgNeighborDegree _),
    "graph_rich_club" -> (richClub _),
    "graph_kcore" -> (kcore _),
    "graph_triangle_count" -> (triangleCount _),
    "graph_local_clustering" -> (localClustering _),
    "graph_common_neighbors" -> (commonNeighbors _)
  )

  val oracle: Map[String, String] = Map(
    "graph_degree_dist" -> degreeDistOracle,
    "graph_assortativity" -> assortativityOracle,
    "graph_avg_neighbor_degree" -> avgNeighborDegreeOracle,
    "graph_rich_club" -> richClubOracle,
    "graph_kcore" -> kcoreOracle,
    "graph_triangle_count" -> triangleOracle,
    "graph_local_clustering" -> localClusteringOracle,
    "graph_common_neighbors" -> commonNeighborsOracle
  )
}
