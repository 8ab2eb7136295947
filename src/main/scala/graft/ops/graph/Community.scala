package graft.ops.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import CoPurchase.{coPurchaseEdges, coPurchaseHalfEdges}

/** Communities of the co-purchase graph (SURVEY.md §2.26, §2.37,
  * §2.50, §2.51):
  *
  *  - [[labelProp]]: one label-propagation step with p_brand as the
  *    seed label, surfaced as the old→new brand transition matrix;
  *  - [[modularity]] / [[conductance]]: per-community modularity
  *    contributions and conductance of the assignment n % 50 — the
  *    density and the boundary side of community evaluation;
  *  - [[connectedComponentsFixed]] / [[connectedComponentsConv]]: the
  *    component histogram after 6 fixed HashMin rounds, and at the
  *    convergence-detected fixpoint of [[connectedComponents]], the
  *    min-label loop that also resolves the dedup family's duplicate
  *    clusters.
  *
  * Scale shapes: label propagation is one edges⋈labels shuffle plus
  * a per-node argmax window; modularity and conductance are keyed
  * aggregates plus a 1-row edge-total broadcast; connected
  * components broadcasts the node-sized label table into the edge
  * scan (size-gated, graft.util.Hints) and pays ONE node-keyed
  * exchange per round. Determinism: labels and counts are exact
  * integers; every surfaced ratio assembles once in double,
  * floor-form 6-dp (§1.5).
  */
object Community {

  /** The deterministic community assignment c(n) = n % Communities
    * that graph_modularity and graph_conductance score. */
  private val Communities = 50

  // ---- graph_label_prop --------------------------------------------
  // One label-propagation step over the co-purchase graph with
  // p_brand as the seed label: each part adopts the modal brand of
  // its neighbors (count desc, brand asc on ties — deterministic),
  // surfaced as the old→new brand transition matrix (≤25×25 rows).
  // Shape: edges ⋈ part on dst (one shuffle — part is NOT assumed
  // broadcastable at corpus scale), per-(src, brand) count, per-src
  // argmax window (src-partitioned, skew-free: degree is bounded by
  // parts-per-order × orders-per-part), then one more part join for
  // the old label and a tiny final aggregate.
  private def labelProp(s: SparkSession, dir: String): DataFrame = {
    val part = load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val nbr = coPurchaseEdges(s, dir)
      .join(part, col("dst") === col("p_partkey"))
      .groupBy(col("src"), col("p_brand").as("nb"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cnt").desc, col("nb").asc)
    val newLab = nbr.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("src"), col("nb").as("new_brand"))
    newLab.join(part, col("src") === col("p_partkey"))
      .groupBy(col("p_brand").as("old_brand"), col("new_brand"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("old_brand", "new_brand")
  }

  private val labelPropOracle =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |nbr AS (
      |  SELECT e.src, p.p_brand AS nb, CAST(count(*) AS BIGINT) AS cnt
      |  FROM edges e JOIN part p ON e.dst = p.p_partkey
      |  GROUP BY e.src, p.p_brand),
      |new_lab AS (
      |  SELECT src, nb AS new_brand FROM (
      |    SELECT src, nb, row_number() OVER (
      |      PARTITION BY src ORDER BY cnt DESC, nb) AS rk
      |    FROM nbr) WHERE rk = 1)
      |SELECT p.p_brand AS old_brand, n.new_brand,
      |  CAST(count(*) AS BIGINT) AS n_nodes
      |FROM new_lab n JOIN part p ON n.src = p.p_partkey
      |GROUP BY p.p_brand, n.new_brand
      |ORDER BY old_brand, new_brand""".stripMargin

  // ---- graph_modularity ------------------------------------------------
  // Modularity decomposition of the deterministic community
  // assignment c(n) = n % 50 over the co-purchase graph: per
  // community, node count, within-community edge count e_c, degree
  // sum a_c, and the Q contribution e_c/m − (a_c/2m)². Σ contrib = Q
  // — the number that scores a partition (label_prop produces one;
  // this evaluates one). Half edges count each undirected edge once;
  // m is the 1-row undirected edge total broadcast in.

  private[graft] def modularityOn(half: DataFrame): DataFrame = {
    val m = half.agg(count(lit(1)).as("m"))
    val deg = half.select(col("src").as("n"))
      .unionAll(half.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val degC = deg.groupBy((col("n") % Communities).as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_sum"))
    val within = half
      .filter(col("src") % Communities === col("dst") % Communities)
      .groupBy((col("src") % Communities).as("community"))
      .agg(count(lit(1)).as("we"))
    degC.join(within, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("we"), lit(0L)).as("within_edges"), col("degree_sum"))
      .crossJoin(broadcast(m))
      .selectExpr("community", "n_nodes", "within_edges", "degree_sum",
        """floor((CAST(within_edges AS DOUBLE)/m
          | - (CAST(degree_sum AS DOUBLE)/(2*m))
          |   *(CAST(degree_sum AS DOUBLE)/(2*m)))*1e6 + 0.5)/1e6
          | AS q_contrib""".stripMargin)
      .orderBy("community")
  }

  private def modularity(s: SparkSession, dir: String): DataFrame =
    modularityOn(coPurchaseHalfEdges(s, dir).localCheckpoint())

  private val modularityOracle =
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
       |    SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
       |  GROUP BY n),
       |degc AS (
       |  SELECT n % $Communities AS community,
       |    CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(dg) AS BIGINT) AS degree_sum
       |  FROM deg GROUP BY 1),
       |wi AS (
       |  SELECT src % $Communities AS community,
       |    CAST(count(*) AS BIGINT) AS we
       |  FROM e WHERE src % $Communities = dst % $Communities GROUP BY 1),
       |j AS (
       |  SELECT community, n_nodes,
       |    coalesce(we, CAST(0 AS BIGINT)) AS within_edges, degree_sum
       |  FROM degc LEFT JOIN wi USING (community))
       |SELECT community, n_nodes, within_edges, degree_sum,
       |  floor((CAST(within_edges AS DOUBLE)/m
       | - (CAST(degree_sum AS DOUBLE)/(2*m))
       |   *(CAST(degree_sum AS DOUBLE)/(2*m)))*1e6 + 0.5)/1e6
       | AS q_contrib
       |FROM j CROSS JOIN m ORDER BY community""".stripMargin

  // ---- graph_conductance -----------------------------------------------
  // Per community c(n) = n % 50: volume (degree sum), cut size
  // (edges with exactly one endpoint inside — each cut edge charges
  // BOTH its communities), and conductance cut / min(vol, 2m − vol)
  // (NULL if the denominator degenerates to 0 — only possible when
  // one community swallows the whole graph). graph_modularity scores
  // density; this scores the boundary.

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
    conductanceOn(coPurchaseHalfEdges(s, dir).localCheckpoint())

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

  // ---- the min-label loop ------------------------------------------

  /** Undirected connected components by min-label propagation.
    * `edges` must have two long columns (a, b); returns
    * (node, cluster_id) where cluster_id = min node id of the
    * component. Each round is one shuffle join on the node id plus a
    * map-side-combining min aggregate; converges in O(diameter)
    * rounds (near-dup clusters are shallow in practice); `maxIter`
    * bounds pathological chains. Shared by
    * graph_connected_components_conv, the dedup family's cluster rows
    * and [[graft.Graft.connectedComponents]]. */
  private[graft] def connectedComponents(edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // >= 2: one init round plus at least one confirming round — with
    // maxIter=1 convergence could never be observed.
    require(maxIter >= 2, s"connectedComponents: maxIter $maxIter < 2")
    val cols = edges.columns
    // Eager checkpoint of the EDGE INPUT, not just und: the und union
    // below references e in 4-5 subtrees (both directions + the node
    // distinct), and und.persist() only deduplicates work across
    // ROUNDS — its one materialization still executes each union
    // branch's copy of the upstream plan. Callers pass expensive lazy
    // plans here (LSH band joins, ngram Jaccard verifies, co-purchase
    // self-joins), so without this the pair stage re-runs ~5× inside
    // round 1 (measured: llm_dedup_cluster 6.0 s → 3.4 s at sf0.1).
    // Cost at scale: one extra E-sized materialization next to the
    // 2E+N-sized und cache — O(E) storage either way.
    // (r19 re-tested skipping this for already-materialized inputs
    // — parquet views, cached-block probes: consistently SLOWER, the
    // union re-runs the edge subtree per branch and broadcast reuse
    // does not survive the persist boundary. The eager checkpoint
    // stays for every caller.)
    val e = edges.select(col(cols(0)).as("a"), col(cols(1)).as("b"))
      .localCheckpoint()
    // Both directions PLUS self-loops: with (x, x) present, min over a
    // node's neighbourhood includes its own label, so each round is
    // ONE join + one map-side-combining min-aggregate — no second
    // join to re-attach old labels.
    val nodes = e.select(col("a")).union(e.select(col("b").as("a")))
      .distinct()
    // persist (not checkpoint): each superseded round is explicitly
    // unpersisted below — eager checkpoints would pin every round's
    // blocks until GC, starving shuffle memory on long runs. The plan
    // tree grows linearly with rounds, which is fine at maxIter=20;
    // execution always reads the cached previous round.
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .union(nodes.select(col("a"), col("a").as("b")))
      .persist()
    // Init = round 1: label(x) = min over the closed neighbourhood.
    var labels = und.groupBy("a").agg(min("b").as("label"))
      .withColumnRenamed("a", "node")
      .persist()
    // Labels only ever decrease, so Σlabels strictly decreases until
    // the fixpoint — one scalar action per round detects convergence
    // with no extra join or changed-row count. DECIMAL(38,0)
    // accumulation: a BIGINT sum of 10^10 node ids overflows (and
    // throws under ANSI mode) at the scale this operator targets.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).first()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    // ONE action initializes both loop controls (r18): the label sum
    // (convergence sentinel) and the node count (the per-round hint
    // gate) come out of a single aggregate over the persisted round-1
    // table — the separate labels.count() job is folded away.
    val init = labels.agg(
      sum(col("label").cast("decimal(38,0)")).as("s"),
      count(lit(1)).as("c")).first()
    var prev = if (init.isNullAt(0)) java.math.BigDecimal.ZERO
      else init.getDecimal(0)
    val hint = graft.util.Hints.maybeBroadcast(init.getLong(1))
    var iter = 1
    var converged = false
    while (!converged && iter < maxIter) {
      // Pointer-jump shortcut BEFORE the neighbourhood min (VERDICT r9
      // item 1 — fewer sequential rounds is the only real cut on a
      // convergence-detected loop): l'(v) = l(l(v)). Labels only
      // decrease and l(v) <= v (closed neighbourhoods include self),
      // so every label value IS a node present in `labels` (inner
      // join safe) and l(l(v)) <= l(v) needs no least(). Each round
      // then propagates the min two hops instead of one — O(log
      // diameter) heavy rounds instead of O(diameter) — for the cost
      // of one extra NODE-sized broadcast join folded into the same
      // round's broadcast build (no extra Spark job: it executes
      // inside the exchange that was already collecting the labels).
      val jumped = labels
        .join(hint(labels.select(col("node").as("jn"),
          col("label").as("jl"))), col("label") === col("jn"))
        .select(col("node"), col("jl").as("label"))
      // Under the gate the node-sized label table broadcasts so the
      // ~2E+N-row und side never shuffles: the only exchange per
      // round is the map-side-combined min on `a` (the Composite20
      // CC discipline). On a graph whose node table outgrows the
      // gate the joins run UN-hinted and plan node-keyed shuffles —
      // a bare hint would hard-fail at the broadcast limit instead.
      val next = und.join(hint(jumped), col("b") === col("node"))
        .groupBy("a").agg(min("label").as("label"))
        .withColumnRenamed("a", "node")
        .persist()
      val cur = labelSum(next) // materializes next; labels now dead
      labels.unpersist()
      labels = next
      converged = cur.compareTo(prev) == 0
      prev = cur
      iter += 1
    }
    if (!converged)
      // Unconverged labels are WRONG (one true component surfaces as
      // several) — never return them silently.
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter); raise maxIter")
    // und is no longer needed; labels stays persisted for the caller
    // (a hint only — correctness does not depend on it).
    und.unpersist()
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Unrolled HashMin rounds WITH a pointer-jump step, for the DuckDB
    * CC oracles. Round i emits two CTEs over an `e(src, dst)` edge
    * list and an `l0(node, l)` identity labelling:
    *   h$i — neighbourhood min (classic HashMin), and
    *   l$i — pointer jump l'(v) = l(l(v)) through h$i itself,
    * so n rounds resolve propagation depth ~2^n, matching the Spark
    * loop in [[connectedComponents]] which jumps every round (ADVICE
    * r10: the previous plain unroll covered only depth n while Spark
    * maxIter=n covers ~2^n — a deep corpus would have yielded a
    * CORRECT Spark result but a red oracle sentinel, the false-red
    * class ADVICE r9 set out to remove; now both sides' budgets are
    * exponential in the round count). Labels are node ids and only
    * decrease (closed-neighbourhood min), so the jump's inner lookup
    * always finds its target and least() is monotone-safe. Every CTE
    * is AS MATERIALIZED: each is referenced twice and would otherwise
    * re-expand 2^n-fold (the un-pinned form exhausted temp disk). */
  private[graft] def hashMinJumpRounds(n: Int): String =
    (1 to n).map { i =>
      s"""h$i AS MATERIALIZED (
         |  SELECT p.node, least(p.l, coalesce(m.nl, p.l)) AS l
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT e.src AS node, min(q.l) AS nl
         |    FROM e JOIN l${i - 1} q ON e.dst = q.node
         |    GROUP BY e.src) m ON p.node = m.node),
         |l$i AS MATERIALIZED (
         |  SELECT p.node, least(p.l, coalesce(q.l, p.l)) AS l
         |  FROM h$i p LEFT JOIN h$i q ON p.l = q.node)""".stripMargin
    }.mkString(",\n")

  // ---- graph_connected_components ----------------------------------
  // 6 synchronized min-label-propagation rounds over the co-purchase
  // graph (the HashMin algorithm of Rastogi 2013): lbl₀(v)=v,
  // lblₖ(v)=min(lblₖ₋₁(v), min over in-neighbors). The edge list is
  // directed-symmetric, so in- and out-neighborhoods coincide.
  // Surfaces the component-label histogram after round 6 — identical
  // to the oracle's 6 unrolled CTE rounds whether or not the graph
  // has converged (fixed-iteration semantics, pagerank discipline).
  private def connectedComponentsFixed(s: SparkSession, dir: String): DataFrame = {
    // r19: self-loops are appended to the checkpointed edge table, so
    // a round's neighbourhood-min over CLOSED neighbourhoods is ONE
    // join + one map-side-combining aggregate — the second per-round
    // broadcast join (re-attaching the node's own label) is gone, and
    // with it one broadcast-build job per round (guide §2.4; the
    // [[connectedComponents]] self-loop discipline). least(l,
    // min-over-nbrs) == min-over-closed-nbhd, so labels are
    // value-identical per round.
    val base = coPurchaseEdges(s, dir)
    val edges = base.unionAll(
        base.select(col("src")).distinct()
          .select(col("src"), col("src").as("dst")))
      .localCheckpoint()
    // Round 1 specialized: l0 is the identity labelling, so the
    // neighbourhood-min of labels is just min(dst) — ONE map-side-
    // combining aggregate replaces that round's two broadcast joins.
    // (Symmetric edge list ⇒ every node appears as src, so this also
    // covers the l0 node set.) Value-identical to the oracle's l1.
    var lbl = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("node"), least(col("src"), col("m")).as("l"))
      .persist()
    // Size-gate the loop's hints ONCE on the round-invariant node
    // count (the count materializes round 1's cache, which round 2
    // was about to do anyway): under the gate the label table — node-
    // sized, 150× smaller than the edge list — is hinted so the edges
    // never shuffle and the only exchange per round is the node-keyed
    // min; over it the joins run un-hinted and AQE/planner picks the
    // node-keyed shuffle. A bare broadcast() hint would instead hard-
    // fail past the 8 GB broadcast cap (graft.util.Hints).
    val hint = graft.util.Hints.maybeBroadcast(lbl.count())
    val rounds = scala.collection.mutable.ListBuffer(lbl)
    for (_ <- 2 to 6) {
      //
      // persist (not eager localCheckpoint): each round's broadcast
      // collect is an action that materializes the PREVIOUS round's
      // cache, so rounds still execute exactly once, but without the
      // per-round standalone checkpoint job (6 jobs saved — measured
      // ~1 s at sf0.1). An IN-LOOP unpersist would drop caches before
      // anything has executed (no action runs until the end) and
      // cascade a 2^6 lineage re-expansion — instead the final label
      // table is eagerly localCheckpoint'd below and every round
      // cache is dropped there, so a library caller invoking this op
      // repeatedly accumulates nothing (ADVICE r8).
      // Self-loops put the node's own label into the aggregate, so
      // the closed-neighbourhood min IS the next labelling — no
      // re-attach join (r19).
      lbl = edges
        .join(hint(lbl.select(col("node").as("dst"), col("l").as("pl"))),
          "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("pl")).as("l"))
        .persist()
      rounds += lbl
    }
    // ONE eager checkpoint materializes the whole 6-round chain (each
    // round's broadcast collect fills the previous round's cache, so
    // every round still executes exactly once), after which all six
    // node-sized round caches are unreachable and dropped — O(1)
    // retained storage per invocation instead of O(rounds).
    val finalLbl = lbl.localCheckpoint()
    rounds.foreach(_.unpersist(false))
    finalLbl.groupBy(col("l").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("component")
  }

  // ---- graph_connected_components_conv -----------------------------
  // Convergence-DETECTED components (VERDICT r7 "next tier" item 3):
  // the fixed-6-round row above pins the oracle's unrolled semantics;
  // this row runs [[connectedComponents]]' min-label loop to
  // its fixpoint (per-round 1-row label-sum scalar, O(diameter)
  // rounds, throws rather than returning unconverged labels) and
  // surfaces the same component histogram. Oracle: 10 unrolled
  // HashMin rounds — strictly more than this graph's diameter, so the
  // SQL side is at ITS fixpoint too and the two definitions coincide
  // exactly (any divergence = the loop stopped early = red row).
  // Half edges suffice: connectedComponents symmetrizes internally
  // (both directions + self-loops), so the pre-symmetrized list would
  // just be unioned into itself.
  private def connectedComponentsConv(s: SparkSession, dir: String): DataFrame =
    // (r19 A/B: skipping CC's internal edge checkpoint for the
    // parquet-view input measured slower — the und union re-scans the
    // view per branch and per round-1 subtree — so the default stays.)
    connectedComponents(
        coPurchaseHalfEdges(s, dir).toDF("a", "b"), maxIter = 30)
      .groupBy(col("cluster_id").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("component")

  // Rounds come from [[hashMinJumpRounds]]: HashMin + pointer
  // jump per round, so 10 rounds resolve depth ~2^10 — the same
  // exponential budget as the Spark loop's per-round l(l(v)) jump
  // (ADVICE r10: a plain 10-round unroll covered only depth 10 while
  // maxIter=30 jumped Spark rounds cover ~2^29, so a deep corpus
  // would red the sentinel against a CORRECT Spark result).
  private def connectedComponentsConvOracle: String = {
    val rounds = hashMinJumpRounds(10)
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS l FROM e),
       |$rounds
       |SELECT l AS component, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM l10 GROUP BY 1
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |WHERE (SELECT sum(CAST(l AS HUGEINT)) FROM l9)
       |   <> (SELECT sum(CAST(l AS HUGEINT)) FROM l10)
       |ORDER BY 1""".stripMargin
  }
  // The sentinel row asserts the "depth < 2^10" assumption IN the
  // oracle: labels only decrease, so equal l9/l10 label sums == the
  // SQL side reached ITS fixpoint and coincides with the Spark loop's
  // convergence-detected labels. On a deeper corpus the extra
  // (-1, -1) row turns the compare red pointing at non-convergence
  // instead of a silent histogram drift (ADVICE r8). The Spark side
  // needs no twin: it THROWS when unconverged at maxIter.

  private def connectedComponentsOracle: String = {
    val rounds = (1 to 6).map { i =>
      s"""l$i AS (
         |  SELECT p.node, least(p.l, coalesce(m.nl, p.l)) AS l
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT e.src AS node, min(q.l) AS nl
         |    FROM e JOIN l${i - 1} q ON e.dst = q.node
         |    GROUP BY e.src) m ON p.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT src AS node, src AS l FROM e),
       |$rounds
       |SELECT l AS component, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM l6 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_label_prop" -> (labelProp _),
    "graph_modularity" -> (modularity _),
    "graph_conductance" -> (conductance _),
    "graph_connected_components" -> (connectedComponentsFixed _),
    "graph_connected_components_conv" -> (connectedComponentsConv _)
  )

  val oracle: Map[String, String] = Map(
    "graph_label_prop" -> labelPropOracle,
    "graph_modularity" -> modularityOracle,
    "graph_conductance" -> conductanceOracle,
    "graph_connected_components" -> connectedComponentsOracle,
    "graph_connected_components_conv" -> connectedComponentsConvOracle
  )
}
