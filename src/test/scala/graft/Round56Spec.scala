package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round 17 — the r16-verdict punch list:
  *
  *  1. The five rank tests (`agg_kruskal_wallis`, `agg_dunn_posthoc`,
  *     `agg_jonckheere_terpstra`, `agg_mann_whitney`, `agg_ks_test`)
  *     retrofitted onto [[graft.util.DistRank.globalPrefixSum]]: the
  *     plan assertion here locks the invariant that NO window over
  *     the value grid runs unpartitioned — every Window node is
  *     either `__pid`-partitioned (the partition-local cumsum) or
  *     ordered BY `__pid` (the parts-row bounded offsets table).
  *  2. `llm_interleave_sources` pushes `rn <= 50` below the global
  *     window (bounding it to 50·|sources| rows) and the per-source
  *     rank compiles to a WindowGroupLimit scan-side pushdown.
  *  3. `agg_cliffs_delta` + `llm_ann_mrr` growth rows (planted cases
  *     here; brute-fold laws in PropertiesSpec; DuckDB oracles in
  *     the CORRECTNESS gate).
  *  4. The memo reset hooks Bench uses to time true rebuilds are
  *     consistent: build → reset → rebuild is cell-identical.
  */
class Round56Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val RankQueries = Seq("agg_kruskal_wallis", "agg_dunn_posthoc",
    "agg_jonckheere_terpstra", "agg_mann_whitney", "agg_ks_test",
    "agg_cliffs_delta")

  test("rank family: no Window sees the value grid unpartitioned") {
    // The entity-sized axes are the totalprice-cents grid (c) and the
    // acctbal grid (x); any window whose spec LEADS with one of them
    // is a bare global window — the pre-r17 one-task funnel. Windows
    // over bounded axes (__pid offsets table, Dunn's 10-row group-pair
    // Holm grid) are fine.
    val bare = """windowspecdefinition\((c|x)#""".r
    // kw/dunn consume doubledRanks, whose prefix-sum output is an
    // EAGER localCheckpoint — the window runs inside the checkpoint
    // job and the downstream plan shows Scan ExistingRDD, so the
    // __pid-existence check only applies where the window is visible
    // (jt/mw/ks/cliffs; kw/dunn share the same globalPrefixSum call).
    val windowVisible = Set("agg_jonckheere_terpstra", "agg_mann_whitney",
      "agg_ks_test", "agg_cliffs_delta")
    for (q <- RankQueries) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      val windows = plan.linesIterator
        .filter(_.contains("windowspecdefinition(")).toSeq
      if (windowVisible(q))
        assert(windows.exists(_.contains("windowspecdefinition(__pid")),
          s"$q: expected the __pid-scoped prefix-sum windows:\n$plan")
      windows.foreach { w =>
        assert(bare.findFirstIn(w).isEmpty,
          s"$q: a Window runs over the value grid without __pid " +
            s"partitioning (single-task funnel at scale):\n$w")
      }
    }
  }

  test("llm_interleave_sources: rn<=50 sits below the global window; per-source rank is a WindowGroupLimit") {
    val df = SparkEntry.queries("llm_interleave_sources")(spark, TestSpark.sf)
    assert(df.count() == 50)
    val plan = df.queryExecution.executedPlan.toString
    // Scan-side pushdown of the per-source top-50 rank.
    assert(plan.contains("WindowGroupLimit"),
      s"per-source row_number must push a group limit to the scan:\n$plan")
    // Tree order: parent prints before child, so the rn filter must
    // appear AFTER the global window line (= below it in the plan)
    // and BEFORE the per-source window that defines rn.
    val global = plan.indexOf("windowspecdefinition(rn#")
    val rnFilter = plan.indexOf("Filter (rn#")
    val perSource = plan.indexOf("windowspecdefinition(source#")
    assert(global >= 0 && rnFilter > global && perSource > rnFilter,
      s"rn<=50 must bound the global window's input " +
        s"(global=$global, filter=$rnFilter, perSource=$perSource):\n$plan")
  }

  // ---- agg_cliffs_delta ----------------------------------------------------

  private def cliffsOf(g1: Seq[Double], g2: Seq[Double]) = {
    val df = (g1.map((_, 1)) ++ g2.map((_, 0))).toDF("x", "i1")
    graft.ops.stats.TwoSample.cliffsDeltaOn(df, col("x"), col("i1") === 1)
      .as[(Long, Long, Double, Double, String)].collect().head
  }

  test("cliffsDeltaOn: separation, overlap, ties, and magnitude bands") {
    // Complete separation: every g1 value above every g2 value.
    assert(cliffsOf(Seq(10, 11, 12), Seq(1, 2)) ==
      ((3L, 2L, 6.0, 1.0, "large")))
    // Complete reversal.
    assert(cliffsOf(Seq(1, 2), Seq(10, 11, 12)) ==
      ((2L, 3L, 0.0, -1.0, "large")))
    // All tied: U = n1·n2/2, δ = 0, negligible.
    assert(cliffsOf(Seq(5, 5), Seq(5, 5, 5)) ==
      ((2L, 3L, 3.0, 0.0, "negligible")))
    // Hand-computed mix: g1 = (1, 3, 5), g2 = (2, 3). Pairs:
    // 1<2, 1<3; 3>2, 3=3; 5>2, 5>3 → gt=3, lt=2, eq=1 over 6 pairs.
    // U = 3.5, δ = 1/6 = 0.166667 → small.
    assert(cliffsOf(Seq(1, 3, 5), Seq(2, 3)) ==
      ((3L, 2L, 3.5, 0.166667, "small")))
  }

  // ---- llm_ann_mrr ----------------------------------------------------------

  test("mrrFrom: first-position, mid, last-position, and no-hit queries; summary row") {
    val queries = Seq(1L, 2L, 3L, 4L).toDF("q_id")
    // q1: exact top-10 id at IVF position 1 → rr 1.0
    // q2: first overlap at IVF position 3 → rr 0.333333
    // q3: only the 10th IVF candidate overlaps → rr 0.1
    // q4: no overlap at all → first_hit 0, rr 0.0
    val ivf = ((1 to 10).map(i => (1L, 100L + i, i)) ++
      (1 to 10).map(i => (2L, if (i >= 3) 200L + i else 900L + i, i)) ++
      (1 to 10).map(i => (3L, if (i == 10) 301L else 900L + i, i)) ++
      (1 to 10).map(i => (4L, 900L + i, i)))
      .toDF("q_id", "vec_id", "rn")
    val exact = ((1 to 10).map(i => (1L, 100L + i, i)) ++
      (1 to 10).map(i => (2L, 200L + i, i)) ++
      (1 to 10).map(i => (3L, 300L + i, i)) ++
      (1 to 10).map(i => (4L, 300L + i, i)))
      .toDF("q_id", "vec_id", "ern")
    val got = graft.ops.retrieval.Evaluation.mrrFrom(queries, ivf, exact)
      .as[(Long, Long, Double)].collect().toSeq
    // summary: micro-mean of (1.0, 0.333333, 0.1, 0.0) = 0.358333;
    // 3 of 4 queries had a hit.
    assert(got == Seq(
      (-1L, 3L, 0.358333),
      (1L, 1L, 1.0),
      (2L, 3L, 0.333333),
      (3L, 10L, 0.1),
      (4L, 0L, 0.0)))
  }

  test("mapFrom: perfect, half-alternating, last-only, and no-hit queries; summary row") {
    val queries = Seq(1L, 2L, 3L, 4L).toDF("q_id")
    // q1: all 10 hit → AP = 1. q2: hits at odd positions 1,3,5,7,9 →
    // AP = (1/1 + 2/3 + 3/5 + 4/7 + 5/9)/10 = 0.33936508 → 0.339365.
    // q3: only position 10 hits → AP = (1/10)/10 = 0.01.
    // q4: no hits → 0.
    val ivf = ((1 to 10).map(i => (1L, 100L + i, i)) ++
      (1 to 10).map(i => (2L, if (i % 2 == 1) 200L + i else 900L + i, i)) ++
      (1 to 10).map(i => (3L, if (i == 10) 301L else 900L + i, i)) ++
      (1 to 10).map(i => (4L, 900L + i, i)))
      .toDF("q_id", "vec_id", "rn")
    val exact = ((1 to 10).map(i => (1L, 100L + i, i)) ++
      (1 to 10).map(i => (2L, 200L + i, i)) ++
      (1 to 10).map(i => (3L, 300L + i, i)) ++
      (1 to 10).map(i => (4L, 300L + i, i)))
      .toDF("q_id", "vec_id", "ern")
    val got = graft.ops.retrieval.Evaluation.mapFrom(queries, ivf, exact)
      .as[(Long, Long, Double)].collect().toSeq
    // summary: micro-mean of (1.0, 0.339365, 0.01, 0.0) —
    // floor(1349365/4 + 0.5) = 337341 → 0.337341; 16 hits total.
    assert(got == Seq(
      (-1L, 16L, 0.337341),
      (1L, 10L, 1.0),
      (2L, 5L, 0.339365),
      (3L, 1L, 0.01),
      (4L, 0L, 0.0)))
  }

  test("brunnerMunzelOn reproduces the Brunner & Munzel 2000 reference case") {
    // The published two-sample design (also scipy's reference case):
    // W = 3.1374674823, df = 17.6828420, p̂ = 0.7889610.
    val g1 = Seq(1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1)
    val g2 = Seq(3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4)
    val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
      .toDF("x", "i1")
    val r = graft.ops.stats.TwoSample
      .brunnerMunzelOn(df, col("x"), col("i1") === 1)
      .as[(Long, Long, Double, Double, Double, Boolean)].collect().head
    assert(r == ((14L, 11L, 0.788961, 3.137467, 17.682842, true)))
  }

  // ---- memo reset (Bench's timed-rebuild hook) ------------------------------

  test("DiskMemo.reset: rebuild after reset is cell-identical to the memoized read") {
    val before = graft.ops.graph.LinkPrediction
      .sharedLinkpredCandidates(spark, TestSpark.sf).collect().toSet
    graft.ops.DiskMemo.reset()
    val after = graft.ops.graph.LinkPrediction
      .sharedLinkpredCandidates(spark, TestSpark.sf).collect().toSet
    assert(before == after)
  }

  test("DiskMemo.reset(tag): scoped reset rebuilds only that table; " +
      "edge view rebuild is cell-identical") {
    val edgesBefore = graft.ops.graph.CoPurchase
      .coPurchaseHalfEdges(spark, TestSpark.sf).collect().toSet
    // A fresh-build pass must equal the memoized read (the DiskMemo
    // determinism contract extended to the r18 edge view).
    val fresh = graft.ops.graph.CoPurchase
      .coPurchaseHalfEdgesBuild(spark, TestSpark.sf).collect().toSet
    assert(edgesBefore == fresh)
    // Scoped reset of an UNRELATED tag must leave the edge view
    // memoized (same parquet LOCATION, no rebuild — compare paths,
    // not analyzed-plan strings, whose expression ids differ per
    // analysis).
    def edgeLoc() = graft.ops.graph.CoPurchase.coPurchaseHalfEdges(spark, TestSpark.sf)
      .queryExecution.optimizedPlan.collectLeaves().collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.mkString(",")
            case other => other.toString
          }
      }.mkString
    val p1 = edgeLoc()
    graft.ops.DiskMemo.reset("linkpred_cands")
    val p2 = edgeLoc()
    assert(p1 == p2, "scoped reset of another tag must not evict the edge view")
    // Scoped reset of ITS tag rebuilds to cell-identical content.
    graft.ops.DiskMemo.reset("copurchase_half")
    val edgesAfter = graft.ops.graph.CoPurchase
      .coPurchaseHalfEdges(spark, TestSpark.sf).collect().toSet
    assert(edgesBefore == edgesAfter)
  }

  /** Cell content of the memoized BFS seeds and levels. */
  private def bfsSig() = {
    val (seeds, levels) = graft.ops.GraphBfs
      .sharedLevels(spark, TestSpark.sf)
    (seeds.collect().toSet, levels.map(_.collect().toSet))
  }

  test("GraphBfs.reset: levels rebuilt after reset are cell-identical") {
    val a = bfsSig()
    graft.ops.GraphBfs.reset()
    val b = bfsSig()
    assert(a == b)
  }

  test("GraphBfs.reset: DiskMemo.reset() alone also rebuilds seeds and " +
      "levels, cell-identical to the first build") {
    val a = bfsSig()
    graft.ops.DiskMemo.reset()
    val b = bfsSig()
    assert(a == b)
  }

  test("GraphBfs.reset: concurrent sharedLevels callers get identical " +
      "seeds and levels without failing") {
    val want = bfsSig()
    graft.ops.GraphBfs.reset()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = Seq.fill(2)(pool.submit(
        new java.util.concurrent.Callable[Any] { def call(): Any = bfsSig() }))
      val got = calls.map(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
      assert(got.forall(_ == want))
    } finally pool.shutdown()
  }

  test("Scans.tmp: same basename under different parents gets distinct paths") {
    val d1 = new java.io.File("/tmp/graft_t17a/sf"); d1.mkdirs()
    val d2 = new java.io.File("/tmp/graft_t17b/sf"); d2.mkdirs()
    val p1 = graft.ops.Scans.tmp(spark, d1.getPath, "memo")
    val p2 = graft.ops.Scans.tmp(spark, d2.getPath, "memo")
    assert(p1 != p2, s"ambiguous memo paths: $p1 vs $p2")
  }
}
