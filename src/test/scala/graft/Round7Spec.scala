package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 operators (SURVEY §2.18): runtime bloom-filter injection,
  * in-memory plan reuse, PageRank invariants, Observation metrics
  * equivalence, try_* null semantics, collation grouping, and the
  * corpus-statistics outputs' analytic properties.
  */
class Round7Spec extends AnyFunSuite {
  import TestSpark._

  test("join_runtime_bloom: optimizer injects bloom_filter_might_contain") {
    val df = graft.ops.Composite4.queries("join_runtime_bloom")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"no runtime bloom filter in plan:\n${plan.take(2000)}")
  }

  test("cache_reuse: branches read the InMemoryRelation, results match uncached") {
    val df = graft.ops.Composite4.queries("cache_reuse")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
      s"branches do not reuse the cache:\n${plan.take(2000)}")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("high", "low"))
    // the two branches partition the customers exactly
    val total = rows.map(_.getLong(1)).sum
    val nCust = graft.util.Tables.load(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(total == nCust)
  }

  test("coPurchaseHalfEdges: each unordered pair once; symmetric closure matches the naive build") {
    val half = graft.ops.graph.CoPurchase.coPurchaseHalfEdges(spark, sf)
    val hrows = half.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hrows.nonEmpty)
    assert(hrows.forall { case (a, b) => a < b }, "half edges must be src < dst")
    assert(hrows.distinct.length == hrows.length, "duplicate unordered pair")
    // the symmetric closure must equal the reference definition:
    // distinct (a, b), a != b, sharing an order — built here the
    // naive both-directions way.
    val full = graft.ops.graph.CoPurchase.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val li = graft.util.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values.map(_.map(_._2).distinct.toSeq)
    val naive = byOrder.flatMap(ps =>
      for (a <- ps; b <- ps if a != b) yield (a, b)).toSet
    assert(full == naive, "symmetric closure diverges from the naive edge set")
    assert(full.size == 2 * hrows.length)
  }

  test("graph_pagerank: rank mass is conserved and every node surfaces") {
    val df = graft.ops.graph.Graph.queries("graph_pagerank")(spark, sf)
    // declared query: rank broadcasts reach the plan (no edge shuffle
    // per iteration)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "declared pagerank should broadcast the rank table")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // symmetric co-purchase graph -> no dangling mass; sum r == 1
    // up to the 12-dp per-iteration rounding.
    val mass = rows.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"rank mass $mass")
    assert(rows.forall(_.getDouble(1) > 0.0))
  }

  test("graph_pagerank: shuffle-join fallback plans without broadcasts and agrees") {
    // the scale path for rank tables past the broadcast budget:
    // same algebra, co-partitioned shuffle joins. rowCap=0 puts the
    // node count over the Hints gate (HintsSpec's withRowCap), and
    // AQE's size-based broadcast promotion is off so the hint-free
    // plan is the honest shuffle shape.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = graft.ops.graph.CoPurchase.coPurchaseEdges(spark, sf)
      val bc = graft.Graft.pageRank(edges, 2, 0.85).collect()
      val sj = TestSpark.globalConfLock.synchronized {
        val prevCap = sys.props.get("graft.broadcast.rowCap")
        sys.props("graft.broadcast.rowCap") = "0"
        try graft.Graft.pageRank(edges, 2, 0.85)
        finally prevCap match {
          case Some(v) => sys.props("graft.broadcast.rowCap") = v
          case None    => sys.props -= "graft.broadcast.rowCap"
        }
      }
      val plan = sj.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"fallback still broadcasts:\n${plan.take(1500)}")
      val sjRows = sj.collect()
      assert(sjRows.map(r => (r.get(0), r.getDouble(1))).toSeq ==
        bc.map(r => (r.get(0), r.getDouble(1))).toSeq,
        "fallback result diverges from broadcast plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("obs_metrics: observed metrics equal the declarative aggregate") {
    val got = graft.ops.Composite4.queries("obs_metrics")(spark, sf).collect()(0)
    val want = graft.util.Tables.load(spark, sf, "lineitem")
      .agg(count(lit(1)), sum(graft.util.Tables.money(col("l_extendedprice"))).cast("double"),
        min(col("l_extendedprice")), max(col("l_extendedprice")))
      .collect()(0)
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getDouble(1) == want.getDouble(1))
    assert(got.getDouble(2) == want.getDouble(2))
    assert(got.getDouble(3) == want.getDouble(3))
  }

  test("math_try_fns: error cases surface as NULL, not failures") {
    val df = graft.ops.Composite4.queries("math_try_fns")(spark, sf)
    val qty25 = df.filter(col("l_quantity") === 25.0)
    if (qty25.count() > 0)
      assert(qty25.filter(col("safe_ratio").isNotNull).count() == 0)
    assert(df.filter(col("l_quantity") =!= 25.0)
      .filter(col("safe_ratio").isNull).count() == 0)
    // probed is null exactly when the index is past the 2-element array
    assert(df.filter(col("l_linenumber") > 2)
      .filter(col("probed").isNotNull).count() == 0)
    assert(df.filter(col("l_linenumber") <= 2)
      .filter(col("probed").isNull).count() == 0)
    // overflow probe: max+positive overflows to NULL
    assert(df.filter(col("l_orderkey") > 0)
      .filter(col("overflow_probe").isNotNull).count() == 0)
  }

  test("str_collation: case-mangled segments collapse to one group per segment") {
    val rows = graft.ops.Composite4.queries("str_collation")(spark, sf).collect()
    val plain = graft.util.Tables.load(spark, sf, "customer")
      .select(lower(col("c_mktsegment"))).distinct().count()
    assert(rows.length == plain)
    assert(rows.forall(r => r.getString(0) == r.getString(0).toLowerCase))
  }

  test("llm_token_entropy: 0 <= H <= log2(n_tokens)") {
    val rows = graft.ops.corpus.Vocabulary.queries("llm_token_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1).toDouble
      val h = r.getDouble(2)
      // +1e-6: the surfaced H is 6-dp rounded, so it can sit half an
      // ulp-of-the-grid above the exact log2(n) bound.
      assert(h >= 0.0 && h <= math.log(n) / math.log(2.0) + 1e-6,
        s"doc ${r.get(0)}: H=$h n=$n")
    }
  }

  test("sql_join_hint_shuffle: both hinted strategies appear in the plan") {
    val df = graft.ops.Composite4.queries("sql_join_hint_shuffle")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"no ShuffledHashJoin:\n${plan.take(1500)}")
    assert(plan.contains("SortMergeJoin"), s"no SortMergeJoin:\n${plan.take(1500)}")
  }

  test("agg_corr_matrix: 6 pairs, each corr in [-1, 1], one scan") {
    val df = graft.ops.Composite4.queries("agg_corr_matrix")(spark, sf)
    assert(df.queryExecution.executedPlan.toString
      .split("Scan parquet").length - 1 == 1, "corr matrix must be single-scan")
    val rows = df.collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val c = r.getDouble(1)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"${r.getString(0)}: $c")
    }
  }

  test("join_asof_tolerance: matches are the partitioned as-of bounded to 30 days") {
    import java.time.LocalDateTime
    val tol = graft.ops.Composite4.queries("join_asof_tolerance")(spark, sf)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    val base = graft.ops.Relational.queries("join_asof_partitioned")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](2), r.getAs[LocalDateTime](3)))
      .toList
    base.foreach { case (id, ts, m) =>
      val bounded = if (!m.isBefore(ts.minusDays(30))) Some(m) else None
      assert(tol(id) == bounded, s"event $id: ${tol(id)} vs $bounded")
    }
    // EVERY event surfaces (no-match events keep a NULL, not dropped)
    val nEvents = graft.util.Tables.loadEvents(spark, sf).count()
    assert(tol.size == nEvents, s"tolerance surfaced ${tol.size} of $nEvents events")
  }

  test("agg_benford: digits in 1..9, shares sum to 1, expectation is Benford") {
    val rows = graft.ops.dq.Digits.queries("agg_benford")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).forall(d => d >= 1 && d <= 9))
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum $shareSum")
    rows.foreach { r =>
      val d = r.getInt(0)
      val want = math.log(1.0 + 1.0 / d) / math.log(10.0)
      assert(math.abs(r.getDouble(3) - want) < 1e-6)
    }
  }

  test("nested_struct_topn: top-1 dominates top-2; singleton orders surface NULL seconds") {
    val df = graft.ops.Composite5.queries("nested_struct_topn")(spark, sf)
    assert(df.filter(col("top2_price").isNotNull &&
      col("top1_price") < col("top2_price")).count() == 0)
    assert(df.filter(col("n_items") === 1 && col("top2_pk").isNotNull).count() == 0)
    assert(df.filter(col("n_items") >= 2 && col("top2_pk").isNull).count() == 0)
  }

  test("llm_feature_scale: each dimension standardizes to mean 0, var 1") {
    // exploded surface: one row per (vec_id, pos, z)
    val rows = graft.ops.corpus.Features.queries("llm_feature_scale")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byPos = rows.groupBy(_.getInt(1))
    val dims = byPos.size
    assert(byPos.values.map(_.length).toSet.size == 1, "ragged dimensions")
    (1 to dims by 16).foreach { i =>
      val xs = byPos(i).map(_.getDouble(2))
      val n = xs.length.toDouble
      val mean = xs.sum / n
      val varr = xs.map(x => x * x).sum / n - mean * mean
      assert(math.abs(mean) < 1e-4, s"dim $i mean $mean")
      assert(math.abs(varr - 1.0) < 1e-3, s"dim $i var $varr")
    }
  }

  test("graph_degree_dist: handshake identity — degree-weighted node count equals directed edge count") {
    val dist = graft.ops.graph.Graph.queries("graph_degree_dist")(spark, sf).collect()
    val weighted = dist.map(r => r.getLong(0) * r.getLong(1)).sum
    val li = graft.util.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey").as("src"))
    val edges = li.toDF("k", "src").join(li.toDF("k", "dst"), "k")
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct().count()
    assert(weighted == edges, s"sum(deg*n)=$weighted edges=$edges")
  }

  test("llm_kmeans_step: members partition the corpus; centroids have full dimension") {
    // exploded surface: one row per (cid, pos) — regroup to check the
    // per-centroid invariants
    val rows = graft.ops.retrieval.Geometry.queries("llm_kmeans_step")(spark, sf).collect()
    val byCid = rows.groupBy(_.get(0))
    assert(byCid.nonEmpty && byCid.size <= 8)
    byCid.values.foreach { g =>
      assert(g.map(_.getInt(2)).toSet == (1 to 64).toSet, "full dimension")
    }
    val total = byCid.values.map(_.head.getLong(1)).sum
    val n = graft.util.Tables.load(spark, sf, "embeddings").count()
    assert(total == n, s"members $total != corpus $n")
  }

  test("llm_zipf_fit: alpha is positive (head-heavier than flat) on the corpus") {
    // The round-15 rebuild surfaces alpha = −slope and the
    // ln-space intercept; the shape contract carries over: a real
    // rank-frequency curve slopes DOWN, so alpha > 0.
    val r = graft.ops.corpus.Vocabulary.queries("llm_zipf_fit")(spark, sf).collect()(0)
    assert(r.getLong(0) >= r.getLong(1), "rank cap never exceeds vocab")
    assert(r.getDouble(2) > 0.0, s"alpha ${r.getDouble(2)}")
  }
}
