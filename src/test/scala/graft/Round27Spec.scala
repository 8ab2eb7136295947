package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 (driver round) regression guards for the perf-repair work:
  *
  *  - the symmetric co-purchase edge list must be TWO projections of
  *    ONE materialized half-edge build (ADVICE r7: ReuseExchange was
  *    relied on for this and did not fire under AQE — every
  *    symmetric-graph consumer re-ran the groupBy+explode+distinct
  *    subtree per union branch);
  *
  *  - the bench's between-queries cleanup (clearCache + unpersist-all)
  *    must not change what any query computes — i.e. no query may
  *    depend on cross-invocation persisted state (the invariant the
  *    Bench.scala comment documents; ADVICE r7 asked for it to fail
  *    loudly instead of being silently mistimed).
  */
class Round27Spec extends AnyFunSuite {
  import TestSpark._

  test("coPurchaseEdges: both union branches read the SAME materialized half build") {
    // r18: the half build is a DiskMemo parquet view, so "one
    // materialization, two projections" now means two parquet scan
    // leaves over the SAME file location — the build subtree
    // (groupBy + explode + distinct) must not appear in either branch.
    val edges = graft.ops.graph.CoPurchase.coPurchaseEdges(spark, sf)
    val leaves = edges.queryExecution.optimizedPlan.collectLeaves()
    val locs = leaves.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    assert(locs.length == 2,
      s"expected 2 parquet scan leaves (memoized half, twice), got ${leaves.mkString("; ")}")
    assert(locs.distinct.length == 1,
      s"union branches scan DIFFERENT materializations: $locs")
    assert(leaves.collectFirst { case l: LogicalRDD => l }.isEmpty,
      "no checkpointed RDD leaf expected under the DiskMemo edge view")
  }

  test("queries are invariant to the bench's between-queries cleanup") {
    // The three shapes most tempted to lean on cross-invocation
    // state: an explicit .cache() user, an iterative persist loop,
    // and a localCheckpoint-heavy multi-consumer build.
    for (name <- Seq("cache_reuse", "graph_connected_components",
        "llm_dedup_cluster")) {
      val first = SparkEntry.queries(name)(spark, sf).collect().toSeq
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val second = SparkEntry.queries(name)(spark, sf).collect().toSeq
      assert(first == second,
        s"$name changed across the bench cleanup boundary")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
  }

  test("graph_connected_components_conv: fixpoint labels partition every node") {
    val conv = SparkEntry.queries("graph_connected_components_conv")(spark, sf)
      .collect()
    assert(conv.nonEmpty)
    val nNodes = graft.ops.graph.CoPurchase.coPurchaseEdges(spark, sf)
      .select("src").distinct().count()
    assert(conv.map(_.getLong(1)).sum == nNodes,
      "component sizes must sum to the node count")
    // every component label is the component's own minimum node id —
    // a label that were not a member would violate min-label semantics
    assert(conv.map(_.getLong(0)).distinct.length == conv.length)
  }

  test("dq_constraint_check: one row per declared constraint, counts non-negative") {
    val rows = SparkEntry.queries("dq_constraint_check")(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getString(0)).distinct.length == 10)
    assert(rows.forall(_.getLong(1) >= 0))
  }

  test("dq_uniqueness_audit: surfaces the known lineitem composite-key duplicates") {
    val rows = SparkEntry.queries("dq_uniqueness_audit")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.size == 10)
    // declared-unique single-column keys hold in this corpus
    for ((e, (n, k, d)) <- rows if e != "lineitem.l_orderkey+l_linenumber") {
      assert(d == 0 && n == k, s"$e expected unique, got $n rows / $k keys")
    }
    // the documented non-unique tuple must show a NON-zero dup count
    // (Tables.lineitemCols note) — an audit that can't see it is broken
    val (n, k, d) = rows("lineitem.l_orderkey+l_linenumber")
    assert(d > 0 && d == n - k, s"expected duplicates, got $n/$k/$d")
  }

  test("dq_freshness: freshest type has lag 0; trailing window bounded by total") {
    val rows = SparkEntry.queries("dq_freshness")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(3) == 0L), "some type must carry the corpus max")
    assert(rows.forall(r => r.getLong(4) <= r.getLong(1)))
    assert(rows.forall(r => r.getLong(3) >= 0L))
  }

  test("llm_dedup_near_verified and llm_dedup_near share one result surface") {
    val a = SparkEntry.queries("llm_dedup_near")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("llm_dedup_near_verified")(spark, sf).collect().toSeq
    assert(a == b, "twin rows must stay plan-identical")
  }

  test("evt_session_stats: session count consistent with evt_session_window") {
    // Same gap rule, different builder (session_window vs lag+cumsum):
    // the session COUNT must agree. (session_window closes a session
    // when the next event is MORE than 30 min after the previous —
    // the same > predicate as the lag rule.)
    val stats = SparkEntry.queries("evt_session_stats")(spark, sf).collect()(0)
    val viaWindow = SparkEntry.queries("evt_session_window")(spark, sf).count()
    assert(stats.getLong(0) == viaWindow,
      s"lag+cumsum sessions ${stats.getLong(0)} != session_window $viaWindow")
    assert(stats.getLong(1) > 0 && stats.getDouble(2) >= 1.0)
  }

  test("agg_geometric_mean: geo <= arithmetic, harm <= geo (AM-GM-HM)") {
    val rows = SparkEntry.queries("agg_geometric_mean")(spark, sf).collect()
    assert(rows.nonEmpty)
    val arith = graft.util.Tables.load(spark, sf, "part")
      .filter(col("p_retailprice") > 0)
      .groupBy(col("p_brand")).agg(avg(col("p_retailprice")).as("am"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val (geo, harm) = (r.getDouble(2), r.getDouble(3))
      assert(harm <= geo + 1e-6 && geo <= arith(r.getString(0)) + 1e-6,
        s"AM-GM-HM violated for ${r.getString(0)}")
    }
  }

  test("llm_token_histogram: buckets partition the corpus; bounds inside bucket range") {
    val rows = SparkEntry.queries("llm_token_histogram")(spark, sf).collect()
    val nDocs = graft.util.Tables.load(spark, sf, "documents")
      .filter(size(split(col("text"), " ")) >= 1).count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    rows.foreach { r =>
      val (b, mn, mx) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(mn >= (1L << b) && mx < (1L << (b + 1)),
        s"bucket $b bounds [$mn,$mx] outside [2^$b, 2^${b + 1})")
    }
  }

  test("win_macd: a constant series yields zero macd/signal/histogram") {
    import spark.implicits._
    val const = Seq.tabulate(60)(i => ("X", f"2024-01-${i % 28 + 1}%02dT${i / 28}", 100.0))
      .map { case (n, d, x) => (n, d, x) }
      .toDF("n_name", "day", "x")
      .select(col("n_name"),
        to_timestamp(col("day"), "yyyy-MM-dd'T'H").as("day"), col("x"))
    const.createOrReplaceTempView("graft_macd_daily")
    val out = spark.sql(graft.ops.timeseries.Indicators.macdSqlForTest).collect()
    assert(out.nonEmpty)
    // truncated-kernel EMA of a constant is that constant (weights
    // renormalize), so macd == signal == histogram == 0 everywhere
    assert(out.forall(r =>
      r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0))
  }

  test("dq_constraint_check: ONE lineitem scan feeds all 7 lineitem constraints") {
    // The §2.44 claim: the naive plan rescans the fact per constraint;
    // this one must read lineitem exactly once.
    val df = SparkEntry.queries("dq_constraint_check")(spark, sf)
    // count SCAN nodes (file path mentions), not column-name echoes —
    // the constraint aliases themselves contain the word "lineitem"
    val plan = df.queryExecution.executedPlan.toString
    val scans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(scans >= 1, s"no lineitem scan found:\n${plan.take(1500)}")
    assert(scans <= 2, // path may appear in both Location and ReadSchema lines
      s"lineitem scanned more than once ($scans path mentions):\n${plan.take(3000)}")
  }

  test("evt_window_funnel: levels partition users; monotone level counts vs evt_funnel") {
    val rows = SparkEntry.queries("evt_window_funnel")(spark, sf).collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val nUsers = graft.util.Tables.loadEvents(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.values.sum == nUsers, "levels must partition the user base")
    // the 1-hour-constrained funnel can never pass MORE users than the
    // unconstrained evt_funnel at each stage
    val loose = SparkEntry.queries("evt_funnel")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def reached(l: Long) = rows.filter(_._1 >= l).values.sum
    assert(reached(1) <= loose("1_view"))
    assert(reached(2) <= loose("2_click"))
    assert(reached(3) <= loose("3_purchase"))
  }

  test("agg_skyline: frontier is mutually non-dominated (strictly staircase-shaped)") {
    val rows = SparkEntry.queries("agg_skyline")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getDate(1).toLocalDate))
    assert(rows.nonEmpty)
    // ordered by price DESC: a valid 2-D skyline must have STRICTLY
    // increasing dates — any non-increase means one point dominates
    // its neighbour
    rows.sliding(2).foreach {
      case Array((p1, d1), (p2, d2)) =>
        assert(p1 > p2 || (p1 == p2 && d1.isAfter(d2)),
          "ordering broken")
        assert(d2.isAfter(d1), s"($p2,$d2) dominated by ($p1,$d1)")
      case _ => ()
    }
    // and the global max-price / max-date points are always on it
    val pts = graft.util.Tables.load(spark, sf, "orders")
      .agg(max(col("o_totalprice")), max(col("o_orderdate").cast("date")))
      .collect()(0)
    assert(rows.head._1 == pts.getDouble(0))
    assert(rows.last._2 == pts.getDate(1).toLocalDate)
  }

  test("evt_churn_risk: everyone surfaced is >1 day stale; counts bounded") {
    val rows = SparkEntry.queries("evt_churn_risk")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nUsers = graft.util.Tables.loadEvents(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum <= nUsers)
    rows.foreach { r =>
      assert(r.getDouble(2) > 1.0 && r.getDouble(3) >= r.getDouble(2))
    }
  }

  test("llm_doc_length_by_source: quantiles ordered; doc counts partition corpus") {
    val rows = SparkEntry.queries("llm_doc_length_by_source")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.util.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    rows.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4),
        s"p10<=p50<=p90 violated for ${r.getString(0)}")
    }
  }

  test("evt_error_rate_hourly: rates in [0,1]; events partition by hour") {
    val rows = SparkEntry.queries("evt_error_rate_hourly")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 24)
    val nEvents = graft.util.Tables.loadEvents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nEvents)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("evt_transition_time: transition counts match evt_markov_chain-style totals") {
    val rows = SparkEntry.queries("evt_transition_time")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Σ transitions = Σ_users (n_events - 1): every event except each
    // user's first is the target of exactly one transition.
    val e = graft.util.Tables.loadEvents(spark, sf)
    val expected = e.count() - e.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == expected)
    assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(4) >= 0.0))
  }

  test("win_rolling_skew: a symmetric two-point frame has zero skewness") {
    // Sanity against the closed form: alternating {a, b} values give
    // sample skewness 0 for any even frame. Use the real query's
    // generated SQL over a synthetic view.
    import spark.implicits._
    Seq.tabulate(40)(i => ("Z", i, if (i % 2 == 0) 100.0 else 300.0))
      .toDF("n_name", "i", "x")
      .select(col("n_name"),
        expr("timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, i, 0, 0)")
          .as("day"),
        col("x"))
      .createOrReplaceTempView("graft_skew_daily")
    val out = spark.sql(graft.ops.timeseries.Indicators.rollingSkewSqlForTest).collect()
    // even-length frames alternate exactly; check the full-30 frames
    val full = out.filter(_.getLong(2) == 30)
    assert(full.nonEmpty)
    assert(full.forall(r => math.abs(r.getDouble(4)) < 1e-6),
      "even alternating frame must have ~0 skewness")
  }

  test("llm_vocab_coverage_curve: monotone non-decreasing, bounded by 1") {
    val rows = SparkEntry.queries("llm_vocab_coverage_curve")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 3)
    val cov = rows.sortBy(_.getLong(0)).map(_.getDouble(2))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(cov.forall(c => c > 0.0 && c <= 1.0))
  }

  test("win_stochastic: pct_k bounded in [0, 100]; pct_d within pct_k hull") {
    val rows = SparkEntry.queries("win_stochastic")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filterNot(_.isNullAt(2)).foreach { r =>
      val k = r.getDouble(2)
      assert(k >= -1e-9 && k <= 100.0 + 1e-9, s"pct_k out of range: $k")
    }
  }
}
