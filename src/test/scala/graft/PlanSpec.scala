package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression tests (SURVEY §4): the scale discipline —
  * which side broadcasts, what reaches the scan — asserted against
  * the executed plan so a refactor can't silently turn a broadcast
  * dim into a shuffle or lose pushdown. Complements the bucketed-join
  * no-exchange test in OpsSpec. */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def executed(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("llm_decontaminate: eval gram set broadcasts; training side never shuffles to probe") {
    val plan = executed("llm_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    // the training-side Generate (explode) feeds the join directly —
    // no exchange between them
    val beforeJoin = plan.split("BroadcastHashJoin")(1)
    assert(!beforeJoin.split("BroadcastExchange")(0).contains("Exchange hashpartitioning"),
      s"training side shuffles before the probe:\n$plan")
  }

  test("llm_simsearch_knn: query side broadcasts; corpus scan never shuffles") {
    val plan = executed("llm_simsearch_knn")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"knn join not broadcast:\n$plan")
  }

  test("sql_tpch_q5: all five dimension joins broadcast (fact side shuffles only for the agg)") {
    val plan = executed("sql_tpch_q5")
    val n = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(n >= 4, s"expected >=4 broadcast joins in Q5, got $n:\n$plan")
  }

  test("scan_parquet_pruned: only the two projected columns reach the parquet reader") {
    val df = SparkEntry.queries("scan_parquet_pruned")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning lost: $scan")
  }

  test("filter_compare: comparison predicates are pushed to the scan") {
    val df = SparkEntry.queries("filter_compare")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"no pushed filters in:\n$plan")
  }

  test("join_dpp: fact scan carries a dynamic partition pruning subquery") {
    val plan = executed("join_dpp")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$plan")
  }

  test("join_inequality_bnl: keyless band join plans as BroadcastNestedLoopJoin with the bands built") {
    val plan = executed("join_inequality_bnl")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"inequality join did not plan as BNLJ:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"inequality join fell back to a cartesian product:\n$plan")
  }

  test("sql_tpch_q15: the revenue max is a broadcast, not a second fact scan shuffle") {
    val plan = executed("sql_tpch_q15")
    val n = "BroadcastExchange".r.findAllIn(plan).length
    assert(n >= 2, s"expected max-row + supplier broadcasts in Q15:\n$plan")
  }

  test("join_range_bucketed: the band join plans as an EQUI join, not a nested loop") {
    val plan = executed("join_range_bucketed")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"band join degenerated to a product:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"no equi join in band-join plan:\n$plan")
  }

  test("agg_histogram: partial (map-side) aggregation before the bucket shuffle") {
    val plan = executed("agg_histogram")
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    // partial + final pair => map-side combine happened
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"no partial aggregation:\n$plan")
  }

  test("evt_funnel: every stage join keys on user_id (co-partitioned chain, no broadcast of the fact)") {
    val plan = executed("evt_funnel")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no join in funnel plan:\n$plan")
  }

  test("llm_lm_score: the vocabulary-sized LM broadcasts into the doc-bigram join") {
    val plan = executed("llm_lm_score")
    assert(plan.contains("BroadcastHashJoin"),
      s"LM join not broadcast:\n$plan")
  }

  test("agg_filtered: all four conditional measures run in ONE scan of the fact table") {
    val plan = executed("agg_filtered")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single lineitem scan, got $scans:\n$plan")
  }

  test("sql_tpch_q6: all three predicates reach the parquet scan") {
    val df = SparkEntry.queries("sql_tpch_q6")(spark, sf)
    df.count()
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(scan.contains("l_shipdate") && scan.contains("l_discount") &&
      scan.contains("l_quantity"), s"Q6 predicates not pushed:\n$scan")
  }

  test("sql_tpch_q18: the HAVING survivor set broadcasts into orders/customer") {
    val plan = executed("sql_tpch_q18")
    val n = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(n >= 2, s"expected both Q18 joins broadcast, got $n:\n$plan")
  }

  test("sql_join_hint: the BROADCAST hint forces a broadcast join from SQL") {
    val plan = executed("sql_join_hint")
    assert(plan.contains("BroadcastHashJoin"), s"hint ignored:\n$plan")
  }

  test("win_row_number_topk / llm_tfidf: rank filters plan as bounded WindowGroupLimit heaps") {
    // Spark's WindowGroupLimit pushdown turns rank()<=k filters into
    // partial+final per-group bounded heaps — at 100 TB this is the
    // difference between sorting every partition fully and keeping k
    // rows per group in memory. Pin it so a formulation change that
    // silently loses the rewrite (e.g. filtering on a derived column)
    // fails here.
    Seq("win_row_number_topk", "llm_tfidf").foreach { q =>
      val plan = executed(q)
      assert(plan.contains("WindowGroupLimit"), s"$q lost the group-limit pushdown:\n${plan.take(1500)}")
    }
  }

  test("scan_parquet_merge_schema: merged read keeps both generations' files") {
    val df = SparkEntry.queries("scan_parquet_merge_schema")(spark, sf)
    // the added column must be present and nullable across generations
    assert(df.schema.fieldNames.contains("l_extendedprice"))
    val n = df.count()
    val base = graft.util.Tables.load(spark, sf, "lineitem").count()
    assert(n == base, s"merged read lost rows: $n != $base")
  }

  test("graph/dedup heavies: multi-consumer subtrees sit behind a checkpoint boundary") {
    // The round-7 fix class: every node/edge-sized intermediate with
    // 2+ consumers is localCheckpoint()'d, so the executed plan reads
    // it back as an ExistingRDD scan instead of re-executing the
    // whole subtree per consumer (16.95 s -> ~4.7 s on
    // common_neighbors alone). Pin the boundary's presence so a
    // refactor that drops a checkpoint fails here, not in the bench.
    Seq("llm_dedup_threshold_sweep", "llm_dedup_ngram").foreach { q =>
      val plan = executed(q)
      assert(plan.contains("Scan ExistingRDD"),
        s"$q lost its checkpoint boundary:\n${plan.take(1500)}")
    }
    // r18: the triangle family reads its multi-consumer core from the
    // TriCore DiskMemo parquet views instead of per-query checkpoints
    // — the materialize-once invariant now shows up as parquet scans
    // over the per-run graft memo path, with NO checkpoint leaf and
    // NO lineitem rescan in the executed plan.
    // graph_local_clustering's tail runs through DistRank.globalNtile,
    // whose lazy checkpoint hides the upstream parquet scans behind an
    // ExistingRDD leaf — the no-lineitem assertion still pins that the
    // edge build is not re-run.
    Seq("graph_common_neighbors", "graph_triangle_count",
      "graph_assortativity", "graph_degree_dist", "agg_basket_lift").foreach { q =>
      val plan = executed(q)
      assert(plan.contains("/tmp/graft_"),
        s"$q no longer reads the DiskMemo parquet views:\n${plan.take(1500)}")
    }
    Seq("graph_common_neighbors", "graph_local_clustering",
      "graph_triangle_count", "graph_assortativity", "graph_degree_dist",
      "agg_basket_lift").foreach { q =>
      val plan = executed(q)
      assert(!plan.contains("lineitem"),
        s"$q re-runs the edge build instead of reading the memo:\n${plan.take(1500)}")
    }
  }

  test("llm_knn_classify: scored pairs are checkpointed AND spread over many partitions") {
    // Two pins in one: the scored-pair frame must sit behind a
    // checkpoint boundary (it feeds the identity + mirror branches),
    // and its partition count must be the explicit shuffle-partition
    // count — AQE sizes the tiny pre-join shuffle and would coalesce
    // to ONE task, blind to the xN nested-loop fan-out behind it
    // (measured 3.2 s single-task sort). An implicit repartition
    // (no count) silently re-introduces that cliff.
    import spark.implicits._
    val emb = (0 until 200).map { i =>
      (i.toLong, (0 until 64).map(d => math.sin(i * 64.0 + d).toFloat).toArray, i % 5)
    }.toDF("vec_id", "embedding", "label")
    val out = graft.ops.retrieval.Geometry.knnClassifyExact(emb)
    val plan = { out.count(); out.queryExecution.executedPlan.toString }
    assert(plan.contains("Scan ExistingRDD"),
      s"scored pairs lost their checkpoint boundary:\n${plan.take(1500)}")
    // reach the checkpointed RDD through the union's children: both
    // branches scan the same RDD; its partitioning must be the
    // session shuffle-partition count, not AQE's coalesced 1.
    // collectLeaves() stops at AQE/query-stage wrappers, so descend
    // manually.
    import org.apache.spark.sql.execution.{SparkPlan, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    val expected = spark.sessionState.conf.numShufflePartitions
    val rddScans = leaves(out.queryExecution.executedPlan)
      .collect { case r: RDDScanExec => r }
    assert(rddScans.nonEmpty, s"no RDD scan found:\n${plan.take(1500)}")
    rddScans.foreach { r =>
      assert(r.rdd.getNumPartitions == expected,
        s"scored RDD has ${r.rdd.getNumPartitions} partitions, expected $expected (AQE coalesce crept back)")
    }
  }

  test("agg_weighted_median: cumulative window reads the distinct-price aggregate, not the fact table") {
    // VERDICT r11 item 1: the window partitions by l_returnflag (3
    // values) — its input must be the (flag, price) hash aggregate,
    // never raw lineitem, or 3 reducers sort the whole fact table.
    // The per-flag total must arrive via a broadcast join, not a
    // second whole-partition window pass.
    val plan = executed("agg_weighted_median")
    val afterWindow = plan.split("Window", 2)
    assert(afterWindow.length == 2, s"no Window in plan:\n$plan")
    val windowSubtree = afterWindow(1).split("FileScan", 2)(0)
    assert(windowSubtree.contains("HashAggregate"),
      s"window input is not the pre-aggregated distinct-price relation:\n$plan")
    assert(windowSubtree.contains("l_extendedprice"),
      s"window-side aggregate lost the price grouping key:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-flag totals did not broadcast:\n$plan")
    // exactly one Window operator: the old wAll whole-partition pass is gone
    assert("Window\\b".r.findAllIn(plan).length == 1,
      s"more than one window pass survived:\n$plan")
  }

  test("win_holt_backtest: three window stages share one (type, d) sort") {
    // The two smoothing stages and the scoring lag all partition by
    // event_type and order by d over the daily COUNT aggregate —
    // Catalyst must stack them on a single Exchange+Sort. A second
    // sort/exchange between stages means a filter broke the
    // partitioning contract and every stage re-shuffles.
    val plan = executed("win_holt_backtest")
    assert("Window\\b".r.findAllIn(plan).length == 3,
      s"expected exactly 3 window stages:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, // one for the daily aggregate, one feeding the windows
      s"window stages re-shuffle ($exchanges hash exchanges):\n$plan")
    assert("Sort\\b".r.findAllIn(plan).length <= 2, // window sort + final orderBy
      s"window stages re-sort:\n$plan")
  }
}
