package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 fourth batch (SURVEY §2.31): k-core peels, robust means,
  * error burn, seasonal decomposition.
  */
class Round17Spec extends AnyFunSuite {
  import TestSpark._

  test("graph_kcore: node and edge counts shrink monotonically over peels") {
    val rows = graft.ops.graph.Graph.queries("graph_kcore")(spark, sf).collect()
    assert(rows.length == 5)
    val nodes = rows.map(_.getLong(1))
    val edges = rows.map(_.getLong(2))
    assert(nodes.zip(nodes.tail).forall { case (a, b) => b <= a },
      "peeling can never add nodes back")
    assert(edges.zip(edges.tail).forall { case (a, b) => b <= a },
      "peeling can never add edges back")
    // directed-symmetric edge list: every survivor has degree >= 1
    rows.filter(_.getLong(1) > 0)
      .foreach(r => assert(r.getLong(2) >= r.getLong(1)))
  }

  test("kcoreOn: a tail peels off a clique over two rounds (non-converged path)") {
    import spark.implicits._
    // K4 clique {1,2,3,4} + pendant chain 4-5, 5-6: deg(6)=1, deg(5)=2
    // → round 1 removes both (k=3), round 2 is the stable K4.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = und.toDF("src", "dst")
      .union(und.map(_.swap).toDF("src", "dst"))
    val rows = Graft.kcore(edges, k = 3, rounds = 3)
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 3)
    // round 1: survivors of full-graph degrees = {1,2,3,4} (deg 3,3,3,4)
    // — edges among them = the K4 = 12 directed rows
    assert(rows(0).getLong(1) == 4 && rows(0).getLong(2) == 12)
    // rounds 2..3: fixed point repeats via the short-circuit
    assert(rows(1).getLong(1) == 4 && rows(2).getLong(2) == 12)
  }

  test("agg_winsorized: robust means sit inside the clamp bounds") {
    val rows =
      graft.ops.Composite15.queries("agg_winsorized")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p05 = r.getDouble(2); val p95 = r.getDouble(3)
      val wm = r.getDouble(4); val tm = r.getDouble(5)
      assert(p05 < p95)
      assert(wm >= p05 - 1e-6 && wm <= p95 + 1e-6)
      assert(tm >= p05 - 1e-6 && tm <= p95 + 1e-6)
    }
  }

  test("evt_error_burn: rates bounded, fast-burn implies above 2x baseline") {
    val rows =
      graft.ops.Composite15.queries("evt_error_burn")(spark, sf).collect()
    assert(rows.nonEmpty)
    val baseline = rows.map(_.getLong(2)).sum.toDouble /
      rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
      if (r.getBoolean(4))
        assert(rate > 2.0 * baseline - 1e-9,
          "flagged hour must actually burn above 2x baseline")
    }
  }

  test("graph_assortativity: r is a proper correlation on a symmetric graph") {
    val r = graft.ops.graph.Graph
      .queries("graph_assortativity")(spark, sf).head
    assert(r.getLong(0) > 0)
    assert(math.abs(r.getDouble(1)) <= 1.0 + 1e-6)
  }

  test("llm_dedup_cross_source: unordered pairs, counts consistent") {
    val rows = graft.ops.Composite16
      .queries("llm_dedup_cross_source")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs must be ordered")
      assert(r.getLong(3) >= r.getLong(2),
        "doc pairs dominate hash count (each hash has >= 1 pair)")
    }
  }

  test("evt_new_vs_returning: day-1 users are all new; shares bounded") {
    val rows = graft.ops.Composite16
      .queries("evt_new_vs_returning")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.head.getLong(2) == 0, "nobody can return on the first day")
    assert(math.abs(rows.head.getDouble(3) - 1.0) < 1e-9)
    rows.foreach { r =>
      val sh = r.getDouble(3)
      assert(sh >= 0.0 && sh <= 1.0)
    }
  }

  test("win_year_over_year: growth arithmetic reconstructs the counts") {
    val rows = graft.ops.Composite16
      .queries("win_year_over_year")(spark, sf).collect()
    assert(rows.length > 12, "multi-year horizon must yield many YoY rows")
    rows.foreach { r =>
      val n = r.getLong(1); val pn = r.getLong(2)
      assert(math.abs(r.getDouble(3) - (n - pn).toDouble / pn) < 1e-6)
    }
  }

  test("win_seasonal_decompose: 7 weekday indices that sum to ~0") {
    val rows = graft.ops.Composite15
      .queries("win_seasonal_decompose")(spark, sf).collect()
    assert(rows.length == 7)
    // additive seasonal indices over a long horizon nearly cancel:
    // weight by day counts to undo uneven weekday representation
    val weighted = rows.map(r => r.getDouble(2) * r.getLong(1)).sum
    val total = rows.map(_.getLong(1)).sum
    assert(math.abs(weighted / total) < 1.0,
      "weighted mean seasonal index must be near zero")
    rows.foreach(r => assert(r.getDouble(3) >= 0.0))
  }
}
