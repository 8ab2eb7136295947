package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 batch (SURVEY §2.37): connected components, sweep-line
  * concurrency, Bollinger bands, RSI, lifecycle accounting, discrete
  * percentiles, and neighborhood Jaccard.
  */
class Round20Spec extends AnyFunSuite {
  import TestSpark._

  test("graph_connected_components: labels partition all nodes") {
    val rows = graft.ops.graph.Graph
      .queries("graph_connected_components")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    // every node carries exactly one label, and a component's label
    // must itself be one of its member nodes (a min over node ids)
    val edges = graft.ops.graph.CoPurchase.coPurchaseEdges(spark, sf)
    val nNodes = edges.select("src").distinct().count()
    assert(total == nNodes)
    rows.foreach(r => assert(r.getLong(1) >= 1))
  }

  test("evt_concurrency_peak: peak is positive and <= type volume") {
    val rows = graft.ops.Composite20
      .queries("evt_concurrency_peak")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1, "at least one interval is always open")
      assert(r.getTimestamp(2) != null)
    }
  }

  test("win_bollinger: bands bracket the mid, breakouts genuine") {
    val rows =
      graft.ops.timeseries.Indicators.queries("win_bollinger")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rev, mid, sigma, up, lo, out) = (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))
      assert(sigma >= 0.0)
      assert(up >= mid && lo <= mid)
      assert(out == (rev > up || rev < lo))
    }
  }

  test("win_rsi: bounded to [0, 100] and consistent with averages") {
    val rows = graft.ops.timeseries.Indicators.queries("win_rsi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ag, al, rsi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(ag >= 0.0 && al >= 0.0)
      assert(rsi >= 0.0 && rsi <= 100.0)
      if (al > 0.0)
        assert(math.abs(rsi - (100.0 - 100.0 / (1.0 + ag / al))) < 1e-9)
    }
  }

  test("evt_lifecycle_state: states sum to actives; first week all new") {
    val rows = graft.ops.Composite20
      .queries("evt_lifecycle_state")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        "active = new + retained + resurrected")
      assert(r.getLong(5) >= 0, "churn cannot be negative")
    }
    val first = rows.minBy(_.getDate(0).getTime)
    assert(first.getLong(1) == first.getLong(2),
      "the first week has no history: everyone is new")
  }

  test("agg_percentile_disc: ordered and real data points") {
    val rows = graft.ops.Composite20
      .queries("agg_percentile_disc")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2) &&
        r.getDouble(2) <= r.getDouble(3), "p25 <= p50 <= p75")
    }
  }

  test("graph_common_neighbors: jaccard in (0,1], arithmetic holds") {
    val rows = graft.ops.graph.Graph
      .queries("graph_common_neighbors")(spark, sf).collect()
    assert(rows.length == 10)
    val js = rows.map(_.getDouble(5))
    assert(js.zip(js.tail).forall { case (a, b) => a >= b },
      "ranked by jaccard descending")
    rows.foreach { r =>
      val (cn, da, db, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(j > 0.0 && j <= 1.0)
      assert(math.abs(j - cn.toDouble / (da + db - cn).toDouble) < 1e-12)
    }
  }
}
