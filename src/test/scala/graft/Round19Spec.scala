package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 eighth batch (SURVEY §2.35): ship-delay SLA, adoption
  * curve, score-vs-dup calibration — plus plan-shape assertions for
  * the round's heavy operators.
  */
class Round19Spec extends AnyFunSuite {
  import TestSpark._

  test("agg_ship_delay: percentiles are ordered and shares bounded") {
    val rows =
      graft.ops.Composite18.queries("agg_ship_delay")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4),
        "p50 <= p90 <= p99")
      val ls = r.getDouble(5)
      assert(ls >= 0.0 && ls <= 1.0)
    }
  }

  test("win_adoption_curve: monotone to exactly 1.0") {
    val rows =
      graft.ops.Composite18.queries("win_adoption_curve")(spark, sf).collect()
    assert(rows.nonEmpty)
    val ad = rows.map(_.getDouble(3))
    assert(ad.zip(ad.tail).forall { case (a, b) => b >= a },
      "adoption share must be non-decreasing")
    assert(math.abs(ad.last - 1.0) < 1e-9,
      "the final day must reach the full population")
    assert(rows.map(_.getLong(1)).sum == rows.last.getLong(2))
  }

  test("llm_score_vs_dup: 10 deciles, TTR monotone across deciles") {
    val rows =
      graft.ops.dedup.Keys.queries("llm_score_vs_dup")(spark, sf).collect()
    assert(rows.length == 10)
    val ttrs = rows.sortBy(_.getLong(0)).map(_.getDouble(2))
    assert(ttrs.zip(ttrs.tail).forall { case (a, b) => b >= a - 1e-9 },
      "mean TTR must rise with the TTR decile")
    rows.foreach { r =>
      val dr = r.getDouble(3)
      assert(dr >= 0.0 && dr <= 1.0)
    }
  }

  test("evt_anomaly_stl: every flagged day genuinely exceeds 3 sigma") {
    val rows =
      graft.ops.timeseries.Patterns.queries("evt_anomaly_stl")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getDouble(5) > 3.0, "sigma must exceed the 3.0 fence")
      // residual = c - trend - seasonal (up to independent rounding)
      val recon = r.getLong(1) - r.getDouble(2) - r.getDouble(3)
      assert(math.abs(recon - r.getDouble(4)) < 1e-3)
    }
  }

  test("agg_basket_lift: support and lift arithmetic hold") {
    val rows =
      graft.ops.Composite19.queries("agg_basket_lift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val nab = r.getLong(2); val na = r.getLong(3); val nb = r.getLong(4)
      assert(nab >= 5, "min-support prune")
      assert(nab <= math.min(na, nb), "joint support bounded by marginals")
      assert(r.getDouble(5) > 0.0)
    }
    val lifts = rows.map(_.getDouble(5))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => b <= a },
      "rows must arrive lift-descending")
  }

  test("llm_centroid_outliers: 10 ascending-cosine rows") {
    val rows = graft.ops.retrieval.Geometry
      .queries("llm_centroid_outliers")(spark, sf).collect()
    assert(rows.length == 10)
    val cs = rows.map(_.getDouble(2))
    assert(cs.zip(cs.tail).forall { case (a, b) => b >= a },
      "outliers must arrive worst-first")
    cs.foreach(c => assert(math.abs(c) <= 1.0 + 1e-6))
  }

  test("plan shapes: hard-negative ranking is WindowGroupLimit-pushed") {
    val plan = graft.ops.retrieval.Search.queries("llm_hard_negatives")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "the rank<=5 filter must prune each query's sort")
  }

  test("plan shapes: label propagation shuffles (no dim broadcast assumption)") {
    val plan = graft.ops.graph.Graph.queries("graph_label_prop")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      "the edges-to-part join must be a shuffle join at corpus scale")
  }

  test("plan shapes: leaderboard windows are WindowGroupLimit-pushed") {
    val plan = graft.ops.Composite17.queries("win_rank_change")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "both rank filters must prune the monthly sorts")
  }
}
