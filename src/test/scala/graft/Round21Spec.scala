package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 second batch (SURVEY §2.38): MMR re-ranking, CUPED,
  * delta-method ratio CI, VWAP, and the unit-value price index.
  */
class Round21Spec extends AnyFunSuite {
  import TestSpark._

  test("llm_mmr_rerank: 5 distinct picks per query, seed is the top hit") {
    val rows =
      graft.ops.retrieval.Search.queries("llm_mmr_rerank")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, picks) =>
      assert(picks.length == 5)
      assert(picks.map(_.getInt(1)).sorted.sameElements(1 to 5))
      assert(picks.map(_.getLong(2)).distinct.length == 5,
        "picks must be distinct vectors")
      val seed = picks.minBy(_.getInt(1))
      assert(picks.forall(_.getDouble(3) <= seed.getDouble(3)),
        "the seed is the most query-similar candidate")
    }
  }

  test("evt_uplift_cuped: two arms, adjusted means preserve the pooled mean direction") {
    val rows =
      graft.ops.Composite21.queries("evt_uplift_cuped")(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
      assert(!r.getDouble(4).isNaN, "theta must be finite")
    }
  }

  test("agg_delta_method_ratio_ci: CI brackets the point estimate") {
    val rows = graft.ops.Composite21
      .queries("agg_delta_method_ratio_ci")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getDouble(2) >= 0.0, "se must be non-negative")
    assert(r.getDouble(3) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(4))
  }

  test("win_vwap: positive and within the day-price envelope") {
    val rows = graft.ops.Composite21.queries("win_vwap")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) > 0.0)
      assert(r.getDouble(2) > 0.0)
    }
  }

  test("agg_price_index: base year index is exactly 1.0 per brand") {
    val rows =
      graft.ops.Composite21.queries("agg_price_index")(spark, sf).collect()
    assert(rows.nonEmpty)
    val baseYr = rows.map(_.getInt(1)).min
    rows.filter(_.getInt(1) == baseYr).foreach { r =>
      assert(r.getDouble(3) == 1.0, "uv/uv0 of the base year is exactly 1")
    }
    rows.foreach(r => assert(r.getDouble(2) > 0.0))
  }
}
