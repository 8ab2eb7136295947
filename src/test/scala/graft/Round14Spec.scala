package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 operators (SURVEY §2.25): CUSUM changepoint, A/B lift,
  * bot detection, span masking, Heaps-law fit.
  */
class Round14Spec extends AnyFunSuite {
  import TestSpark._

  test("evt_changepoint: split means bracket the break and CUSUM is positive") {
    val r = graft.ops.Composite11.queries("evt_changepoint")(spark, sf).head
    assert(r.getLong(0) > 100, "needs a long series")
    assert(r.getDouble(2) > 0.0, "max |CUSUM| must be positive")
    // the two side means must both be positive daily counts
    assert(r.getDouble(3) > 0.0 && r.getDouble(4) > 0.0)
  }

  test("evt_ab_lift: arms partition users and rates are proper proportions") {
    val r = graft.ops.Composite11.queries("evt_ab_lift")(spark, sf).head
    val users = graft.util.Tables.loadEvents(spark, sf)
      .select(countDistinct(col("user_id"))).head.getLong(0)
    assert(r.getLong(0) + r.getLong(1) == users, "arms must partition users")
    assert(r.getLong(2) <= r.getLong(0) && r.getLong(3) <= r.getLong(1))
    Seq(r.getDouble(4), r.getDouble(5)).foreach(p =>
      assert(p > 0.0 && p < 1.0, s"degenerate proportion $p"))
  }

  test("evt_bot_detection: flagged users genuinely exceed a threshold") {
    val rows = graft.ops.Composite11.queries("evt_bot_detection")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      assert(r.getDouble(3) > 0.0, "epm must be positive")
    }
  }

  test("llm_span_mask: mask rate is near 26/256 and deterministic across runs") {
    val q = graft.ops.corpus.Features.queries("llm_span_mask")
    val a = q(spark, sf).collect()
    val masked = a.map(_.getLong(2)).sum.toDouble
    val total = a.map(_.getLong(1)).sum.toDouble
    val rate = masked / total
    assert(rate > 0.06 && rate < 0.14, s"mask rate $rate far from 26/256")
    val b = q(spark, sf).collect()
    assert(a.map(_.getString(3)).toSeq == b.map(_.getString(3)).toSeq,
      "checksums must be identical run to run")
  }

  test("llm_heaps_fit: sublinear growth with a positive coefficient") {
    val r = graft.ops.corpus.Vocabulary.queries("llm_heaps_fit")(spark, sf).head
    assert(r.getLong(0) >= 10, "needs enough prefix points")
    val beta = r.getDouble(1)
    assert(beta > 0.0 && beta < 1.0, s"Heaps beta $beta must be in (0,1)")
    assert(r.getDouble(2) > 0.0, "k must be positive")
  }
}
