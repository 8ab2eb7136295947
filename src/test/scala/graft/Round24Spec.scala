package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 fifth batch (SURVEY §2.41): mix-shift decomposition and
  * the dedup threshold sweep.
  */
class Round24Spec extends AnyFunSuite {
  import TestSpark._

  test("agg_mix_shift: effects reconstruct the contribution change; shares sum to 1") {
    val rows =
      graft.ops.Composite24.queries("agg_mix_shift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w0, w1, m0, m1) = (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))
      val total = w1 * m1 - w0 * m0
      // mix + rate differs from total only by the interaction term
      // (Δw·Δm), which the w1-weighted rate effect absorbs exactly
      assert(math.abs((r.getDouble(5) + r.getDouble(6)) - total) < 1e-9)
    }
    assert(math.abs(rows.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
  }

  test("llm_dedup_threshold_sweep: counts are monotone non-increasing in threshold") {
    val rows = graft.ops.dedup.NearDup
      .queries("llm_dedup_threshold_sweep")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byT = rows.sortBy(_.getDouble(0))
    byT.zip(byT.tail).foreach { case (a, b) =>
      assert(b.getLong(1) <= a.getLong(1), "pairs shrink as the bar rises")
      assert(b.getLong(2) <= a.getLong(2), "docs shrink as the bar rises")
    }
    byT.foreach { r =>
      assert(r.getLong(2) >= 2 || r.getLong(1) == 0,
        "any flagged pair implicates at least two documents")
    }
  }

  test("llm_dedup_threshold_sweep: its 0.5 point is llm_dedup_ngram's pair set") {
    val sweep = graft.ops.dedup.NearDup
      .queries("llm_dedup_threshold_sweep")(spark, sf).collect()
    val ngram = SparkEntry.queries("llm_dedup_ngram")(spark, sf).collect()
    assert(ngram.nonEmpty, "the corpus has no bigram-Jaccard pair at 0.5")
    val at05 = sweep.filter(_.getDouble(0) == 0.5)
    assert(at05.length == 1)
    assert(at05.head.getLong(1) == ngram.length)
    assert(at05.head.getLong(2) ==
      ngram.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length)
  }
}
