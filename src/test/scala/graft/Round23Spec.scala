package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 fourth batch (SURVEY §2.40): Hamming binary ANN, DiD,
  * ulcer index.
  */
class Round23Spec extends AnyFunSuite {
  import TestSpark._

  test("llm_simsearch_hamming: 10 ordered pairs, hamming within [0,64]") {
    val rows = graft.ops.retrieval.Search
      .queries("llm_simsearch_hamming")(spark, sf).collect()
    assert(rows.length == 10)
    val hs = rows.map(_.getLong(2))
    assert(hs.zip(hs.tail).forall { case (a, b) => a <= b },
      "ranked by hamming ascending")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs are (a < b) oriented")
      val h = r.getLong(2)
      assert(h >= 0 && h <= 64)
      assert(math.abs(r.getDouble(3) - (1.0 - h / 64.0)) < 1e-12)
    }
  }

  test("llm_simsearch_hamming: packing agrees with a direct sign count") {
    import spark.implicits._
    val e = graft.util.Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .toMap
    val rows = graft.ops.retrieval.Search
      .queries("llm_simsearch_hamming")(spark, sf).collect()
    rows.take(3).foreach { r =>
      val (a, b) = (e(r.getLong(0)), e(r.getLong(1)))
      val direct = a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
      assert(direct.toLong == r.getLong(2),
        "bit-packed hamming equals the elementwise sign disagreement")
    }
  }

  test("evt_diff_in_diff: CI brackets the estimate, arms partition users") {
    val rows =
      graft.ops.Composite23.queries("evt_diff_in_diff")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    assert(math.abs(r.getDouble(4) - (r.getDouble(3) - r.getDouble(2))) < 1e-9)
    assert(r.getDouble(5) >= 0.0)
    assert(r.getDouble(6) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(7))
  }

  test("win_ulcer_index: non-negative; zero exactly when window has no drawdown") {
    val rows =
      graft.ops.timeseries.Indicators.queries("win_ulcer_index")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0.0, "drawdown depth is non-negative")
      assert(r.getDouble(2) >= 0.0, "ulcer is an RMS")
    }
  }
}
