package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 third batch (SURVEY §2.39): calendar dimension,
  * source interleaving, LOO target encoding, power analysis.
  */
class Round22Spec extends AnyFunSuite {
  import TestSpark._

  test("scan_date_dim: contiguous daily coverage, sane calendar fields") {
    val rows =
      graft.ops.Composite22.queries("scan_date_dim")(spark, sf).collect()
    assert(rows.nonEmpty)
    val days = rows.map(_.getDate(0).toLocalDate)
    days.zip(days.tail).foreach { case (a, b) =>
      assert(b == a.plusDays(1), "calendar must be gap-free")
    }
    rows.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 7)
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 12)
      assert(r.getInt(4) >= 1 && r.getInt(4) <= 4)
      val d = r.getDate(0).toLocalDate
      assert(r.getBoolean(6) == (d == d.withDayOfMonth(d.lengthOfMonth)))
    }
  }

  test("llm_interleave_sources: positions 1..50, sources rotate before repeating") {
    val rows = graft.ops.corpus.Sampling
      .queries("llm_interleave_sources")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).sorted.sameElements(1 to rows.length))
    val nSources = rows.map(_.getString(1)).distinct.length
    // within each full rotation block, every source appears once
    rows.grouped(nSources).foreach { block =>
      if (block.length == nSources)
        assert(block.map(_.getString(1)).distinct.length == nSources)
    }
  }

  test("agg_target_encode_loo: loo extremes bracket the mean") {
    val rows = graft.ops.Composite22
      .queries("agg_target_encode_loo")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2) + 1e-9, "min_loo <= mean")
      assert(r.getDouble(4) >= r.getDouble(2) - 1e-9, "max_loo >= mean")
    }
  }

  test("agg_power_mde: p in (0,1], MDE shrinks as reach approaches 1/2 symmetry") {
    val rows =
      graft.ops.Composite22.queries("agg_power_mde")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getDouble(3)
      assert(p > 0.0 && p <= 1.0)
      val expected = 2.8 * math.sqrt(2.0 * p * (1.0 - p) /
        (r.getLong(2).toDouble / 2.0))
      assert(math.abs(r.getDouble(4) - expected) < 1e-12)
    }
  }
}
