package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 sixth batch (SURVEY §2.33): local clustering, leaderboard
  * dynamics, template detection, growth decomposition.
  */
class Round18Spec extends AnyFunSuite {
  import TestSpark._

  test("graph_local_clustering: 10 deciles, cc in [0,1], degree rises with decile") {
    val rows = graft.ops.graph.Graph
      .queries("graph_local_clustering")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val cc = r.getDouble(3)
      assert(cc >= 0.0 && cc <= 1.0 + 1e-9, s"local cc $cc out of range")
    }
    val degs = rows.sortBy(_.getInt(0)).map(_.getDouble(2))
    assert(degs.zip(degs.tail).forall { case (a, b) => b >= a - 1e-9 },
      "mean degree must be non-decreasing across deciles")
  }

  test("win_rank_change: 20 rows per month past the first, delta arithmetic holds") {
    val rows = graft.ops.Composite17
      .queries("win_rank_change")(spark, sf).collect()
    val byMonth = rows.groupBy(_.getDate(0))
    assert(byMonth.values.forall(_.length <= 20))
    rows.filter(r => !r.isNullAt(4)).foreach { r =>
      assert(r.getInt(5) == r.getInt(4) - r.getInt(2),
        "delta must be prev_rk - rk")
    }
    rows.foreach(r => assert(r.getInt(2) >= 1 && r.getInt(2) <= 20))
  }

  test("llm_template_detect: rates bounded and templated <= docs") {
    val rows = graft.ops.corpus.Quality
      .queries("llm_template_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("llm_cluster_purity: clusters partition the corpus, purity >= 1/k") {
    val rows = graft.ops.retrieval.Geometry
      .queries("llm_cluster_purity")(spark, sf).collect()
    val total = graft.util.Tables.load(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1))
      val p = r.getDouble(4)
      assert(p > 0.0 && p <= 1.0)
      assert(math.abs(p - r.getLong(3).toDouble / r.getLong(1)) < 1e-6)
    }
  }

  test("evt_distribution_drift: shares sum to 1 on each side") {
    val rows = graft.ops.LlmOps15
      .queries("evt_distribution_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-4)
    rows.foreach(r => assert(
      math.abs(r.getDouble(5) - (r.getDouble(4) - r.getDouble(3))) < 1e-5))
  }

  test("agg_cvar: tail mean sits at or below the VaR threshold") {
    val r = graft.ops.timeseries.Indicators.queries("agg_cvar")(spark, sf).head
    assert(r.getLong(0) > 100)
    assert(r.getDouble(2) <= r.getDouble(1) + 1e-6,
      "CVaR must not exceed VaR")
    assert(r.getDouble(4) <= r.getDouble(2) + 1e-6,
      "the worst day bounds the tail mean from below")
  }

  test("llm_dataset_card: one consistent datasheet row") {
    val r = graft.ops.corpus.Stats.queries("llm_dataset_card")(spark, sf).head
    val nDocs = r.getLong(0)
    assert(nDocs == graft.util.Tables.load(spark, sf, "documents").count())
    assert(math.abs(r.getDouble(2) - r.getLong(1).toDouble / nDocs) < 1e-4,
      "mean tokens must equal n_tokens / n_docs")
    assert(r.getLong(4) > 0 && r.getLong(5) > 0)
    val dup = r.getDouble(6)
    assert(dup >= 0.0 && dup <= 1.0)
    // entropies bounded by log2(cardinality)
    assert(r.getDouble(7) <= math.log(r.getLong(4).toDouble) / math.log(2) + 1e-6)
    assert(r.getDouble(8) <= math.log(r.getLong(5).toDouble) / math.log(2) + 1e-6)
  }

  test("agg_growth_decompose: the three effects reconstruct d_rev") {
    val rows = graft.ops.Composite17
      .queries("agg_growth_decompose")(spark, sf).collect()
    assert(rows.length > 12)
    rows.foreach { r =>
      val dRev = r.getDouble(3)
      val sum = r.getDouble(4) + r.getDouble(5) + r.getDouble(6)
      assert(math.abs(dRev - sum) < 1e-3,
        s"effects $sum must reconstruct d_rev $dRev (identity up to rounding)")
    }
  }
}
