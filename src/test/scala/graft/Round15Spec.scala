package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 operators (SURVEY §2.26): HHI concentration, categorical
  * entropy, DAU/WAU stickiness, Mann–Kendall trend, Theil–Sen slope,
  * label propagation.
  */
class Round15Spec extends AnyFunSuite {
  import TestSpark._

  test("agg_hhi: bounds 1/n <= HHI <= 1 and eff_n is its reciprocal") {
    val rows = graft.ops.Composite12.queries("agg_hhi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val hhi = r.getDouble(2); val effN = r.getDouble(3)
      assert(hhi >= 1.0 / n - 1e-6 && hhi <= 1.0 + 1e-9,
        s"HHI $hhi outside [1/$n, 1]")
      assert(math.abs(effN * hhi - 1.0) < 1e-3,
        "eff_n must be ~1/HHI (both independently 6-dp rounded)")
    }
  }

  test("agg_entropy: 0 < H <= log2(n_hours) and uniformity in (0, 1]") {
    val rows = graft.ops.Composite12.queries("agg_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nh = r.getLong(2); val h = r.getDouble(3); val u = r.getDouble(4)
      assert(h > 0.0 && h <= math.log(nh.toDouble) / math.log(2.0) + 1e-6)
      assert(u > 0.0 && u <= 1.0 + 1e-9)
    }
  }

  test("evt_dau_wau: WAU >= DAU, stickiness in (0, 1], every active day present") {
    val rows = graft.ops.Composite12.queries("evt_dau_wau")(spark, sf).collect()
    val activeDays = graft.util.Tables.loadEvents(spark, sf)
      .select(to_date(col("ts"))).distinct().count()
    assert(rows.length == activeDays, "one output row per active day")
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "WAU must dominate DAU")
      val st = r.getDouble(3)
      assert(st > 0.0 && st <= 1.0 + 1e-9, s"stickiness $st outside (0,1]")
    }
  }

  test("win_mann_kendall: |S| bounded by pair count and Z sign follows S") {
    val rows =
      graft.ops.Composite12.queries("win_mann_kendall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val s = r.getLong(2); val z = r.getDouble(4)
      assert(n >= 10, "filter must drop short series")
      assert(math.abs(s) <= n * (n - 1) / 2, "|S| bounded by C(n,2)")
      assert(s.sign == 0 || z.sign.toLong == s.sign || z == 0.0,
        s"Z $z must carry S's sign ($s)")
    }
  }

  test("agg_theil_sen: pair count is C(n,2) and slope is finite") {
    val r = graft.ops.timeseries.Stationarity.queries("agg_theil_sen")(spark, sf).head
    val n = r.getLong(0); val pairs = r.getLong(1)
    assert(pairs == n * (n - 1) / 2, "pairs must be exactly C(n_days, 2)")
    assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
  }

  test("graph_label_prop: transitions partition the co-purchase node set") {
    val rows =
      graft.ops.graph.Graph.queries("graph_label_prop")(spark, sf).collect()
    val nodes = graft.ops.graph.CoPurchase.coPurchaseEdges(spark, sf)
      .select(col("src")).distinct().count()
    assert(rows.map(_.getLong(2)).sum == nodes,
      "every src node gets exactly one new label")
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("llm_line_dedup: dup_frac = n_dup/n_blocks and both are sane") {
    val rows = graft.ops.dedup.NearDup.queries("llm_line_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nb = r.getLong(1); val nd = r.getLong(2); val f = r.getDouble(3)
      assert(nb > 0 && nd >= 0 && nd <= nb)
      assert(math.abs(f - nd.toDouble / nb) < 1e-6)
    }
  }

  test("llm_embed_pca_step: 64 dims, v1 is unit-norm, m/v1 share sign") {
    val rows =
      graft.ops.retrieval.Geometry.queries("llm_embed_pca_step")(spark, sf).collect()
    assert(rows.length == 64)
    val norm2 = rows.map(r => r.getDouble(2) * r.getDouble(2)).sum
    assert(math.abs(norm2 - 1.0) < 1e-3, s"‖v1‖² $norm2 must be ~1")
    rows.foreach(r => assert(r.getDouble(1) * r.getDouble(2) >= 0.0,
      "normalization must not flip signs"))
  }

  test("llm_knn_recall: 20 queries, hits <= 10, recall consistent") {
    val rows = graft.ops.retrieval.Evaluation.queries("llm_knn_recall")(spark, sf).collect()
    assert(rows.length == 20, "one row per pinned query")
    rows.foreach { r =>
      val hits = r.getLong(2)
      assert(hits >= 0 && hits <= 10)
      assert(math.abs(r.getDouble(3) - hits / 10.0) < 1e-9)
      assert(r.getLong(1) > 0, "candidate pool must be non-empty")
    }
  }

  test("llm_source_centroid: sources x 64 grid, every cell present") {
    val rows =
      graft.ops.retrieval.Geometry.queries("llm_source_centroid")(spark, sf).collect()
    val nSources = graft.util.Tables.load(spark, sf, "documents")
      .select(col("source")).distinct().count()
    assert(rows.length == nSources * 64)
  }

  test("llm_source_sim: full upper triangle, cosines in [-1, 1]") {
    val rows = graft.ops.retrieval.Geometry.queries("llm_source_sim")(spark, sf).collect()
    val nSources = graft.util.Tables.load(spark, sf, "documents")
      .select(col("source")).distinct().count()
    assert(rows.length == nSources * (nSources - 1) / 2)
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-6))
  }

  test("evt_peak_detect: peaks bounded by interior days, max day real") {
    val rows =
      graft.ops.Composite13.queries("evt_peak_detect")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nDays = r.getLong(1); val nPeaks = r.getLong(2)
      assert(nPeaks <= math.max(0L, (nDays - 1) / 2),
        "strict peaks can occupy at most every other interior day")
      assert(r.getLong(4) > 0, "max_c must be positive")
    }
  }

  test("evt_active_streaks: streak algebra holds per user") {
    val rows =
      graft.ops.Composite13.queries("evt_active_streaks")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val days = r.getLong(1); val streaks = r.getLong(2)
      val maxS = r.getLong(3)
      assert(maxS >= 1 && maxS <= days)
      assert(streaks >= 1 && streaks <= days)
      assert(maxS * streaks >= days,
        "max streak times streak count must cover all active days")
    }
  }

  test("evt_time_to_convert: converters subset viewers, p90 >= median") {
    val r =
      graft.ops.Composite13.queries("evt_time_to_convert")(spark, sf).head
    assert(r.getLong(1) <= r.getLong(0))
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    assert(r.getDouble(4) >= r.getDouble(3), "p90 must dominate median")
  }

  test("evt_audience_overlap: intersections bounded by set sizes") {
    val rows =
      graft.ops.Composite13.queries("evt_audience_overlap")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val na = r.getLong(2); val nb = r.getLong(3); val i = r.getLong(4)
      assert(i <= math.min(na, nb))
      val j = r.getDouble(5)
      assert(j >= 0.0 && j <= 1.0)
      assert(math.abs(j - i.toDouble / (na + nb - i)) < 1e-6)
    }
  }
}
