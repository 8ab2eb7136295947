package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.graph.Community

/** Round-4 operators: connected-components dedup clusters, bucketed
  * band join equivalence, hash-threshold sampling determinism, and
  * quantization error bounds (SURVEY §2 round-4 rows).
  */
class Round4Spec extends AnyFunSuite {
  import TestSpark._

  test("connectedComponents: chains, separate components, multi-iteration convergence") {
    import spark.implicits._
    // 1-2-3-4-5 is a chain (diameter 4 → needs >1 propagation round);
    // 10-11 separate; 20-21-22 a triangle with a redundant edge.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val got = Community.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: label propagation crosses a long chain (maxIter honoured)") {
    import spark.implicits._
    // 0-1-2-...-12: min label must travel 12 hops.
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Community.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 13 && got.values.forall(_ == 0L))
  }

  test("join_range_bucketed: bucketed equi-join finds exactly the theta-join pairs") {
    val e = graft.util.Tables.loadEvents(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val brute = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          abs(col("a.us") - col("b.us")) <= 3600L * 1000000L)
      .groupBy(col("a.user_id")).agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucketed = graft.ops.Relational.queries("join_range_bucketed")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bucketed === brute)
    assert(bucketed.nonEmpty)
  }

  test("join_interval_overlap: cell-bucketed join equals the brute-force theta join exactly once") {
    val i = graft.util.Tables.loadEvents(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          floor(col("value")).cast("long") * 60L * 1000000L).as("e"))
    val brute = i.as("a").join(i.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
      .select(col("a.event_id"), col("b.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val bucketed = graft.ops.Relational.queries("join_interval_overlap")(spark, sf)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(bucketed.sameElements(brute), // sameElements also fails on duplicates
      s"bucketed ${bucketed.length} pairs != brute ${brute.length}")
    assert(bucketed.nonEmpty)
  }

  test("llm_sample_hash: keep-set is a pure row property (partitioning-proof)") {
    val once = graft.ops.corpus.Sampling.queries("llm_sample_hash")(spark, sf).collect()
    // Same query over a repartitioned source must select the SAME rows
    // — this is the property seeded RNG sampling does not have.
    val d = graft.util.Tables.load(spark, sf, "documents").repartition(13)
    val again = d
      .filter(substring(md5(concat(lit("graft"), col("doc_id").cast("string"))), 1, 2) <= "28")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("sum_ids"))
      .orderBy("source").collect()
    assert(once.map(_.toString).toSeq === again.map(_.toString).toSeq)
    assert(once.nonEmpty)
  }

  test("llm_embed_quantize: int8 MAE bounded by half a quantization step") {
    val rows = graft.ops.retrieval.Geometry.queries("llm_embed_quantize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val mae = r.getDouble(2)
      // each element's error is <= 0.5/scale by construction
      assert(mae <= 0.5 / scale + 1e-9,
        s"vec ${r.getLong(0)}: mae $mae > half-step ${0.5 / scale}")
    }
  }

  test("sink_compact: 64 fragments compact to at most 4 sorted files") {
    graft.ops.Scans.queries("sink_compact")(spark, sf).collect()
    val base = graft.ops.Scans.tmp(spark, sf, "compact")
    def parts(sub: String) =
      new java.io.File(s"$base/$sub").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts("small") == 64, s"expected 64 fragment files, got ${parts("small")}")
    assert(parts("compacted") <= 4, s"expected <=4 compacted files, got ${parts("compacted")}")
  }

  test("evt_cdc_upsert: one surviving row per key, and it is the latest") {
    import spark.implicits._
    val out = graft.ops.Events.queries("evt_cdc_upsert")(spark, sf)
    val keys = out.groupBy("user_id").count().filter(col("count") > 1).count()
    assert(keys == 0, "a key surfaced more than one surviving row")
    // spot-check: the survivor's ts is the max ts for its key
    val maxTs = graft.util.Tables.loadEvents(spark, sf)
      .groupBy("user_id").agg(max("ts").as("max_ts"))
    val bad = out.join(maxTs, "user_id")
      .filter(col("ts") =!= col("max_ts")).count()
    assert(bad == 0, s"$bad survivors are not the latest row for their key")
  }

  test("llm_semdedup: reps are minimal, survivors, and closed under membership") {
    val rows = graft.ops.dedup.Clusters.queries("llm_semdedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val reps = rows.map(_._2).toSet
    val ids = rows.map(_._1).toSet
    assert(rows.nonEmpty && reps.subsetOf(ids), "a rep is not a corpus vector")
    rows.foreach { case (id, rep, survivor) =>
      assert(rep <= id, s"rep $rep > member $id (not the min-id representative)")
      assert(survivor == (rep == id), s"survivor flag wrong for $id")
    }
    // every rep must itself be flagged a survivor
    val survivorIds = rows.filter(_._3).map(_._1).toSet
    assert(reps.subsetOf(survivorIds), "a representative is not a survivor")
  }

  test("evt_funnel: stages are monotonically shrinking") {
    val rows = graft.ops.Events.queries("evt_funnel")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set("1_view", "2_click", "3_purchase"))
    assert(rows("1_view") >= rows("2_click"))
    assert(rows("2_click") >= rows("3_purchase"))
  }
}
