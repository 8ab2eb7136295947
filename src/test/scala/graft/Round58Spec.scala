package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round 19 (optimization round 2) — internals changed for
  * performance must stay value-identical:
  *
  *  - GraphBfs.sharedLevels now materializes each frontier straight
  *    to parquet (one write action per level, seeds fused with the
  *    depth-0 level) instead of checkpoint-then-write; the levels it
  *    serves must be cell-identical to the pure levelsOn build.
  *  - DistRank.globalPrefixSumsWithTotals rides whole-relation totals
  *    on the offsets broadcast; the totals must equal the standalone
  *    aggregates they replaced, on every row.
  */
class Round58Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("sharedLevels == levelsOn: seeds and every level cell-identical") {
    val (mSeeds, mLevels) = graft.ops.GraphBfs
      .sharedLevels(spark, TestSpark.sf)
    val edges = graft.ops.graph.CoPurchase
      .coPurchaseEdges(spark, TestSpark.sf).localCheckpoint()
    val (pSeeds, pLevels) = graft.ops.GraphBfs.levelsOn(edges, 3, 3)
    assert(mSeeds.collect().toSet == pSeeds.collect().toSet)
    assert(mSeeds.columns.toSeq == pSeeds.columns.toSeq)
    assert(mLevels.length == pLevels.length)
    mLevels.zip(pLevels).zipWithIndex.foreach { case ((m, p), d) =>
      assert(m.columns.toSeq == p.columns.toSeq, s"level $d columns")
      assert(m.collect().toSet == p.collect().toSet, s"level $d rows")
    }
  }

  test("sharedPostings == sorted collect_set over sharedGrams") {
    val view = graft.ops.dedup.Shingles.sharedPostings(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    val fresh = graft.ops.dedup.Shingles.sharedGrams(spark, TestSpark.sf)
      .groupBy(col("h")).agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(view == fresh)
    // sortedness is the contract consumers rely on (pair transform,
    // min-owner element_at)
    assert(view.values.forall(ds => ds == ds.sorted && ds.distinct == ds))
  }

  test("knn block join == broadcast plan on the smoke corpus") {
    val emb = graft.util.Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val viaBroadcast = graft.ops.LlmOps14.knnClassifyExact(emb)
      .orderBy("label").collect().toSeq
    val sc = spark.sparkContext
    val (viaBlocks, leftPersisted) = TestSpark.globalConfLock.synchronized {
      sys.props("graft.broadcast.rowCap") = "0" // force the block path
      try {
        val before = sc.getPersistentRDDs.keySet
        val out = graft.ops.LlmOps14.knnClassifyExact(emb)
          .orderBy("label").collect().toSeq
        (out, sc.getPersistentRDDs.keySet -- before)
      } finally sys.props.remove("graft.broadcast.rowCap")
    }
    assert(viaBlocks == viaBroadcast)
    // the big regime releases its DISK_ONLY pair table before returning
    assert(leftPersisted.isEmpty,
      s"block path left persisted RDDs: $leftPersisted")
  }

  test("scratch dir honors spark.graft.scratch.dir; memo builds land there") {
    TestSpark.globalConfLock.synchronized {
      val base = java.nio.file.Files
        .createTempDirectory("graft_scratch_test").toString
      spark.conf.set("spark.graft.scratch.dir", base + "/") // suffix-stripped
      try {
        val p = graft.ops.Scans.tmp(spark, TestSpark.sf, "conf_probe")
        assert(p.startsWith(base + "/graft_"), p)
        graft.ops.DiskMemo.reset("conf_probe_t")
        val df = graft.ops.DiskMemo.table(spark, TestSpark.sf, "conf_probe_t") {
          Seq((1L, 2L)).toDF("a", "b")
        }
        assert(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
          == Seq((1L, 2L)))
        assert(new java.io.File(base).listFiles().exists(
          _.getName.contains("conf_probe_t")))
      } finally {
        spark.conf.unset("spark.graft.scratch.dir")
        graft.ops.DiskMemo.reset("conf_probe_t")
      }
    }
  }

  test("globalPrefixSumsWithTotals: totals equal standalone aggregates") {
    val df = Seq((5L, 2L), (1L, 3L), (9L, 1L), (4L, 4L), (7L, 2L))
      .toDF("k", "w")
    val out = graft.util.DistRank.globalPrefixSumsWithTotals(
      df, Seq("below" -> col("w")), col("k"),
      totals = Seq("tot" -> col("w"), "cube" -> (col("w") * col("w"))),
      parts = 3).collect()
    assert(out.length == 5)
    assert(out.forall(_.getAs[Long]("tot") == 12L))
    assert(out.forall(_.getAs[Long]("cube") == 4L + 9 + 1 + 16 + 4))
    // prefix sums unchanged by the totals rider
    val below = out.map(r => r.getAs[Long]("k") -> r.getAs[Long]("below")).toMap
    assert(below == Map(1L -> 0L, 4L -> 3L, 5L -> 7L, 7L -> 9L, 9L -> 11L))
  }
}
