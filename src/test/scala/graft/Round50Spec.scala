package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-26 batch-5 rows (SURVEY §2.83):
  * the LSH bucket audit and the shingle df spectrum (brute md5
  * replica laws live in PropertiesSpec).
  */
class Round50Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("lshBucketAuditOn: identical docs share every band bucket; disjoint docs share none") {
    val t = (0 until 20).map(i => s"w$i").mkString(" ")
    val u = (100 until 120).map(i => s"v$i").mkString(" ")
    // Two identical + one disjoint: per band, the twin bucket has
    // c = 2 (1 candidate pair), the loner c = 1 → pairs 1, share 1.
    val got = graft.ops.dedup.Shingles.lshBucketAuditOn(
      Seq((1L, t), (2L, t), (3L, u)).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == (0L to 3L).map(b => (b, 2L, 2L, 1L, 1.0)))
    // All distinct docs: every bucket is a singleton → 0 candidate
    // pairs and a NULL share (0/0 guarded), not a crash.
    val lone = graft.ops.dedup.Shingles.lshBucketAuditOn(
      Seq((1L, t), (3L, u)).toDF("doc_id", "text")).collect()
    assert(lone.forall(r =>
      r.getLong(3) == 0L && r.isNullAt(4)), lone.mkString(","))
  }

  test("shingleDfSpectrumOn: planted df ladder lands in the right buckets") {
    // Shingle "a b c" in 3 docs (bucket 03), "x y z" unique to one
    // (bucket 01), "p q r" in 2 (bucket 02). Distinct-per-doc means
    // repeats inside one doc do not inflate df.
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c a b c"),
      (4L, "x y z"), (5L, "p q r"), (6L, "p q r"))
      .toDF("doc_id", "text")
    val got = graft.ops.dedup.Shingles.shingleDfSpectrumOn(docs)
      .as[(String, Long, Long, Double)].collect().toSeq
    // doc 3's text has shingles {a b c, b c a, c a b} → extra
    // uniques; totals: vocab = 5 ("a b c" df3, "b c a" df1,
    // "c a b" df1, "x y z" df1, "p q r" df2).
    assert(got == Seq(
      ("01_unique", 3L, 3L, 0.6),
      ("02_df2", 1L, 2L, 0.2),
      ("03_df3_4", 1L, 3L, 0.2)))
  }

  test("shingleDfSpectrumOn: docs shorter than one shingle are ignored") {
    val got = graft.ops.dedup.Shingles.shingleDfSpectrumOn(
      Seq((1L, "just two"), (2L, "one")).toDF("doc_id", "text"))
      .collect()
    assert(got.isEmpty)
  }
}
