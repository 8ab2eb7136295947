package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted cases for the data-quality family (`graft.ops.dq`): laws
  * that tie the digit screens to each other, and the hash bucket the
  * uniformity audit keys on. */
class DataQualitySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def counts(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
    df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("Digits: first-two counts marginalize to the first- and second-digit screens") {
    // 400 totals in [10, 10^6), all >= 10 so every screen keeps them
    val rnd = new scala.util.Random(11)
    val orders = Seq.fill(400)(math.pow(10, 1 + 5 * rnd.nextDouble()))
      .map(x => math.floor(x * 100) / 100)
      .toDF("o_totalprice")
    val first = counts(graft.ops.dq.Digits.benfordOn(spark, orders))
    val firstTwo = counts(graft.ops.dq.Digits.benford12On(spark, orders))
    val second = counts(graft.ops.dq.Digits.benford2On(spark, orders))
    assert(firstTwo.values.sum == 400L)
    for (d <- 1 to 9) {
      val sum = (10 * d to 10 * d + 9).map(firstTwo.getOrElse(_, 0L)).sum
      assert(sum == first.getOrElse(d, 0L), s"first digit $d")
    }
    for (k <- 0 to 9) {
      val sum = firstTwo.collect { case (dd, n) if dd % 10 == k => n }.sum
      assert(sum == second.getOrElse(k, 0L), s"second digit $k")
    }
  }

  test("dq_hash_uniformity buckets by the salted hashKeep key") {
    // md5('graft5') and md5('graft10') share the prefix "cf";
    // md5('5') and md5('10') do not (e4 vs d3)
    val docs = Seq(5L, 10L).toDF("doc_id")
    val r = graft.ops.dq.Profiles.hashUniformityOn(docs, "doc_id").collect().head
    assert(r.getLong(0) == 2L)                 // n_docs
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L) // min/max bucket
    val keys = docs.select(graft.ops.corpus.Sampling.hashBucket($"doc_id"))
      .as[String].collect().toSet
    assert(keys == Set("cf"))
  }
}
