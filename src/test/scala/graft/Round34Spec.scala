package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-23 batch-2 rows (SURVEY §2.53):
  * header-vs-facts money reconciliation, Cohen's-kappa label
  * agreement, and cross-language vocabulary overlap.
  */
class Round34Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- dq_order_reconciliation ----------------------------------------

  test("orderReconciliationOn: exact, one-cent, lineless, and discount/tax algebra") {
    // Order 1 (A): 10.00 vs one 10.00 line -> exact. Order 2 (A):
    // 20.00 vs a 19.99 line -> off by exactly one cent. Order 3 (B):
    // no lines. Order 4 (B): 10.89 vs 10.00 at d=10% t=21% ->
    // 1000*90*121 = 10,890,000 = 1089 cents * 10^4 -> exact.
    val orders = Seq((1L, "A", 10.00), (2L, "A", 20.00),
      (3L, "B", 5.00), (4L, "B", 10.89))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val li = Seq((1L, 10.00, 0.00, 0.00), (2L, 19.99, 0.00, 0.00),
      (4L, 10.00, 0.10, 0.21))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val got = graft.ops.Composite37.orderReconciliationOn(orders, li)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 2L, 0L, 1L, 1L, 0L, 1L),
      ("B", 2L, 1L, 1L, 0L, 0L, 0L)))
  }

  // ---- llm_langid_agreement -------------------------------------------

  test("kappaOn: textbook confusion marginals give kappa 0.4") {
    // gold A x6 / B x4, guessed A x5 / B x5, 7 agreements:
    // S = 6*5 + 4*5 = 50, kappa = (70 - 50)/(100 - 50) = 0.4.
    val lab = (Seq.fill(4)(("A", "A")) ++ Seq.fill(2)(("A", "B")) ++
      Seq.fill(3)(("B", "B")) ++ Seq.fill(1)(("B", "A")))
      .toDF("gold", "guessed")
    val got = graft.ops.corpus.Quality.kappaOn(lab)
      .as[(Long, Long, Long, Double, Option[Double])].collect().toSeq
    assert(got == Seq((10L, 7L, 50L, 0.7, Some(0.4))))
  }

  test("kappaOn: perfect one-class agreement has pe = 1 -> kappa NULL, not a crash") {
    val lab = Seq.fill(3)(("A", "A")).toDF("gold", "guessed")
    val got = graft.ops.corpus.Quality.kappaOn(lab)
      .as[(Long, Long, Long, Double, Option[Double])].collect().toSeq
    assert(got == Seq((3L, 3L, 9L, 1.0, None)))
  }

  // ---- llm_vocab_overlap_langs ----------------------------------------

  test("vocabOverlapOn: full pair grid, zero-overlap pairs kept, Jaccard on distinct vocab") {
    // en {the, cat}, de {der, cat}, fr {le, chien}: only (de, en)
    // share a token -> 1/(2+2-1) = 1/3; both other pairs 0.
    val docs = Seq(("en", "the cat"), ("de", "der cat"),
      ("fr", "le chien")).toDF("lang", "text")
    val got = graft.ops.corpus.Vocabulary.vocabOverlapOn(docs)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("de", "en", 2L, 2L, 1L, 0.333333),
      ("de", "fr", 2L, 2L, 0L, 0.0),
      ("en", "fr", 2L, 2L, 0L, 0.0)))
  }

  test("vocabOverlapOn: empty tokens from doubled separators never enter the vocabulary") {
    val docs = Seq(("en", "the  cat"), ("de", "cat")).toDF("lang", "text")
    val got = graft.ops.corpus.Vocabulary.vocabOverlapOn(docs)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("de", "en", 1L, 2L, 1L, 0.5)))
  }
}
