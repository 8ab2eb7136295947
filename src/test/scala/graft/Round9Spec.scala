package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 operators (SURVEY §2.20): Gini revenue concentration,
  * the Markov transition matrix, cohort LTV, vocabulary coverage,
  * PMI collocations, and the cross-source overlap matrix.
  */
class Round9Spec extends AnyFunSuite {
  import TestSpark._

  test("agg_gini: one row per nation, gini in [0,1)") {
    val rows = graft.ops.Composite6.queries("agg_gini")(spark, sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val g = r.getDouble(2)
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)} gini $g out of range")
    }
  }

  test("evt_markov_chain: probabilities row-normalize to 1 per previous type") {
    val rows = graft.ops.Composite6.queries("evt_markov_chain")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (prev, ts) =>
      val total = ts.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-4, s"$prev row sums to $total")
    }
    // counts must cover every non-first event exactly once
    val n = rows.map(_.getLong(2)).sum
    val ev = graft.util.Tables.load(spark, sf, "events")
    val users = ev.select(countDistinct(col("user_id"))).head.getLong(0)
    assert(n == ev.count() - users, "transitions != events - users")
  }

  test("evt_cohort_ltv: month-zero actives equal cohort size and actives never exceed it") {
    val rows = graft.ops.Composite6.queries("evt_cohort_ltv")(spark, sf).collect()
    assert(rows.nonEmpty)
    val m0 = rows.filter(_.getLong(1) == 0L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(m0.contains(r.getLong(0)), s"cohort ${r.getLong(0)} missing month 0")
      assert(r.getLong(2) <= m0(r.getLong(0)),
        s"cohort ${r.getLong(0)}+${r.getLong(1)}: actives exceed cohort size")
      assert(BigDecimal(r.getString(3)) > 0)
    }
    // every customer lands in exactly one cohort at months_since=0
    val customers = graft.util.Tables.load(spark, sf, "orders")
      .select(countDistinct(col("o_custkey"))).head.getLong(0)
    assert(m0.values.sum == customers)
  }

  test("llm_vocab_coverage: coverage is monotone in k and bounded by 1") {
    val rows = graft.ops.Composite6.queries.keySet // guard: op lives in corpus.Vocabulary
    assert(!rows.contains("llm_vocab_coverage"))
    val cov = graft.ops.corpus.Vocabulary.queries("llm_vocab_coverage")(spark, sf)
      .collect().sortBy(_.getInt(0))
    assert(cov.map(_.getInt(0)).toSeq == Seq(10, 100, 1000, 10000))
    val cs = cov.map(_.getDouble(3))
    assert(cs.zip(cs.tail).forall { case (a, b) => a <= b }, "not monotone")
    cs.foreach(c => assert(c > 0.0 && c <= 1.0))
    // all rows share one corpus total
    assert(cov.map(_.getLong(2)).distinct.length == 1)
  }

  test("llm_word_pmi: results are support-filtered and sorted by rounded pmi") {
    val rows = graft.ops.corpus.Vocabulary.queries("llm_word_pmi")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(r.getLong(2) >= 5, "min-support violated"))
    val ps = rows.map(_.getDouble(3))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b }, "not sorted")
  }

  test("llm_source_overlap: full upper-triangle matrix with jaccard in [0,1]") {
    val rows = graft.ops.corpus.Vocabulary.queries("llm_source_overlap")(spark, sf).collect()
    val sources = graft.util.Tables.load(spark, sf, "documents")
      .select(countDistinct(col("source"))).head.getLong(0).toInt
    assert(rows.length == sources * (sources - 1) / 2,
      s"expected full ${sources}x$sources upper triangle, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "not upper triangle")
      val j = r.getDouble(3)
      assert(j >= 0.0 && j <= 1.0)
      if (r.getLong(2) == 0L) assert(j == 0.0)
    }
  }

  test("sourceOverlap jaccard agrees with a direct per-pair computation on one pair") {
    import spark.implicits._
    // tiny fixture: s1 and s2 share exactly one trigram, s3 none
    val docs = Seq(
      (1L, "a b c d", "s1"),
      (2L, "b c d e", "s2"),
      (3L, "x y z w", "s3")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    docs.createOrReplaceTempView("fixture_docs")
    // s1 grams: {abc, bcd}; s2: {bcd, cde}; intersection {bcd} -> J = 1/3
    val grams = docs.select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(t) - 3, 1), i -> md5(array_join(slice(t, i + 1, 3), ' ')))")).as("h"))
      .distinct()
    val inter = grams.as("a").join(grams.as("b"), Seq("h"))
      .filter(col("a.source") < col("b.source")).count()
    assert(inter == 1L)
  }
}
