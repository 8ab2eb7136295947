package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 operators (SURVEY §2.19): deterministic sharding, the
  * filter-funnel report's chain invariants, n-gram novelty, and DSIR
  * importance scoring.
  */
class Round8Spec extends AnyFunSuite {
  import TestSpark._

  test("llm_shard_assign: shards partition the corpus; assignment is a pure row property") {
    val rows = graft.ops.corpus.Sampling.queries("llm_shard_assign")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 16)
    rows.foreach(r => assert(r.getInt(0) >= 0 && r.getInt(0) <= 15))
    val total = rows.map(_.getLong(1)).sum
    val n = graft.util.Tables.load(spark, sf, "documents").count()
    assert(total == n, s"sharded $total != corpus $n")
    // repartitioning the source must reproduce the same checksums —
    // the property seeded RNG assignment does not have
    val again = graft.util.Tables.load(spark, sf, "documents").repartition(13)
      .select(expr(
        "CAST(instr('0123456789abcdef', substring(md5('graft' || CAST(doc_id AS STRING)), 1, 1)) - 1 AS INT)"
      ).as("shard"), col("doc_id"))
      .groupBy("shard")
      .agg(sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("id_checksum"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    rows.foreach(r => assert(again(r.getInt(0)) == r.getString(3),
      s"shard ${r.getInt(0)} checksum moved under repartition"))
  }

  test("llm_filter_funnel: stages chain (n_in of k+1 == n_out of k) and attrition is monotone") {
    val rows = graft.ops.corpus.Quality.queries("llm_filter_funnel")(spark, sf)
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 4)
    val n = graft.util.Tables.load(spark, sf, "documents").count()
    assert(rows.head.getLong(2) == n, "stage 1 n_in must be the corpus size")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2), "n_out > n_in"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) == a.getLong(3), "funnel stages must chain")
    }
  }

  test("llm_token_fertility: language slices partition the corpus and ratios are consistent") {
    val rows = graft.ops.corpus.Stats.queries("llm_token_fertility")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = graft.util.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == n)
    rows.foreach { r =>
      assert(r.getDouble(4) > 0.0 && r.getDouble(5) > 0.0)
      // chars_per_token * n_tokens ≈ n_chars (ratio is just the division)
      assert(math.abs(r.getDouble(4) * r.getLong(2) - r.getLong(3)) < 1.0)
    }
  }

  test("ngramNovelty facade: an exact duplicate doc has zero novelty, the original full") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),   // exact dup of 1 -> nothing first appears here
      (3L, "x y z w")      // all-new trigrams
    ).toDF("id", "text")
    val nov = Graft.ngramNovelty(docs, "id", "text", n = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(nov(1L) == 1.0 && nov(2L) == 0.0 && nov(3L) == 1.0, nov.toString)
  }

  test("llm_ngram_novelty: fractions in [0,1] and the lowest doc with spans is fully novel") {
    val rows = graft.ops.corpus.Quality.queries("llm_ngram_novelty")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // every trigram of the minimum doc id first appears there
    assert(rows.minBy(_.getLong(0)).getDouble(2) == 1.0)
  }

  test("dsirScores facade: target-vocabulary docs outscore off-target docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta gamma delta", false),
      (3L, "gamma delta gamma delta", false)
    ).toDF("id", "text", "tgt")
    val s = Graft.dsirScores(docs, "id", "text", col("tgt")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 1 is pure target vocabulary, doc 3 pure off-target: the
    // smoothed log-ratio must order them strictly
    assert(s(1L) > s(2L) && s(2L) > s(3L), s.toString)
  }

  test("llm_dsir_score: top-20 is score-sorted and the target slice scores higher on average") {
    val rows = graft.ops.corpus.Sampling.queries("llm_dsir_score")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "not sorted by score desc")
    // the corpus-level claim (top-20 membership is too noisy at tiny
    // SF where the synthetic languages share vocabulary): target docs
    // must outscore non-target docs on average
    val docs = graft.util.Tables.load(spark, sf, "documents")
    val all = Graft.dsirScores(docs, "doc_id", "text", col("lang") === "en")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id").collect()
    val (en, rest) = all.partition(_.getString(3) == "en")
    def mean(xs: Array[Double]) = xs.sum / xs.length
    assert(mean(en.map(_.getDouble(2))) > mean(rest.map(_.getDouble(2))),
      "target slice does not outscore the rest on average")
  }
}
