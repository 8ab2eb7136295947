package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 operators (SURVEY §2.22): Mann–Whitney U, the two-sample
  * KS statistic, term burstiness, per-source KL divergence, and
  * MAD length outliers.
  */
class Round11Spec extends AnyFunSuite {
  import TestSpark._

  test("agg_mann_whitney: U within [0, n1*n2] and consistent with rank-sum bounds") {
    val r = graft.ops.Composite8.queries("agg_mann_whitney")(spark, sf)
      .collect().head
    val (n1, n2, u) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(n1 > 0 && n2 > 0)
    assert(u >= 0.0 && u <= n1.toDouble * n2.toDouble, s"U $u out of range")
    // U is a multiple of 0.5 exactly (tied ranks contribute halves)
    assert(u * 2.0 == math.rint(u * 2.0), s"U $u not an exact half")
  }

  test("agg_ks_test: D in [0,1] and matches a driver-side two-sample computation") {
    val r = graft.ops.Composite8.queries("agg_ks_test")(spark, sf).collect().head
    val (n1, n2, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(d >= 0.0 && d <= 1.0)
    val cust = graft.util.Tables.load(spark, sf, "customer")
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
      .select(col("c_acctbal"), col("c_mktsegment")).collect()
    val g1 = cust.filter(_.getString(1) == "AUTOMOBILE").map(_.getDouble(0)).sorted
    val g2 = cust.filter(_.getString(1) == "HOUSEHOLD").map(_.getDouble(0)).sorted
    assert(g1.length == n1 && g2.length == n2)
    val xs = (g1 ++ g2).distinct.sorted
    val dRef = xs.map { x =>
      val f1 = g1.count(_ <= x).toDouble / g1.length
      val f2 = g2.count(_ <= x).toDouble / g2.length
      math.abs(f1 - f2)
    }.max
    assert(math.abs(d - dRef) < 1e-6, s"D $d vs reference $dRef")
  }

  test("llm_burstiness: one row per doc; a repeated-token doc is burstier than an all-distinct doc") {
    val rows = graft.ops.corpus.Vocabulary.queries("llm_burstiness")(spark, sf).collect()
    val docs = graft.util.Tables.load(spark, sf, "documents").count()
    assert(rows.length == docs)
    rows.foreach(r => assert(r.getDouble(3) >= 0.0, "negative VMR"))
    // fixture check: "a a a a b" (counts 4,1) vs "a b c d e" (all 1s -> VMR 0)
    import spark.implicits._
    val fx = Seq((1L, "a a a a b"), (2L, "a b c d e")).toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").count()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("k"), sum("count").as("sc"),
        sum(col("count") * col("count")).as("scc"))
      .select(col("doc_id"),
        ((col("scc") / col("k")) - (col("sc") / col("k")) * (col("sc") / col("k")))
          / (col("sc") / col("k")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fx(1L) > 0.5 && fx(2L) == 0.0)
  }

  test("llm_kl_divergence: non-negative per source, one row per source") {
    val rows = graft.ops.corpus.Vocabulary.queries("llm_kl_divergence")(spark, sf).collect()
    val sources = graft.util.Tables.load(spark, sf, "documents")
      .select(countDistinct(col("source"))).head.getLong(0)
    assert(rows.length == sources)
    // smoothed-vs-unsmoothed KL can dip slightly below 0; bound the dip
    rows.foreach(r => assert(r.getDouble(2) > -0.05,
      s"${r.getString(0)} KL ${r.getDouble(2)} implausibly negative"))
  }

  test("llm_length_mad: outliers bounded and MAD <= max deviation") {
    val rows = graft.ops.corpus.Stats.queries("llm_length_mad")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    val docs = graft.util.Tables.load(spark, sf, "documents").count()
    assert(total == docs, "language slices must partition the corpus")
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0, "negative MAD")
      assert(r.getLong(4) >= 0L && r.getLong(4) < r.getLong(1),
        "outliers must be a strict minority")
    }
  }
}
