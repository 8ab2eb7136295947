package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 third batch (SURVEY §2.29–2.30): label-aware embedding
  * evaluation, rate limiting, backtesting, rolling correlation.
  */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  test("llm_hard_negatives: 5 ranked negatives per query, none share the query label") {
    val rows =
      graft.ops.retrieval.Search.queries("llm_hard_negatives")(spark, sf).collect()
    assert(rows.length == 20 * 5)
    val emb = graft.util.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val qid = r.getLong(0); val nid = r.getLong(2); val lab = r.getInt(3)
      assert(emb(nid) == lab, "surfaced label must be the neighbor's")
      assert(emb(qid) != lab, "negative must differ from the query label")
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 5)
    }
  }

  test("llm_knn_classify: per-class counts partition the corpus, accuracy above chance") {
    val rows =
      graft.ops.retrieval.Geometry.queries("llm_knn_classify")(spark, sf).collect()
    val total = graft.util.Tables.load(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    // the corpus' labels are synthetic/random (verified: LOO accuracy
    // ~= 1/10 chance), so assert proper bounds + per-class arithmetic,
    // not separation
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(math.abs(r.getDouble(3) -
        r.getLong(2).toDouble / r.getLong(1)) < 1e-6)
    }
  }

  test("llm_label_margin: cohesion and separation are proper cosines") {
    val rows =
      graft.ops.retrieval.Geometry.queries("llm_label_margin")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-6)
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-6)
      assert(math.abs(r.getDouble(2) - r.getDouble(3) - r.getDouble(4)) < 1e-5)
    }
  }

  test("evt_rate_limit: dropped volume is consistent with over-budget minutes") {
    val rows =
      graft.ops.Composite14.queries("evt_rate_limit")(spark, sf).collect()
    rows.foreach { r =>
      val nOver = r.getLong(2); val maxPm = r.getLong(3)
      val dropped = r.getLong(4)
      assert(nOver >= 1, "filter must keep only over-budget users")
      assert(maxPm > 5, "an over-budget user must have a minute above budget")
      assert(dropped >= maxPm - 5 && dropped >= nOver,
        "drops must cover the worst minute and every over minute")
    }
  }

  test("evt_seasonal_naive_backtest: scores most of the series, errors non-negative") {
    val r = graft.ops.Composite14
      .queries("evt_seasonal_naive_backtest")(spark, sf).head
    assert(r.getLong(0) > 100, "backtest must score a long horizon")
    assert(r.getDouble(1) >= 0.0 && r.getDouble(2) >= 0.0)
    assert(r.getDouble(2) <= 2.0, "sMAPE is bounded by 2")
  }

  test("win_rolling_corr: correlations bounded, warm-up rows excluded") {
    val rows =
      graft.ops.Composite14.queries("win_rolling_corr")(spark, sf).collect()
    val nDays = graft.util.Tables.load(spark, sf, "orders")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("o_orderdate")))
      .distinct().count()
    assert(rows.length == nDays - 29, "exactly the full-frame rows survive")
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-6))
  }
}
