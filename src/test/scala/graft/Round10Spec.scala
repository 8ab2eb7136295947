package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 operators (SURVEY §2.21): chi-square independence cells,
  * Welch's t-test, Pareto revenue deciles, order-2 behavior motifs,
  * truncated-kernel EWMA, and bigram conditional entropy.
  */
class Round10Spec extends AnyFunSuite {
  import TestSpark._

  test("agg_chi_square: margins reconstruct and contributions are non-negative") {
    val rows = graft.ops.stats.Association.queries("agg_chi_square")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getLong(2)).sum
    val orders = graft.util.Tables.load(spark, sf, "orders").count()
    assert(n == orders, "cells must partition the fact")
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0, "negative chi-square contribution")
      assert(r.getDouble(3) > 0.0, "expected count must be positive")
    }
    // expected counts reconstruct the grand total as well
    assert(math.abs(rows.map(_.getDouble(3)).sum - n.toDouble) < 0.01)
  }

  test("agg_welch_t: statistic agrees with a direct two-pass computation") {
    val rows = graft.ops.stats.TwoSample.queries("agg_welch_t")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val cust = graft.util.Tables.load(spark, sf, "customer")
      .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("x")).collect()
    def stats(seg: String) = {
      val xs = cust.filter(_.getString(0) == seg).map(_.getDouble(1))
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
      (xs.length.toLong, m, v)
    }
    val (n1, m1, v1) = stats("AUTOMOBILE")
    val (n2, m2, v2) = stats("HOUSEHOLD")
    assert(r.getLong(0) == n1 && r.getLong(1) == n2)
    val t = (m1 - m2) / math.sqrt(v1 / n1 + v2 / n2)
    assert(math.abs(r.getDouble(4) - t) < 1e-4, s"t ${r.getDouble(4)} vs $t")
    val se = v1 / n1 + v2 / n2
    val df = se * se / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
    assert(math.abs(r.getDouble(5) - df) < 1e-2, s"df ${r.getDouble(5)} vs $df")
  }

  test("agg_pareto_deciles: 10 deciles, shares sum to 1, decile 1 dominates") {
    val rows = graft.ops.Composite7.queries("agg_pareto_deciles")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 10)
    val shares = rows.map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    assert(shares.head == shares.max, "top decile must hold the largest share")
    // revenue strings are monotone decreasing across deciles
    val revs = rows.map(r => BigDecimal(r.getString(2)))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("evt_top_sequences: trigram counts bounded by transition counts") {
    val rows = graft.ops.Composite7.queries("evt_top_sequences")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val ns = rows.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "not sorted")
    // total trigrams = events - 2*users (every user timeline loses two)
    val ev = graft.util.Tables.load(spark, sf, "events")
    val users = ev.select(countDistinct(col("user_id"))).head.getLong(0)
    val allSeqs = graft.ops.Composite7.queries("evt_top_sequences")(spark, sf)
    // the declared query truncates at 20; re-derive the full count
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val full = ev.withColumn("p2", lag(col("event_type"), 2).over(w))
      .filter(col("p2").isNotNull).count()
    assert(full == ev.count() - 2 * users)
    assert(ns.sum <= full)
  }

  test("win_ewma_smooth: steady-state ewma of a constant series is the constant") {
    import spark.implicits._
    val days = (1 to 30).map(d => ("X", java.sql.Date.valueOf(f"2020-01-$d%02d"), 100.0))
    days.toDF("n_name", "day", "x").createOrReplaceTempView("daily_rev")
    val out = spark.sql(
      """SELECT n_name, day,
        |  round((x * 1.0
        |    + coalesce(lag(x, 1) OVER (PARTITION BY n_name ORDER BY day), 0.0) * 0.7
        |    + coalesce(lag(x, 2) OVER (PARTITION BY n_name ORDER BY day), 0.0) * 0.49
        |    + coalesce(lag(x, 3) OVER (PARTITION BY n_name ORDER BY day), 0.0) * 0.343
        |    + coalesce(lag(x, 4) OVER (PARTITION BY n_name ORDER BY day), 0.0) * 0.2401
        |    + coalesce(lag(x, 5) OVER (PARTITION BY n_name ORDER BY day), 0.0) * 0.16807
        |    + coalesce(lag(x, 6) OVER (PARTITION BY n_name ORDER BY day), 0.0) * 0.117649
        |    + coalesce(lag(x, 7) OVER (PARTITION BY n_name ORDER BY day), 0.0) * 0.0823543) /
        |   (CASE WHEN x IS NULL THEN 0.0 ELSE 1.0 END
        |    + CASE WHEN lag(x, 1) OVER (PARTITION BY n_name ORDER BY day) IS NULL THEN 0.0 ELSE 0.7 END
        |    + CASE WHEN lag(x, 2) OVER (PARTITION BY n_name ORDER BY day) IS NULL THEN 0.0 ELSE 0.49 END
        |    + CASE WHEN lag(x, 3) OVER (PARTITION BY n_name ORDER BY day) IS NULL THEN 0.0 ELSE 0.343 END
        |    + CASE WHEN lag(x, 4) OVER (PARTITION BY n_name ORDER BY day) IS NULL THEN 0.0 ELSE 0.2401 END
        |    + CASE WHEN lag(x, 5) OVER (PARTITION BY n_name ORDER BY day) IS NULL THEN 0.0 ELSE 0.16807 END
        |    + CASE WHEN lag(x, 6) OVER (PARTITION BY n_name ORDER BY day) IS NULL THEN 0.0 ELSE 0.117649 END
        |    + CASE WHEN lag(x, 7) OVER (PARTITION BY n_name ORDER BY day) IS NULL THEN 0.0 ELSE 0.0823543 END), 6) AS ewma
        |FROM daily_rev ORDER BY day""".stripMargin).collect()
    out.foreach(r => assert(r.getDouble(2) == 100.0,
      s"constant series must smooth to itself, got ${r.getDouble(2)}"))
    // and the declared query runs with sane bounds on real data
    val real = graft.ops.timeseries.Indicators.queries("win_ewma_smooth")(spark, sf).collect()
    assert(real.nonEmpty)
    real.foreach(r => assert(r.getDouble(3) > 0.0))
  }

  test("llm_bigram_cond_entropy: bounded by ln(vocab) and non-negative") {
    val rows = graft.ops.corpus.Vocabulary.queries("llm_bigram_cond_entropy")(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val h = r.getDouble(3)
    assert(h >= 0.0, s"conditional entropy $h negative")
    // H(W2|W1) <= ln(#distinct pairs) trivially; tighter: <= ln(n_bigrams)
    assert(h <= math.log(r.getLong(1).toDouble), "entropy exceeds ln(pairs)")
  }
}
