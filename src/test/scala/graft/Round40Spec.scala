package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-24 batch-1 rows (SURVEY §2.59):
  * typed flatMapGroups episodes, Brown double-exponential backtest,
  * and the observed-schema drift audit.
  */
class Round40Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def eventsFor(counts: Seq[(String, Int, Int)]) =
    counts.flatMap { case (t, day, y) =>
      Seq.fill(y)((t, java.time.LocalDate.of(2024, 1, 1)
        .plusDays(day - 1).toString))
    }.toDF("event_type", "ts")

  // ---- ds_flatmap_groups ------------------------------------------------

  test("orderEpisodesOn: 30-day gaps split episodes, ties fold deterministically, slice filters") {
    // custkey 10: days 0,10,20 then 100,105 -> two episodes (3 + 2).
    // custkey 20: two same-day orders then day 45 -> episodes 2 + 1.
    // custkey 7: not on the %10 slice -> absent.
    val orders = Seq(
      (10L, 101L, "1970-01-01"), (10L, 102L, "1970-01-11"),
      (10L, 103L, "1970-01-21"), (10L, 104L, "1970-04-11"),
      (10L, 105L, "1970-04-16"),
      (20L, 201L, "1970-01-01"), (20L, 202L, "1970-01-01"),
      (20L, 203L, "1970-02-15"),
      (7L, 701L, "1970-01-01")
    ).toDF("o_custkey", "o_orderkey", "o_orderdate")
    val got = graft.ops.Typed.orderEpisodesOn(spark, orders)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (10L, 1L, 3L, 0L, 20L), (10L, 2L, 2L, 100L, 105L),
      (20L, 1L, 2L, 0L, 0L), (20L, 2L, 1L, 45L, 45L)))
  }

  // ---- win_holt_backtest ------------------------------------------------

  test("holtBacktestOn: constant series forecasts exactly, warm-up consumes 15 rows") {
    // 20 constant days: S1 = S2 = y, forecast = 3y - 2y = y, so all
    // residuals are zero; scored rows = days 16..20 -> 5 forecasts.
    val ev = eventsFor((1 to 20).map(d => ("A", d, 3)))
    val got = graft.ops.timeseries.Forecast.holtBacktestOn(ev)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 5L, 0.0, 0.0, 0.0)))
  }

  test("holtBacktestOn: linear trend leaves only the truncation residual 2040/65025") {
    // y_t = t: an untruncated Brown forecast is exact on a line; the
    // 8-lag truncation leaves a constant residual of 2040·b/65025
    // per step (b = 1 here) — an order of magnitude under the naive
    // forecaster's b, which is the operator's reason to exist.
    val ev = eventsFor((1 to 25).map(d => ("A", d, d)))
    val got = graft.ops.timeseries.Forecast.holtBacktestOn(ev)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 10L, 0.031373, 0.031373, 1.0)))
  }

  test("holtBacktestOn: fewer than 16 days scores nothing") {
    val ev = eventsFor((1 to 15).map(d => ("A", d, d)))
    assert(graft.ops.timeseries.Forecast.holtBacktestOn(ev).count() == 0L)
  }

  // ---- dq_schema_drift --------------------------------------------------

  test("schemaDriftOn: planted added/dropped/retyped columns verdict correctly") {
    // Even doc_ids are generation a, odd are b. lang is NULL across
    // all of a -> added; source NULL across all of b -> dropped;
    // n_chars outgrows int32 only in b -> retyped; text crosses the
    // 256-char threshold only in b -> retyped; doc_id -> stable.
    def doc(id: Long): (Long, String, String, String, Long) = {
      val even = id % 2 == 0
      (id,
        if (even) "short" else "x" * 300,
        if (even) null else "en",
        if (even) "web" else null,
        if (even) 5L else 4000000000L)
    }
    val docs = (0L to 9L).map(doc)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.dq.Drift.schemaDriftOn(docs)
      .as[(String, Long, Long, Option[String], Option[String], String)]
      .collect().toSeq
    assert(got == Seq(
      ("doc_id", 5L, 5L, Some("int32-compatible"), Some("int32-compatible"), "stable"),
      ("lang", 0L, 5L, None, Some("string-short"), "added"),
      ("n_chars", 5L, 5L, Some("int32-compatible"), Some("int64"), "retyped"),
      ("source", 5L, 0L, Some("string-short"), None, "dropped"),
      ("text", 5L, 5L, Some("string-short"), Some("string-long"), "retyped")))
  }
}
