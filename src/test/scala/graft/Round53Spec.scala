package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 batch 2 (SURVEY §2.87): planted cases for Page-Hinkley,
  * Durbin-Watson, Mantel-Haenszel, and the edit-distance dedup tier.
  */
class Round53Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def plantDaily(counts: Seq[Int]): org.apache.spark.sql.DataFrame =
    counts.zipWithIndex.flatMap { case (y, i) =>
      Seq.fill(y)(("A", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong).toString))
    }.toDF("event_type", "ts")

  // ---- evt_page_hinkley ----------------------------------------------------

  test("pageHinkleyOn: a constant series carries zero statistics and zero alarms") {
    // M_t = nd·cum − t·sy is identically 0 for a constant; MR̄ = 0 so
    // the alarm bar is 0 and 0 > 0 never fires.
    val got = graft.ops.timeseries.Control.pageHinkleyOn(plantDaily(Seq.fill(12)(9)))
      .as[(String, Long, Double, Double, Double, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("A", 12L, 0.0, 0.0, 0.0, 0L, 0L)))
  }

  test("pageHinkleyOn: a level step alarms in both directions with hand-computed maxima") {
    // 10 days at 10 then 10 at 30 (mean 20): M_t dives to −2000 at
    // t=10 and climbs back to 0, so ph_dec peaks at 2000/20 = 100
    // (alarming on 19 days — every M_t < −56) and ph_inc recovers
    // the same 100 over days 11-20 (10 alarm days). One 20-jump MR
    // ⇒ bar = 2.66·20/19 = 2.8.
    val got = graft.ops.timeseries.Control
      .pageHinkleyOn(plantDaily(Seq.fill(10)(10) ++ Seq.fill(10)(30)))
      .as[(String, Long, Double, Double, Double, Long, Long)]
      .collect().toSeq
    assert(got == Seq(("A", 20L, 100.0, 100.0, 2.8, 10L, 19L)))
  }

  // ---- evt_durbin_watson ---------------------------------------------------

  test("durbinWatsonOn: a perfect line has zero residuals — NULL dw, exact slope") {
    val got = graft.ops.timeseries.Correlation
      .durbinWatsonOn(plantDaily((1 to 10).map(_ * 2)))
      .collect().toSeq
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "A" && r.getLong(1) == 10L)
    assert(r.getDouble(2) == 2.0)
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("durbinWatsonOn: alternation scores dw near 4; a smooth step scores below 1.5") {
    // y = 10 ± 1 alternating: residuals flip sign every step ->
    // dw = 3.690909; y = 5×5 then 15×5: residuals drift smoothly ->
    // dw = 1.490909, under the 1.5 positive-autocorrelation cut.
    val alt = graft.ops.timeseries.Correlation
      .durbinWatsonOn(plantDaily((1 to 10).map(t => 10 + (if (t % 2 == 0) 1 else -1))))
      .as[(String, Long, Double, Double, Boolean)].collect().head
    assert(alt == (("A", 10L, 0.060606, 3.690909, false)))
    val step = graft.ops.timeseries.Correlation
      .durbinWatsonOn(plantDaily(Seq.fill(5)(5) ++ Seq.fill(5)(15)))
      .as[(String, Long, Double, Double, Boolean)].collect().head
    assert(step == (("A", 10L, 1.515152, 1.490909, true)))
  }

  // ---- agg_mantel_haenszel -------------------------------------------------

  test("mantelHaenszelOn: segment-mix confounding separates crude OR 3 from MH OR 2.364") {
    // Stratum AUTOMOBILE (a,b,c,d) = (40,10,20,20) — within-OR 4;
    // stratum BUILDING (5,20,10,40) — within-OR 1. Pooled cells
    // (45,30,30,60): crude OR = 3, MH OR = 26/11 = 2.363636,
    // confounding ratio 1.269231.
    val customer = Seq((1L, "AUTOMOBILE"), (2L, "BUILDING"))
      .toDF("c_custkey", "c_mktsegment")
    def orders(cust: Long, cells: (Int, Int, Int, Int)) = {
      val (a, b, c, d) = cells
      Seq.fill(a)((cust, "1-URGENT", 300000.0)) ++
        Seq.fill(b)((cust, "1-URGENT", 100000.0)) ++
        Seq.fill(c)((cust, "5-LOW", 300000.0)) ++
        Seq.fill(d)((cust, "5-LOW", 100000.0))
    }
    val o = (orders(1L, (40, 10, 20, 20)) ++ orders(2L, (5, 20, 10, 40)))
      .toDF("o_custkey", "o_orderpriority", "o_totalprice")
    val got = graft.ops.stats.Association.mantelHaenszelOn(o, customer)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().head
    assert(got == ((45L, 30L, 30L, 60L, 3.0, 2.363636, 1.269231)))
  }

  // ---- llm_dedup_editdist --------------------------------------------------

  test("dedupEditdistOn: shared-prefix pairs grade by head Levenshtein; other prefixes drop") {
    val docs = Seq(
      (1L, "a b c d e f g h hello world"),
      (2L, "a b c d e f g h hello warld"),
      (3L, "z b c d e f g h hello world"),
      (4L, "p q r s t u v w same body"),
      (5L, "p q r s t u v w same body"),
      (6L, "too short")).toDF("doc_id", "text")
    val got = graft.ops.dedup.NearDup.dedupEditdistOn(docs)
      .as[(Long, Long, Int, Int, Int, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1, 27, 27, 0.962963),
      (4L, 5L, 0, 25, 25, 1.0)))
  }
}
