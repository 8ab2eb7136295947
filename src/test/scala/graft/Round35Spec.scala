package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-23 batch-3 rows (SURVEY §2.54):
  * Simpson's-paradox audit, SPC capability indices, and the
  * functional-dependency audit.
  */
class Round35Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- agg_simpson_paradox --------------------------------------------

  test("simpsonParadoxOn: Berkeley-style weights reverse every stratum against the pool") {
    // 1995: O 95/100 deep vs F 10/10 -> F ahead (dir -1).
    // 1996: O 1/10 vs F 11/100      -> F ahead (dir -1).
    // Pooled: O 96/110 vs F 21/110  -> O ahead (dir +1) -> reversal
    // flagged in BOTH strata, with zero floating point involved.
    val rows =
      Seq.fill(95)(("1995-03-01", "O", 0.05)) ++
        Seq.fill(5)(("1995-03-01", "O", 0.00)) ++
        Seq.fill(10)(("1995-03-01", "F", 0.05)) ++
        Seq.fill(1)(("1996-03-01", "O", 0.05)) ++
        Seq.fill(9)(("1996-03-01", "O", 0.00)) ++
        Seq.fill(11)(("1996-03-01", "F", 0.05)) ++
        Seq.fill(89)(("1996-03-01", "F", 0.00))
    val li = rows.toDF("d", "l_linestatus", "l_discount")
      .withColumn("l_shipdate", to_timestamp($"d"))
    val got = graft.ops.Composite38.simpsonParadoxOn(li)
      .as[(Int, Long, Long, Long, Long, Long, Long, Int)].collect().toSeq
    assert(got == Seq(
      (1995, 100L, 95L, 10L, 10L, -1L, 1L, 1),
      (1996, 10L, 1L, 100L, 11L, -1L, 1L, 1)))
  }

  // ---- agg_process_capability -----------------------------------------

  test("processCapabilityOn: quantities 10/20/30 give sigma 10, Cp 49/60, Cpk 19/30") {
    val li = Seq(10.0, 20.0, 30.0).map(q => ("A", q))
      .toDF("l_returnflag", "l_quantity")
    val got = graft.ops.Composite38.processCapabilityOn(li)
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 3L, 20.0, 10.0, 0.816667, 0.633333)))
  }

  test("processCapabilityOn: an off-center process scores Cpk below Cp") {
    // Quantities 40/45/50: mean 45, sigma 5 -> Cp = 49/30 = 1.633333,
    // Cpk = min(50-45, 45-1)/15 = 5/15 = 0.333333.
    val li = Seq(40.0, 45.0, 50.0).map(q => ("B", q))
      .toDF("l_returnflag", "l_quantity")
    val got = graft.ops.Composite38.processCapabilityOn(li)
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("B", 3L, 45.0, 5.0, 1.633333, 0.333333)))
  }

  // ---- dq_functional_dependency ---------------------------------------

  test("fdAuditOn: one violating LHS value out of three, fan-out 2") {
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (3L, "c"))
      .toDF("x", "y")
    val got = graft.ops.dq.Integrity.fdAuditOn(df, "t.x->y", "x", "y")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("t.x->y", 3L, 1L, 2L)))
  }
}
