package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoin, AsOfJoinExec, AsOfJoinStrategy}

/** The bespoke sort-merge as-of operator (LogicalPlan + Strategy +
  * SparkPlan): semantics against hand-computed fixtures and the
  * window formulation, and the plan shape it was built for. */
class AsOfJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.{sf, spark}

  private def t(s: String): Timestamp = Timestamp.valueOf(s"2024-01-$s:00")

  test("as-of semantics: greatest right time <= left time, per key; no match -> dropped") {
    import spark.implicits._
    val quotes = Seq( // (key, time, px)
      (1L, t("01 10:00"), 100.0), (1L, t("01 11:00"), 110.0),
      (2L, t("01 10:30"), 200.0)).toDF("k", "qt", "px")
    val trades = Seq( // (key, time, id)
      (1L, t("01 10:30"), 1L), // -> 10:00 quote
      (1L, t("01 11:00"), 2L), // inclusive boundary -> 11:00 quote
      (1L, t("01 09:00"), 3L), // before any quote -> dropped
      (2L, t("01 12:00"), 4L), // -> 10:30 quote
      (3L, t("01 12:00"), 5L)) // no quotes for key 3 -> dropped
      .toDF("k", "tt", "id")
    val got = AsOfJoin(trades, quotes,
        trades("k"), quotes("k"), trades("tt"), quotes("qt"))
      .select(col("id"), col("px")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(got.sameElements(Array((1L, 100.0), (2L, 110.0), (4L, 200.0))),
      s"got ${got.mkString(",")}")
  }

  test("null keys and times never match and never poison the merge") {
    import spark.implicits._
    val right = Seq((Some(1L), Some(t("01 10:00")), "a"),
      (None, Some(t("01 09:00")), "nullkey"),
      (Some(1L), None, "nulltime")).toDF("k", "rt", "tag")
    val left = Seq((Some(1L), Some(t("01 12:00")), 1L),
      (None, Some(t("01 12:00")), 2L),
      (Some(1L), None, 3L)).toDF("k", "lt", "id")
    val got = AsOfJoin(left, right, left("k"), right("k"), left("lt"), right("rt"))
      .select(col("id"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.sameElements(Array((1L, "a"))), s"got ${got.mkString(",")}")
  }

  test("equals the union + window formulation on the real corpus") {
    val merge = SparkEntry.queries("join_asof_merge")(spark, sf)
      .withColumn("ts", col("ts").cast("timestamp"))
    val window = SparkEntry.queries("join_asof_partitioned")(spark, sf)
      .withColumn("ts", col("ts").cast("timestamp"))
    assert(merge.exceptAll(window).isEmpty && window.exceptAll(merge).isEmpty)
  }

  test("survives many partitions: same result at 7-way pre-partitioning") {
    import spark.implicits._
    val right = (0L until 50L).flatMap(k =>
      Seq((k, t(f"01 ${10 + (k % 5).toInt}%02d:00"), k * 10)))
      .toDF("k", "rt", "v").repartition(7)
    val left = (0L until 200L).map(i =>
      (i % 50, t(f"01 ${12 + (i % 3).toInt}%02d:30"), i))
      .toDF("k", "lt", "id").repartition(7)
    val viaOp = AsOfJoin(left, right, left("k"), right("k"), left("lt"), right("rt"))
      .select(col("id"), col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // reference: window formulation over the same frames
    val u = left.select(col("k"), col("lt").as("tm"), col("id"),
        lit(1).as("is_l"), lit(null).cast("long").as("v"))
      .unionByName(right.select(col("k"), col("rt").as("tm"),
        lit(null).cast("long").as("id"), lit(0).as("is_l"), col("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      .orderBy(asc("tm"), asc("is_l")).rowsBetween(Long.MinValue, 0)
    val viaWin = u.withColumn("last_v", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("is_l") === 1 && col("last_v").isNotNull)
      .select(col("id"), col("last_v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaOp.sameElements(viaWin))
  }

  test("plan: AsOfJoinExec with one exchange + sort per side") {
    val df = SparkEntry.queries("join_asof_merge")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n$plan")
    val inner = plan.split("AsOfJoin")(1) // the exec's subtree
    // exactly one single-key co-partitioning exchange per side (the
    // right side's .distinct() legitimately adds its own two-column
    // aggregation exchange below them)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(inner).length == 1 &&
      "Exchange hashpartitioning\\(o_custkey#\\d+L, \\d".r.findAllIn(inner).length == 1,
      s"expected one co-partitioning exchange per side under the exec:\n$plan")
  }

  test("a fresh session plans AsOfJoinExec through AsOfJoin.apply alone") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(AsOfJoinStrategy))
    val merge = SparkEntry.queries("join_asof_merge")(fresh, sf)
    merge.collect()
    assert(collect(merge.queryExecution.executedPlan) { case e: AsOfJoinExec => e }.size == 1,
      merge.queryExecution.executedPlan)
    val window = SparkEntry.queries("join_asof_partitioned")(fresh, sf)
    val (m, w) = (merge.withColumn("ts", col("ts").cast("timestamp")),
      window.withColumn("ts", col("ts").cast("timestamp")))
    assert(!m.isEmpty && m.exceptAll(w).isEmpty && w.exceptAll(m).isEmpty)
  }
}
