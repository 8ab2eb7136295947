package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SortedLongSets

/** The primitive sorted-set operator against `sort_array(collect_set)`:
  * planted edge cases, randomized equality at 1 and 4 shuffle
  * partitions, forced early flushes of the partial table, and the plan
  * and schema of the order-product-set memo build. */
class SortedLongSetsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.{sf, spark}

  private def viaCollectSet(df: DataFrame): DataFrame =
    df.groupBy(col("k")).agg(sort_array(collect_set(col("v"))).as("vs"))

  /** Rows as (key or None, values), ordered by key. */
  private def rows(df: DataFrame): Seq[(Option[Long], Seq[Long])] =
    df.collect().toSeq
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getSeq[Long](1)))
      .sortBy(_._1)

  private def frame(s: SparkSession, kv: Seq[(Option[Long], Option[Long])],
      parts: Int): DataFrame = {
    import s.implicits._
    s.createDataset(kv).toDF("k", "v").repartition(parts)
  }

  private val planted = Seq(
    Some(1L) -> Some(3L), Some(1L) -> Some(1L), Some(1L) -> Some(3L),
    Some(1L) -> None,
    None -> Some(5L), None -> Some(5L), None -> Some(2L),
    Some(2L) -> None, Some(2L) -> None,
    Some(3L) -> Some(7L),
    Some(-4L) -> Some(Long.MaxValue), Some(-4L) -> Some(Long.MinValue))

  /** Random pairs with nulls, groups of 1 to ~60 values (past the
    * insertion-sort bound) and duplicate-heavy ones. */
  private def randomPairs(seed: Long, n: Int): Seq[(Option[Long], Option[Long])] = {
    val rnd = new scala.util.Random(seed)
    def maybe(p: Double, x: => Long): Option[Long] =
      if (rnd.nextDouble() < p) None else Some(x)
    Seq.fill(n) {
      val k = maybe(0.01, rnd.nextInt(120) - 20L)
      val v = k match {
        case Some(x) if x % 3 == 0 => maybe(0.02, rnd.nextInt(3).toLong) // few distinct
        case Some(x) if x % 3 == 1 => maybe(0.02, rnd.nextLong()) // all distinct
        case _ => maybe(0.1, rnd.nextInt(40) - 20L)
      }
      k -> v
    }
  }

  test("planted: null key, null values, all-null group, duplicates") {
    val df = frame(spark, planted, 3)
    val got = rows(SortedLongSets(df, "k", "v", "vs"))
    assert(got == Seq(
      None -> Seq(2L, 5L),
      Some(-4L) -> Seq(Long.MinValue, Long.MaxValue),
      Some(1L) -> Seq(1L, 3L),
      Some(2L) -> Seq.empty[Long],
      Some(3L) -> Seq(7L)))
    assert(got == rows(viaCollectSet(df)))
  }

  test("empty input gives no rows and the collect_set schema") {
    val df = frame(spark, Seq(Some(1L) -> Some(1L)), 2).filter(lit(false))
    val sets = SortedLongSets(df, "k", "v", "vs")
    assert(sets.collect().isEmpty)
    assert(sets.schema == viaCollectSet(df).schema)
  }

  test("a key present in every input partition is one group") {
    val df = spark.range(0, 4000, 1, 8)
      .select(when(col("id") % 2 === 0, lit(42L)).otherwise(col("id") % 5).as("k"),
        (col("id") % 37).as("v"))
    assert(df.rdd.getNumPartitions == 8)
    val got = rows(SortedLongSets(df, "k", "v", "vs"))
    assert(got.count(_._1.contains(42L)) == 1)
    assert(got == rows(viaCollectSet(df)))
  }

  test("randomized equality with collect_set at 1 and 4 shuffle partitions") {
    val rnd = new scala.util.Random(20261019L)
    def maybe(p: Double, x: => Long): Option[Long] =
      if (rnd.nextDouble() < p) None else Some(x)
    val kv = Seq.fill(6000)(
      maybe(0.02, rnd.nextInt(400) - 50L) -> maybe(0.05, rnd.nextInt(60).toLong))
    for (parts <- Seq(1, 4)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val df = frame(s, kv, 6)
      val sets = SortedLongSets(df, "k", "v", "vs")
      assert(sets.rdd.getNumPartitions == parts)
      assert(rows(sets) == rows(viaCollectSet(df)), s"at $parts partitions")
    }
  }

  test("early flushes of the partial table merge to the same sets") {
    val rnd = new scala.util.Random(7L)
    val kv = Seq.fill(3000)(Some(rnd.nextInt(90).toLong) -> Some(rnd.nextInt(40).toLong)) ++
      Seq(None -> Some(1L), None -> None, Some(500L) -> None)
    val df = frame(spark, kv, 2)
    val want = rows(viaCollectSet(df))
    for (flushAt <- Seq(1, 5, 64))
      assert(rows(SortedLongSets(df, "k", "v", "vs", flushAt)) == want,
        s"flushAt $flushAt")
  }

  test("a partial table past one block of keys and of values") {
    // 70,000 keys and 200,000 values in one input partition: the key
    // slots and the value chains each span several 2^15-element blocks.
    val df = spark.range(0, 200000, 1, 1)
      .select((col("id") % 70000).as("k"), (col("id") % 997).as("v"))
    assert(rows(SortedLongSets(df, "k", "v", "vs")) == rows(viaCollectSet(df)))
  }

  test("non-bigint columns are refused") {
    val df = spark.range(3).select(col("id").cast("int").as("k"), col("id").as("v"))
    intercept[IllegalArgumentException](SortedLongSets(df, "k", "v", "vs"))
  }

  test("plan: the order-product-set build has one exchange and no ObjectHashAggregate") {
    val lineitem = graft.util.Tables.load(spark, sf, "lineitem")
    val build = graft.ops.Composite4.orderPsetsOn(lineitem)
    val old = lineitem.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    assert(build.schema == old.schema)
    val plan = build.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.size == 1, plan.toString)
    assert(collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty, plan.toString)
    assert(plan.toString.contains("SortedLongSets final"), plan.toString)
    assert(rows(build.toDF("k", "vs")) == rows(old.toDF("k", "vs")))
  }

  test("forced flushes at 1, 2, 3 and 7 groups + values") {
    val df = frame(spark, planted ++ randomPairs(11L, 700), 2)
    val want = rows(viaCollectSet(df))
    for (flushAt <- Seq(1, 2, 3, 7))
      assert(rows(SortedLongSets(df, "k", "v", "vs", flushAt)) == want, s"flushAt $flushAt")
  }

  test("randomized equality: large and duplicate-heavy groups") {
    val kv = randomPairs(20261020L, 8000)
    val sizes = kv.collect { case (Some(k), Some(v)) => k -> v }.distinct
      .groupBy(_._1).values.map(_.size)
    assert(sizes.max > 40 && sizes.count(_ > 16) > 20, "groups past the insertion-sort bound")
    val df = frame(spark, kv, 3)
    assert(rows(SortedLongSets(df, "k", "v", "vs")) == rows(viaCollectSet(df)))
  }
}
