package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.util.Sessions — engine sessions share compiled code. Spark
  * caches generated classes keyed on (context classloader, code body);
  * with artifact isolation on, every `newSession()` runs its tasks
  * under its own classloader and recompiles every whole-stage class.
  * These tests guard against a Spark upgrade or a config edit quietly
  * bringing the per-session recompiles back. */
class SessionsSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  /** Janino compiles so far in this JVM. The histogram is updated in
    * the codegen cache's loader, i.e. once per cache miss. */
  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // A literal no other code in this JVM carries: the first run of a
  // query that filters on it must compile, whatever ran before.
  private val salt = -1L - (System.nanoTime() & 0xffffffffL)

  /** One fixed aggregate over a corpus table. The salted filter keeps
    * every row (order keys are positive) but makes the code unique. */
  private def aggregate(s: SparkSession): Seq[Row] =
    graft.util.Tables.load(s, sf, "lineitem")
      .where(col("l_orderkey") =!= lit(salt))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .orderBy(col("l_returnflag"))
      .collect().toSeq

  test("engine sessions and their newSession()s run with artifact isolation off") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.newSession().conf
      .get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("the compile counter counts cache misses only; a second newSession() adds none") {
    val first = spark.newSession()
    val c0 = compiles
    val r1 = aggregate(first)
    val c1 = compiles
    assert(c1 > c0, "the salted aggregate compiled nothing: the counter is blind")
    // same session, same code: a cache hit, so the counter stays put
    assert(aggregate(first) == r1)
    assert(compiles == c1, s"a cache hit was counted: ${compiles - c1} compiles")
    // a fresh session runs the same query without compiling anything
    val r2 = aggregate(spark.newSession())
    assert(compiles == c1,
      s"a new session recompiled ${compiles - c1} classes")
    assert(r2 == r1)
    assert(r1.nonEmpty)
  }
}
