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
  * bringing the per-session recompiles back.
  *
  * Engine sessions also size file splits for two per core, so a scan
  * of a few more files than cores runs in whole waves; the last two
  * tests pin that rule and show that Spark's default packs the same
  * files into fewer, partly idle, tasks. */
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

  private val MinPartitionNum = "spark.sql.files.minPartitionNum"

  test("engine sessions and their newSession()s split file scans for two per core") {
    val perCore2 = (2 * spark.sparkContext.defaultParallelism).toString
    assert(spark.conf.get(MinPartitionNum) == perCore2)
    assert(spark.newSession().conf.get(MinPartitionNum) == perCore2)
  }

  /** Scan partitions of a planted table: ⌈2.5·P⌉ equal files of one row
    * group each, P the fixture's default parallelism, read in a
    * `newSession()` whose open cost is lowered below a file's length so
    * these small files pack the way 10 MB files do at the 4 MB default
    * (two files per split at P splits' worth of bytes). With
    * `sparkDefault` the session drops the engine's minPartitionNum. */
  private def scanPartitions(sparkDefault: Boolean): (Int, Int) = {
    val p = spark.sparkContext.defaultParallelism
    val files = math.ceil(2.5 * p).toInt
    val dir = java.nio.file.Files.createTempDirectory("graft_split_spec")
    try {
      val path = dir.resolve("t").toString
      spark.range(0, files * 2000L, 1, files)
        .selectExpr("id", "sha2(cast(id AS string), 256) AS h")
        .write.parquet(path)
      val s = spark.newSession()
      s.conf.set("spark.sql.files.openCostInBytes", "4096")
      if (sparkDefault) s.conf.unset(MinPartitionNum)
      val t = s.read.parquet(path)
      (t.inputFiles.length, t.rdd.getNumPartitions)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a table of 2.5x as many files as cores scans as one partition per file") {
    val (files, parts) = scanPartitions(sparkDefault = false)
    assert(files == math.ceil(2.5 * spark.sparkContext.defaultParallelism).toInt)
    assert(parts == files, s"$files files scanned in $parts partitions")
  }

  test("control: with minPartitionNum unset the same files pack into fewer partitions") {
    val (files, parts) = scanPartitions(sparkDefault = true)
    assert(parts < files, s"$files files scanned in $parts partitions")
  }
}
