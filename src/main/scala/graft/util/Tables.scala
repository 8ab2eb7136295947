package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders + oracle-determinism helpers.
  *
  * The reference snapshot (/root/reference/LICENSE:1-201 is its only
  * file) defines no data model; the corpus in TESTDATA.md does. Every
  * query in this engine is a pure function of (SparkSession, sfDir)
  * reading these parquet tables.
  *
  * Determinism rules (SURVEY.md §1.5): money aggregates go through
  * exact DECIMAL accumulation and are surfaced as DOUBLE so that Spark
  * and the DuckDB oracle produce bit-identical values regardless of
  * partial-aggregation order.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts has shipped in TWO physical encodings across corpus
    * generations: parquet TIMESTAMP(NANOS) (read as nanos-since-epoch
    * via the `nanosAsLong` session flag — Spark 4 refuses to read
    * ns as a timestamp) and, since the 2026-08-13 regeneration,
    * TIMESTAMP(MICROS) isAdjustedToUTC=false (read natively as
    * TIMESTAMP_NTZ). Branching on the READ type makes the loader
    * correct for both: a LongType read is ns (µs-resolution, so `div
    * 1000` is lossless — verified every ns value % 1000 == 0), and
    * any timestamp read is cast to the session-µs TIMESTAMP so every
    * downstream query sees one stable type. Session tz is pinned UTC,
    * so the NTZ→TZ cast re-labels the same wall-clock instant.
    *
    * The conf.set below is a defensive no-op under our own sessions
    * (builders already set it) and exists for driver-owned sessions;
    * it always sets the same constant, so there is no read-order race.
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** NOTE (data reality, verified): lineitem's (l_orderkey,
    * l_linenumber) is NOT unique in this corpus — any deterministic
    * ordering over lineitem rows must sort by the FULL output tuple. */
  val lineitemCols: Seq[String] = Seq("l_orderkey", "l_partkey",
    "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

  /** Exact fixed-point view of a money/rate double column. 15,2 keeps
    * products of two/three operands inside DECIMAL(38,_) in both Spark
    * and DuckDB (their precision-propagation rules differ above that).
    */
  def money(c: Column): Column = c.cast("decimal(15,2)")

  /** Exact cents of a money column, as BIGINT. */
  def cents(c: Column): Column = (money(c) * 100).cast("bigint")

  /** Final surface type for any aggregate that went through decimal
    * accumulation: one deterministic decimal->IEEE754 rounding on both
    * engines. */
  def asD(c: Column): Column = c.cast("double")
}
