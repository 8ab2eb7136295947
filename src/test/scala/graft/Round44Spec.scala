package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-24 batch-5 rows (SURVEY §2.63):
  * Grubbs' outlier statistic and parquet bloom-filter writes.
  */
class Round44Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- agg_grubbs_test ----------------------------------------------------

  test("grubbsOn: high-side outlier scored, constant group NULL-degenerate") {
    // A = {1,2,3,10}: mean 4, sample sd = sqrt(50/3) = 4.082483,
    // max-side deviation 6 >= min-side 3 -> G = 6/sd = 1.469694,
    // suspect is the 10. B constant -> sd 0 -> G NULL via nullif.
    val orders = Seq(
      ("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 10.0),
      ("B", 5.0), ("B", 5.0)
    ).toDF("o_orderpriority", "o_totalprice")
    val got = graft.ops.stats.Normality.grubbsOn(orders)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getString(5), r.getDouble(6))).toSeq
    assert(got == Seq(
      ("A", 4L, 4.0, 4.082483, Some(1.469694), "high", 10.0),
      ("B", 2L, 5.0, 0.0, None, "high", 5.0)))
  }

  // ---- scan_parquet_bloom_filter ------------------------------------------

  test("parquet bloom-filter options write footer bloom offsets for the keyed column only") {
    val p = "/tmp/graft_test_bloomf"
    Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 30L, 3.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity")
      .coalesce(1).write
      .option("parquet.bloom.filter.enabled#l_partkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_partkey", "100")
      .mode("overwrite").parquet(p)
    val file = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      val cols = rd.getFooter.getBlocks.get(0).getColumns.asScala
      val pk = cols.find(_.getPath.toDotString == "l_partkey").get
      assert(pk.getBloomFilterOffset >= 0,
        "bloom-filter option silently ignored for l_partkey")
      val ok = cols.find(_.getPath.toDotString == "l_orderkey").get
      assert(ok.getBloomFilterOffset < 0,
        "bloom filter unexpectedly written for unkeyed l_orderkey")
    } finally rd.close()
  }
}
