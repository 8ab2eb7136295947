package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Verify's dump loop: a row whose builder throws leaves no table and
  * one `name<TAB>message` line in the failures file; the other rows
  * are still written. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def failures(out: String): Seq[String] =
    Files.readString(Paths.get(out, Verify.FailuresFile))
      .split("\n", -1).toSeq.filter(_.nonEmpty)

  test("a throwing builder is listed in the failures file, the rest are dumped") {
    val out = Files.createTempDirectory("graft_verify").toString
    val rows: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok_row" -> ((s: SparkSession, _: String) => s.range(3).toDF("id")),
      "bad_row" -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("no such\ttable\nat line 2")))
    val failed = Verify.dump(spark, TestSpark.sf, out, rows)
    assert(failed.map(_._1) == Seq("bad_row"))
    assert(failures(out) == Seq("bad_row\tno such table at line 2"))
    assert(spark.read.parquet(s"$out/ok_row").count() == 3)
    assert(!Files.exists(Paths.get(out, "bad_row")))
  }

  test("a clean dump writes an empty failures file") {
    val out = Files.createTempDirectory("graft_verify").toString
    val failed = Verify.dump(spark, TestSpark.sf, out,
      Map("ok_row" -> ((s: SparkSession, _: String) => s.range(1).toDF("id"))))
    assert(failed.isEmpty)
    assert(Files.readString(Paths.get(out, Verify.FailuresFile)).isEmpty)
  }
}
