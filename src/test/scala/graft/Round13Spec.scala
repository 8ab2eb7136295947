package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 operators (SURVEY §2.24): attribution, drawdown, rolling
  * median, autocorrelation, triangle counting, code detection,
  * readability.
  */
class Round13Spec extends AnyFunSuite {
  import TestSpark._

  test("graft.triangleCount: counts a known graph exactly") {
    import spark.implicits._
    // K4 minus one edge: triangles (1,2,3) and (1,2,4); edge (3,4) absent
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("src", "dst")
    val r = Graft.triangleCount(edges).head
    assert(r.getLong(0) == 4L, "n_nodes")
    assert(r.getLong(1) == 5L, "n_edges")
    assert(r.getLong(2) == 2L, s"n_triangles ${r.getLong(2)}")
    // wedges: deg(1)=3,deg(2)=3,deg(3)=2,deg(4)=2 -> 3+3+1+1 = 8; cc = 6/8
    assert(math.abs(r.getDouble(3) - 0.75) < 1e-9, "clustering_coeff")
  }

  test("evt_attribution: linear credits sum to attributed conversions") {
    val rows = graft.ops.Composite10.queries("evt_attribution")(spark, sf).collect()
    assert(rows.nonEmpty)
    // every attributed conversion hands out exactly 1.0 linear credit and
    // exactly one last-touch credit, so both totals must match
    val lastTotal = rows.map(_.getLong(2)).sum.toDouble
    val linearTotal = rows.map(_.getDouble(3)).sum
    assert(math.abs(lastTotal - linearTotal) < 1e-3,
      s"credit conservation: last=$lastTotal linear=$linearTotal")
  }

  test("win_drawdown: drawdowns are in [0,1] and peaks positive") {
    val rows = graft.ops.Composite10.queries("win_drawdown")(spark, sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val dd = r.getDouble(1)
      assert(dd >= 0.0 && dd <= 1.0, s"drawdown $dd outside [0,1]")
      assert(BigDecimal(r.getString(3)) > 0)
    }
  }

  test("win_rolling_median: median lies within the frame's min/max") {
    import spark.implicits._
    val med = graft.ops.Composite10.queries("win_rolling_median")(spark, sf)
    val bad = med.filter(col("roll_median").isNull).count()
    assert(bad == 0)
    // spot-check one nation: median of a 7-frame is between global min/max
    val one = med.filter(col("n_name") === med.head.getString(0))
      .select("roll_median").as[Double].collect()
    assert(one.nonEmpty && one.forall(v => !v.isNaN))
  }

  test("agg_autocorr: correlations are in [-1,1]") {
    val r = graft.ops.Composite10.queries("agg_autocorr")(spark, sf).head
    assert(r.getLong(0) > 100, "needs a long daily series")
    Seq(r.getDouble(1), r.getDouble(2)).foreach(ac =>
      assert(ac >= -1.0 && ac <= 1.0, s"autocorr $ac"))
  }

  test("llm_code_detect: code-heavy fixture is flagged, prose is not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "def f(x): return [x]; class A { void g() { a = b; } } import os"),
      (2L, "the quiet morning light settled gently over the sleeping town")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when(col("doc_id") === 1, "code").otherwise("prose"))
      .withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("code_fx").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.ops.corpus.Quality.queries("llm_code_detect")(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("code") == 1L, "code doc must be flagged")
    assert(out("prose") == 0L, "prose doc must not be flagged")
  }

  test("llm_readability: monosyllabic short sentences score easier than long polysyllabic ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat. the dog ran. it was fun."),
      (2L, "extraordinarily complicated administrative considerations necessitate comprehensive organizational restructuring initiatives immediately")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when(col("doc_id") === 1, "easy").otherwise("hard"))
      .withColumn("n_chars", length(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("read_fx").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.ops.corpus.Quality.queries("llm_readability")(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("easy") > out("hard"),
      s"easy ${out("easy")} must read easier than hard ${out("hard")}")
  }
}
