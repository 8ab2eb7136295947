package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 operators: Z-order layout skipping, Morton interleave
  * bit-exactness, exact-sum statistics vs Spark's streaming built-ins,
  * and ranking-op invariants (SURVEY §2.17 rows).
  */
class Round6Spec extends AnyFunSuite {
  import TestSpark._

  test("morton: x-first bit interleave is exact") {
    // x=5 (101), y=3 (011): x bits land at odd positions (1,5), y bits
    // at even (0,2) -> 2 + 32 + 1 + 4 = 39.
    val got = spark.range(1)
      .select(
        graft.ops.Scans.morton(lit(5L), lit(3L)).as("a"),
        graft.ops.Scans.morton(lit(0xFFL), lit(0L)).as("b"),
        graft.ops.Scans.morton(lit(0L), lit(0xFFL)).as("c"))
      .collect()(0)
    assert(got.getLong(0) == 39L)
    assert(got.getLong(1) == 0xAAAAL) // x occupies the odd bits
    assert(got.getLong(2) == 0x5555L) // y occupies the even bits
  }

  test("sink_zorder: custkey band skips z-ordered files but scans all date-clustered ones") {
    graft.ops.Scans.queries("sink_zorder")(spark, sf).collect()
    val zpath = graft.ops.Scans.tmp(spark, sf, "zorder")
    val z = spark.read.parquet(zpath)

    // comparison layout: the "natural" ingest order (date-clustered)
    val bpath = java.nio.file.Files.createTempDirectory("graft_zbase").toString
    graft.util.Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate",
        "o_totalprice", "o_orderpriority")
      .repartitionByRange(8, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(bpath)
    val b = spark.read.parquet(bpath)

    def filesTouched(df: org.apache.spark.sql.DataFrame,
        cond: org.apache.spark.sql.Column): Long =
      df.filter(cond).select(input_file_name()).distinct().count()

    // custkey band = bottom ~1/8 of the domain: z-order fixes the top
    // custkey bit (and more) per file, the date layout scatters it.
    val Array(lo, hi) = z.agg(min("o_custkey"), max("o_custkey"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val band = col("o_custkey").between(lo, lo + (hi - lo) / 8)
    val zTouched = filesTouched(z, band)
    val bTouched = filesTouched(b, band)
    assert(bTouched >= 7, s"date layout unexpectedly clustered: $bTouched")
    assert(zTouched <= 4, s"z-order did not cluster custkey: $zTouched files")
    assert(zTouched < bTouched)

    // and the date dimension still skips too (y's top bit is in the
    // top z bits): a ~1/8 date band must not scan every file.
    val dayc = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val Array(dlo, dhi) = z.agg(min(dayc), max(dayc))
      .collect()(0).toSeq.map(_.asInstanceOf[Int]).toArray
    val dband = dayc.between(dlo, dlo + (dhi - dlo) / 8)
    assert(filesTouched(z, dband) <= 6,
      "z-order lost the date dimension entirely")
  }

  test("agg_higher_moments: exact-sum stats match Spark's built-in population moments") {
    val got = graft.ops.Composite3.queries("agg_higher_moments")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val ref = graft.util.Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(var_pop(col("l_quantity")).as("v"),
        skewness(col("l_quantity")).as("s"),
        kurtosis(col("l_quantity")).as("k"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == ref.keySet && got.nonEmpty)
    got.foreach { case (flag, (v, s, k)) =>
      val (rv, rs, rk) = ref(flag)
      assert(math.abs(v - rv) < 1e-6, s"$flag var $v vs $rv")
      assert(math.abs(s - rs) < 1e-6, s"$flag skew $s vs $rs")
      assert(math.abs(k - rk) < 1e-6, s"$flag kurt $k vs $rk")
    }
  }

  test("agg_regression: exact-sum OLS matches Spark's built-in regr_*/corr") {
    val got = graft.ops.Composite3.queries("agg_regression")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val ref = graft.util.Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(regr_slope(col("l_extendedprice"), col("l_quantity")).as("sl"),
        regr_intercept(col("l_extendedprice"), col("l_quantity")).as("ic"),
        corr(col("l_extendedprice"), col("l_quantity")).as("c"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == ref.keySet && got.nonEmpty)
    got.foreach { case (flag, (sl, ic, c)) =>
      val (rsl, ric, rc) = ref(flag)
      assert(math.abs(sl - rsl) < 1e-4, s"$flag slope $sl vs $rsl")
      assert(math.abs(ic - ric) < 1e-2, s"$flag intercept $ic vs $ric")
      assert(math.abs(c - rc) < 1e-6, s"$flag corr $c vs $rc")
    }
  }

  test("llm_bm25: positive descending scores, idf-bounded") {
    val rows = graft.ops.LlmOps5.queries("llm_bm25")(spark, sf)
      .collect().map(_.getDouble(1))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_ > 0.0))
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
    // BM25 term contribution is bounded by idf * (k1 + 1); with 3
    // query terms and idf <= ln(1 + (N+0.5)/0.5) this caps the score.
    val n = graft.util.Tables.load(spark, sf, "documents").count().toDouble
    val cap = 3.0 * math.log(1.0 + (n + 0.5) / 0.5) * 2.2
    assert(rows.forall(_ <= cap))
  }

  test("llm_rrf_fusion: scores bounded by 2/61 and descending") {
    val rows = graft.ops.LlmOps5.queries("llm_rrf_fusion")(spark, sf)
      .collect().map(_.getDouble(1))
    assert(rows.length == 20)
    assert(rows.forall(s => s > 0.0 && s <= 2.0 / 61.0 + 1e-9))
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
  }

  test("llm_dup_span_fraction: fractions in [0,1] and a planted duplicate is fully covered") {
    import spark.implicits._
    val rows = graft.ops.dedup.NearDup.queries("llm_dup_span_fraction")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getDouble(1)
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getLong(2) >= 1L)
    }
    // planted check against the SHIPPED implementation: doc 2 copies
    // doc 1 verbatim -> both surface with dup_frac 1.0; doc 3 shares
    // nothing.
    val planted = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "q r s t u v w x y z")).toDF("doc_id", "text")
    val fr = Graft.dupSpanFraction(planted, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fr === Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.0), s"got $fr")
  }

  test("sink_dynamic_overwrite: untouched partitions keep generation-1 files") {
    graft.ops.Scans.queries("sink_dynamic_overwrite")(spark, sf).collect()
    val base = graft.ops.Scans.tmp(spark, sf, "dynover")
    val dirs = new java.io.File(base).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 5, s"expected 5 priority partitions, got ${dirs.mkString(",")}")
    // the overwritten partition holds only doubled prices; another
    // partition still matches the source exactly
    val urgent = spark.read.parquet(base)
      .filter(col("o_orderpriority") === "1-URGENT")
      .agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    val src = graft.util.Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .agg(sum(col("o_totalprice") * 2)).collect()(0).getDouble(0)
    assert(math.abs(urgent - src) < 1e-6)
  }
}
