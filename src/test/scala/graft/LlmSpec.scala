package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the §2.11 algorithmic rows (SURVEY §5.4): LSH
  * near-dup recall/precision on planted pairs, dedup idempotence,
  * similarity-search ordering. */
class LlmSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def mkDocs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("llm_dedup_near: planted near-duplicate recalled, unrelated not paired") {
    val base = (0 until 60).map(i => s"w$i").mkString(" ")
    val nearDup = ((0 until 60).map(i => if (i == 30) "CHANGED" else s"w$i")).mkString(" ")
    val unrelated = (0 until 60).map(i => s"z$i").mkString(" ")
    val pairs = graft.ops.dedup.NearDup.nearDupPairs(
      mkDocs(Seq((1L, base), (2L, nearDup), (3L, unrelated))))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.sameElements(Array((1L, 2L))), s"got ${pairs.mkString(",")}")
  }

  test("llm_dedup_near: identical docs get jaccard 1.0") {
    val t = (0 until 40).map(i => s"t$i").mkString(" ")
    val out = graft.ops.dedup.NearDup.nearDupPairs(mkDocs(Seq((7L, t), (9L, t))))
      .collect()
    assert(out.length == 1 && out(0).getDouble(2) == 1.0)
  }

  test("llm_dedup_near_verified: LSH output equals exhaustive exact Jaccard on the sf corpus") {
    // The oracle-checked twin's whole claim is recall = 1.0 against
    // the all-pairs ground truth; assert it in-engine too so a
    // banding-parameter change that silently loses a pair fails here
    // before it fails the driver's hash compare.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sets = graft.ops.dedup.NearDup.shingleSets(docs)
    val exhaustive = sets.as("a").join(sets.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.SortedJaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
    val lsh = graft.SparkEntry.queries("llm_dedup_near_verified")(spark, sf)
    assert(lsh.exceptAll(exhaustive).isEmpty && exhaustive.exceptAll(lsh).isEmpty)
  }

  test("MinHashSig kernel is bit-identical to the 32x array_min(transform) form") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val sets = graft.ops.dedup.NearDup.shingleSets(docs)
    def seedA(i: Int): Long = 0x9E3779B97F4A7C15L * (2 * i + 1)
    val hof = sets.select(col("doc_id"),
      array((0 until 32).map(i =>
        array_min(transform(col("sh"), h => xxhash64(lit(seedA(i)), h)))): _*)
        .as("sig"))
    val kernel = sets.select(col("doc_id"),
      graft.functions.MinHashSig(col("sh"), 32).as("sig"))
    assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty)
  }

  test("SimHashSig kernel is bit-identical to the explode + 64-bit-count aggregate form") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    // the retired round-2 aggregate formulation, rebuilt as the oracle
    val tokenHashes = docs.select(col("doc_id"),
      explode(expr("array_distinct(transform(split(text, ' '), t -> xxhash64(t)))"))
        .as("h"))
    val bitCounts = (0 until 64).map(j =>
      sum(expr(s"(h >> $j) & 1")).as(s"c$j")) :+ count(lit(1)).as("n")
    val packed = (0 until 64).map(j =>
      when(col(s"c$j") * 2 >= col("n"), shiftleft(lit(1L), j)).otherwise(0L))
      .reduce(_ + _)
    val agg = tokenHashes.groupBy(col("doc_id"))
      .agg(bitCounts.head, bitCounts.tail: _*)
      .select(col("doc_id"), packed.as("sim"))
    val kernel = graft.ops.dedup.NearDup.simhash(docs)
    assert(kernel.exceptAll(agg).isEmpty && agg.exceptAll(kernel).isEmpty)
  }

  test("SignBuckets kernel is bit-identical to the explode + 32-sum aggregate form") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the retired aggregate formulation, rebuilt as the oracle
    val dotCols = (0 until 32).map { i =>
      sum(col("v").cast("double") *
        (expr(s"CAST(pmod(xxhash64(${i}L, CAST(d AS BIGINT)), 1000L) AS DOUBLE)")
          / 1000.0 - 0.5)).as(s"dot$i")
    }
    val dots = emb.select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "d", "v")
      .groupBy(col("vec_id")).agg(dotCols.head, dotCols.tail: _*)
    val buckets = (0 until 4).map { t =>
      (0 until 8).map(b =>
        when(col(s"dot${t * 8 + b}") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"bucket$t")
    }
    val agg = dots.select(col("vec_id") +: buckets: _*)
    val kernel = graft.ops.retrieval.Ann.annBuckets(emb)
    assert(kernel.exceptAll(agg).isEmpty && agg.exceptAll(kernel).isEmpty)
  }

  test("SortedJaccard equals intersect/union form on the real bigram sets") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    val g = docs.select(col("doc_id"),
      sort_array(expr(
        """array_distinct(transform(sequence(0, size(split(text,' ')) - 2),
          |  i -> xxhash64(concat_ws(' ', element_at(split(text,' '), i + 1),
          |                               element_at(split(text,' '), i + 2)))))"""
          .stripMargin)).as("bg"))
    val pairs = g.as("a").crossJoin(g.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id")).limit(2000)
      .select(
        graft.functions.SortedJaccard(col("a.bg"), col("b.bg")).as("sj"),
        (size(array_intersect(col("a.bg"), col("b.bg"))).cast("double") /
          size(array_union(col("a.bg"), col("b.bg"))).cast("double")).as("iu"))
    assert(pairs.filter(col("sj") =!= col("iu")).count() == 0)
  }

  test("llm_dedup_exact: survivor count equals distinct-hash count (idempotence)") {
    val perSource = SparkEntry.queries("llm_dedup_exact")(spark, sf)
      .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    val distinctHashes = graft.util.Tables.load(spark, sf, "documents")
      .select(md5(col("text"))).distinct().count()
    assert(perSource == distinctHashes)
  }

  test("llm_simsearch_topk: 10 rows, sorted by similarity desc") {
    val rows = SparkEntry.queries("llm_simsearch_topk")(spark, sf).collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getDouble(2))
    assert(sims.sameElements(sims.sortBy(-_)))
  }

  test("llm_dedup_simhash: identical docs pair at hamming 0; unrelated do not") {
    val t = (0 until 50).map(i => s"s$i").mkString(" ")
    val other = (0 until 50).map(i => s"q${i}x").mkString(" ")
    val pairs = graft.ops.dedup.NearDup.simhashPairs(
      mkDocs(Seq((1L, t), (2L, t), (3L, other))), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.sameElements(Array((1L, 2L, 0))), s"got ${pairs.mkString(",")}")
  }

  test("llm_dedup_simhash: one-word edit stays within small hamming distance") {
    val base = (0 until 60).map(i => s"m$i").mkString(" ")
    val nearDup = (0 until 60).map(i => if (i == 30) "CHANGED" else s"m$i").mkString(" ")
    val pairs = graft.ops.dedup.NearDup.simhashPairs(
      mkDocs(Seq((1L, base), (2L, nearDup))), maxHamming = 16)
      .collect()
    assert(pairs.length == 1 && pairs(0).getInt(2) <= 16,
      s"near-dup not recalled: ${pairs.mkString(",")}")
  }

  test("llm_multimodal_binary: stub decode yields consistent byte stats") {
    val rows = SparkEntry.queries("llm_multimodal_binary")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      // ASCII corpus: utf-8 byte count == char count
      assert(r.getInt(1) == r.getLong(5).toInt, s"n_bytes != n_chars for $r")
      assert(r.getString(3).length == 16) // 8 head bytes -> 16 hex chars
    }
  }

  test("llm_fingerprint: permuted token order gives identical fingerprint") {
    import spark.implicits._
    val a = SparkEntry.queries("llm_fingerprint")(spark, sf)
      .filter(col("doc_id") === 0).collect()(0).getString(1)
    // fingerprint is over the SORTED DISTINCT token set: recompute
    // from the raw text independently and compare
    val text = graft.util.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") === 0).collect()(0).getAs[String]("text")
    val canon = text.split(" ").distinct.sorted.mkString(" ")
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(a == expected)
  }

  test("llm_simsearch_ann: planted identical vectors always recalled (share all buckets)") {
    import spark.implicits._
    // deterministic pseudo-random corpus + 3 planted exact duplicates
    // of the query vectors (ids 1000+q)
    def vec(seed: Int): Array[Float] =
      (0 until 64).map(d => math.sin(seed * 64.0 + d).toFloat).toArray
    val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
    val planted = Seq(0, 7, 21).map(q => (1000L + q, vec(q)))
    val df = (corpus ++ planted).toDF("vec_id", "embedding")
    val got = graft.ops.retrieval.Ann.annTopK(df, col("vec_id").isin(0L, 7L, 21L), k = 5)
      .collect().groupBy(_.getLong(0))
    Seq(0L, 7L, 21L).foreach { q =>
      val hits = got.getOrElse(q, Array.empty)
      assert(hits.exists(r => r.getLong(1) == 1000L + q && r.getDouble(2) == 1.0),
        s"planted duplicate of $q not recalled: ${hits.mkString(",")}")
    }
  }

  test("llm_sample_stratified: per-stratum counts within binomial tolerance") {
    val got = SparkEntry.queries("llm_sample_stratified")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val totals = graft.util.Tables.load(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val fractions = Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.25)
    fractions.foreach { case (lang, f) =>
      val n = totals(lang)
      val expect = n * f
      val sd = math.sqrt(n * f * (1 - f))
      val sampled = got.getOrElse(lang, 0L).toDouble
      assert(math.abs(sampled - expect) < 5 * sd + 3,
        s"$lang: sampled $sampled of $n at $f")
    }
  }

  test("llm_pack_sequences: bins respect the running 512-token budget") {
    val rows = SparkEntry.queries("llm_pack_sequences")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // bins are non-decreasing per lang and each doc's bin equals the
    // pre-fill cumulative count divided by the budget
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      var cum = 0L
      sorted.foreach { case (_, _, nTok, bin) =>
        assert(bin == cum / 512, s"bin mismatch at cum=$cum")
        cum += nTok
      }
    }
  }

  test("llm_simsearch_knn: exactly k=5 neighbours per query, none self") {
    val rows = SparkEntry.queries("llm_simsearch_knn")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q has ${rs.length} neighbours")
      assert(!rs.exists(_.getLong(1) == q), s"query $q returned itself")
    }
  }

  test("llm_simsearch_topk: blocked triangle join equals local brute force") {
    import spark.implicits._
    // 50 deterministic vectors through the REAL query path (parquet
    // dir), checked against an exact driver-side brute force with the
    // same double math — proves the block/orientation algebra drops
    // and duplicates nothing.
    def vec(seed: Int): Array[Float] =
      (0 until 16).map(d => math.cos(seed * 16.0 + d).toFloat).toArray
    val n = 50
    val dir = java.nio.file.Files.createTempDirectory("graft_topk").toString
    (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("llm_simsearch_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vs = (0 until n).map(vec)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
    val inv = vs.map(v => 1.0 / math.sqrt(dot(v, v)))
    val want = (for {
      a <- 0 until n; b <- a + 1 until n
      cos = dot(vs(a), vs(b)) * inv(a) * inv(b) // bit-identical to the query's math
      r = BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    } yield (a.toLong, b.toLong, r))
      .sortBy { case (a, b, c) => (-c, a, b) }.take(10)
    assert(got.sameElements(want),
      s"\ngot  ${got.mkString(",")}\nwant ${want.mkString(",")}")
  }

  test("llm_simsearch_ivf: planted duplicate recalled; cells partition the corpus") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      (0 until 64).map(d => math.sin(seed * 64.0 + d).toFloat).toArray
    // corpus of 300 + exact duplicates of the query vectors: a
    // duplicate lands in the query's own nearest cell, so even
    // nprobe=1 must recall it at cos_sim 1.0
    val corpus = (0 until 300).map(i => (i.toLong, vec(i)))
    val planted = Seq(0, 97, 200).map(q => (1000L + q, vec(q)))
    val df = (corpus ++ planted).toDF("vec_id", "embedding")
    val got = graft.ops.retrieval.Ann.ivfTopK(df, col("vec_id").isin(0L, 97L, 200L), k = 5)
      .collect().groupBy(_.getLong(0))
    Seq(0L, 97L, 200L).foreach { q =>
      val hits = got.getOrElse(q, Array.empty)
      assert(hits.exists(r => r.getLong(1) == 1000L + q && r.getDouble(2) == 1.0),
        s"planted duplicate of $q not recalled: ${hits.mkString(",")}")
    }
  }

  test("llm_knn_classify: IVF-candidate vote equals the exact LOO vote on a clustered corpus") {
    import spark.implicits._
    // 10 tight clusters on near-orthogonal axes: member i of cluster c
    // points along dim c with a small deterministic jitter in dim
    // 32+c, so every vector's true 5-NN are cluster-mates and
    // cross-cluster cosine is ~0. Ids are c*100+i with centEvery=100,
    // so the IVF coarse centroids are exactly one member per cluster
    // and every vector's nearest cell is its own cluster — the IVF
    // candidate set provably contains the true top-5, making the
    // approximate plan EXACT here. (On the near-uniform driver corpus
    // that containment fails, which is why the declared query is the
    // exact symmetric plan — this fixture pins the scale path's
    // semantics instead.)
    def vec(c: Int, i: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(c) = 1.0f
      a(32 + c) = 0.01f * (i % 7)
      a
    }
    val rows = for (c <- 0 until 10; i <- 0 until 30)
      yield (c * 100L + i, vec(c, i), c)
    val df = rows.toDF("vec_id", "embedding", "label")
    val exact = graft.ops.retrieval.Geometry.knnClassifyExact(df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ivf = graft.ops.retrieval.Geometry
      .knnClassifyIvf(df, nprobe = 2, centEvery = 100).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ivf.sameElements(exact),
      s"\nivf   ${ivf.mkString(",")}\nexact ${exact.mkString(",")}")
    // and the clusters are actually learnable: every class perfect
    assert(exact.forall { case (_, n, nc, acc) => n == 30 && nc == 30 && acc == 1.0 },
      s"fixture not cleanly clustered: ${exact.mkString(",")}")
  }

  test("llm_bloom_prefilter: seenFilter is exactly the seen ∩ incoming set") {
    import spark.implicits._
    // bloom false positives must be cancelled by the exact verify join;
    // false negatives are impossible — so the result is exact.
    val seen = (0L until 500L).map(i => i * 3).toDF("k")
    val incoming = (0L until 1000L).toDF("k")
    val got = graft.ops.corpus.Sampling.seenFilter(seen, incoming, "k",
        expectedItems = 500, numBits = 4000) // deliberately tight bloom
      .collect().map(_.getLong(0)).sorted
    val want = (0L until 1000L).filter(i => i % 3 == 0 && i / 3 < 500).sorted
    assert(got.sameElements(want), s"got ${got.length}, want ${want.length}")
  }
}
