package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based algebraic laws (SURVEY §5.4) on generated
  * in-memory relations: dedup idempotence, top-k as sorted prefix,
  * set-op cardinality identities, running-frame totals. Generators
  * stay small and cases few — each case runs real Spark jobs. */
object PropertiesSpec extends Properties("graft-laws") {
  import Prop.forAll

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withMaxSize(30)

  private lazy val spark = TestSpark.spark

  private val rows: Gen[List[(Long, Int)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(-100, 100)))

  property("exact dedup idempotent: dedup(dedup(x)) == dedup(x)") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta"))) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def dedup(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("h", md5(col("text"))).dropDuplicates("h").drop("h")
      val once = dedup(df)
      dedup(once).count() == once.count() &&
        once.count() == texts.distinct.size
    }

  property("top-k == prefix of the full sort") =
    forAll(rows.suchThat(_.nonEmpty), Gen.chooseNum(1, 10)) { (xs, k) =>
      import spark.implicits._
      val df = xs.toDF("id", "v")
      val topk = df.orderBy(desc("v"), asc("id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val full = xs.sortBy { case (id, v) => (-v, id) }.take(k).sorted
      // duplicate (id, v) tuples make the prefix ambiguous only among
      // equal rows, so multiset equality is the right check
      topk == full
    }

  property("set-op cardinalities: union-all adds, except == set difference") =
    forAll(rows, rows) { (as, bs) =>
      import spark.implicits._
      val a = as.map(_._1).toDF("k")
      val b = bs.map(_._1).toDF("k")
      a.union(b).count() == as.size + bs.size &&
        a.except(b).count() == (as.map(_._1).toSet -- bs.map(_._1).toSet).size
    }

  property("running ROWS frame ends at the group total") =
    forAll(rows.suchThat(_.nonEmpty)) { xs =>
      import spark.implicits._
      val df = xs.zipWithIndex.map { case ((g, v), i) => (g % 3, i.toLong, v.toLong) }
        .toDF("grp", "seq", "v")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy("seq")
        .rowsBetween(Long.MinValue, 0)
      val lastRunning = df.withColumn("run", sum(col("v")).over(w))
        .groupBy("grp").agg(max_by(col("run"), col("seq")).as("final_run"))
      val totals = df.groupBy("grp").agg(sum(col("v")).as("total"))
      lastRunning.join(totals, "grp")
        .filter(col("final_run") =!= col("total")).count() == 0
    }

  // (event_id, key, time) rows; ids made unique by index
  private val timedRows: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 500L)))

  property("bandJoin == brute-force theta join on random timed rows") =
    forAll(timedRows, Gen.chooseNum(10L, 120L)) { (xs, width) =>
      import spark.implicits._
      val rows = xs.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val l = rows.toDF("l_id", "l_k", "l_t")
      val r = rows.toDF("r_id", "r_k", "r_t")
      val banded = graft.Graft.bandJoin(l, r, "l_k", "r_k", "l_t", "r_t", width)
        .filter(col("l_id") < col("r_id"))
        .collect().map(x => (x.getLong(0), x.getLong(3))).toSet
      val brute = (for {
        (ai, ak, at) <- rows; (bi, bk, bt) <- rows
        if ak == bk && ai < bi && math.abs(at - bt) <= width
      } yield (ai, bi)).toSet
      banded == brute
    }

  property("connectedComponents == brute-force union-find on random graphs") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 12L)))) { es =>
      import spark.implicits._
      val edges = es.filter { case (a, b) => a != b }
      edges.isEmpty || {
        // brute-force union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(n => n -> find(n)).toMap
        // find() compresses to the min because unions always root at
        // the smaller representative
        val got = graft.Graft.connectedComponents(edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }

  property("latestByKey == in-memory maxBy per key") =
    forAll(rows.suchThat(_.nonEmpty)) { xs =>
      import spark.implicits._
      // (key, ord) pairs with a unique row id appended as tiebreaker
      val data = xs.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
      val got = graft.Graft.latestByKey(
          data.toDF("k", "v", "rid"), Seq("k"), Seq("v", "rid"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
      val expected = data.groupBy(_._1).map { case (k, g) =>
        val m = g.maxBy(t => (t._2, t._3))
        k -> (m._2, m._3)
      }
      got == expected
    }

  property("morton: bijective on 8-bit pairs and recoverable by bit deinterleave") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 255L), Gen.chooseNum(0L, 255L)))) { pts =>
      import spark.implicits._
      val got = pts.toDF("x", "y")
        .select(col("x"), col("y"), graft.Graft.morton(col("x"), col("y")).as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      got.forall { case (x, y, z) =>
        // deinterleave recovers both coordinates; x occupies odd bits
        val xr = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
        val yr = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
        xr == x && yr == y && z >= 0 && z < (1L << 16)
      }
    }

  property("rrfFuse: fused score equals hand-computed rank sums for any rankings") =
    forAll(Gen.listOfN(8, Gen.chooseNum(0, 100)),
      Gen.listOfN(8, Gen.chooseNum(0, 100))) { (sa, sb) =>
      import spark.implicits._
      val a = sa.zipWithIndex.map { case (s, i) => (i.toLong, s.toDouble) }
      val b = sb.zipWithIndex.map { case (s, i) => (i.toLong, s.toDouble) }
      val got = graft.Graft.rrfFuse(a.toDF("id", "score"), b.toDF("id", "score"),
          "id", "score", k = 60, topN = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      def ranks(xs: List[(Long, Double)]) =
        xs.sortBy { case (id, s) => (-s, id) }.take(5)
          .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
      val (ra, rb) = (ranks(a), ranks(b))
      val ids = ra.keySet ++ rb.keySet
      ids.forall { id =>
        val want = ra.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          rb.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
        math.abs(got(id) - want) < 1e-6
      } && got.keySet == ids
    }

  property("nearestCentroid == in-memory argmax of the 6-dp cosine, ties to the lowest id") =
    forAll(Gen.listOfN(3, Gen.listOfN(4, Gen.chooseNum(-3, 3))),
      Gen.listOf(Gen.listOfN(4, Gen.chooseNum(-3, 3)))) { (cs, vs) =>
      import spark.implicits._
      // Centroids 10, 20, 30 plus a duplicate of 30 under id 99 (an exact
      // tie); the vectors add copies of that centroid, its double, and
      // the zero vector (every cosine null: it lands in the lowest id).
      val cents = cs.zipWithIndex.map { case (c, i) => ((i + 1) * 10L, c) } :+
        (99L -> cs.last)
      val vecs = (vs ++ Seq(cs.last, cs.last.map(_ * 2), List.fill(4)(0)))
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      // the CosineSim loop: double accumulation in element order, null
      // for a zero norm, then Spark's round(·, 6) (HALF_UP on the
      // decimal string)
      def cos6(a: List[Int], b: List[Int]): Option[Double] = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.zip(b).foreach { case (x, y) =>
          dot += x.toDouble * y; na += x.toDouble * x; nb += y.toDouble * y }
        if (na == 0.0 || nb == 0.0) None
        else Some(java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
      }
      val order = Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering,
        Ordering.Long)
      val want = vecs.map { case (id, v) =>
        id -> cents.map { case (cid, c) =>
          val s = cos6(v, c)
          (s.isDefined, s.getOrElse(0.0), -cid) -> cid }.maxBy(_._1)(order)._2
      }.toMap
      def floats(xs: List[Int]) = xs.map(_.toFloat).toArray
      val got = graft.ops.retrieval.Neighbors.nearestCentroid(
          vecs.map { case (id, v) => (id, floats(v)) }.toDF("vec_id", "embedding"),
          cents.map { case (id, c) => (id, floats(c)) }.toDF("cent_id", "cent_emb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }

  property("Text.wordFreq == in-memory counts over split(\" \", -1), empty tokens included") =
    forAll(Gen.listOf(Gen.listOf(Gen.oneOf('a', 'b', ' ')).map(_.mkString))) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i % 2, t) }
        .toDF("g", "text")
      // a leading, trailing or doubled space yields an empty token ("" is
      // one empty token), as in Java's split with limit −1 and DuckDB's
      // string_split — the semantics every corpus oracle relies on
      val want = texts.zipWithIndex
        .flatMap { case (t, i) => t.split(" ", -1).map(w => (i % 2, w)) }
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      val got = graft.ops.corpus.Text.wordFreq(docs, "g").collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val gotAll = graft.ops.corpus.Text.wordFreq(docs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      got == want && gotAll == want.groupMapReduce(_._1._2)(_._2)(_ + _)
    }

  property("docChunks reconstruct: stride-prefixes ++ last chunk == text") =
    forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(25))),
      Gen.chooseNum(2, 8)) { (texts, stride) =>
      import spark.implicits._
      val width = stride + 2 // overlap of 2
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val chunks = graft.Graft.docChunks(docs, "doc_id", "text", width, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val cs = chunks(i.toLong)
        val rebuilt = cs.init.map(_.take(stride)).mkString + cs.last
        // a non-last chunk always has at least stride+1 chars left to
        // take (width only when the doc extends that far)
        rebuilt == t &&
          cs.init.forall(_.length > stride) && cs.last.length <= width
      }
    }

  property("shortestPathOn == brute-force multi-source BFS histogram") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 10L), Gen.chooseNum(0L, 10L)))) { es =>
      import spark.implicits._
      val half = es.filter { case (a, b) => a != b }.distinct
      half.isEmpty || {
        val adj = (half ++ half.map(_.swap)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val k = 3
        // brute-force multi-source BFS, hop-capped at k
        val dist = scala.collection.mutable.Map[Long, Long]()
        adj.keys.filter(_ % 3 == 0).foreach(dist(_) = 0L)
        var frontier = dist.keySet.toSet
        for (step <- 1L to k) {
          val next = frontier.flatMap(adj(_)).filterNot(dist.contains)
          next.foreach(dist(_) = step)
          frontier = next
        }
        val expected = adj.keys.toSeq
          .map(n => dist.getOrElse(n, -1L))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val edges = half.toDF("src", "dst")
        val got = graft.ops.graph.Paths
          .shortestPathOn(edges.union(edges.select($"dst", $"src")),
            n => n % 3 === 0, k)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }

  property("shortestPathWeightedOn == brute-force k-round min(d+w) relaxation") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 10L), Gen.chooseNum(0L, 10L),
      Gen.chooseNum(1L, 5L)))) { es =>
      import spark.implicits._
      val half = es.filter { case (a, b, _) => a != b }.distinct
      half.isEmpty || {
        val sym = half ++ half.map { case (a, b, w) => (b, a, w) }
        val nodes = sym.map(_._1).toSet
        val k = 3
        // brute-force synchronous Bellman-Ford: k rounds of
        // d(v) <- min(d(v), min over edges (v,u,w) of d_prev(u) + w)
        var dist: Map[Long, Option[Long]] = nodes.iterator
          .map(n => n -> (if (n % 3 == 0) Some(0L) else None)).toMap
        for (_ <- 1 to k) {
          val relaxed = sym.flatMap { case (v, u, w) =>
            dist(u).map(d => v -> (d + w))
          }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
          dist = dist.map { case (n, d) =>
            n -> (d.toList ++ relaxed.get(n).toList)
              .reduceOption((a: Long, b: Long) => math.min(a, b))
          }
        }
        val expected = nodes.toSeq.map(n => dist(n).getOrElse(-1L))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val edges = half.toDF("src", "dst", "w")
        val got = graft.ops.graph.Paths.shortestPathWeightedOn(
            edges.union(edges.select($"dst", $"src", $"w")),
            n => n % 3 === 0, k)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }

  /** Brute-force personalized PageRank: synchronous power iteration
    * in memory over a symmetric edge list, teleport mass restarting at
    * `seeds`, every round rounded to 12 dp like the Spark loop. */
  private def bruteRanks(sym: Seq[(Long, Long)], seeds: Set[Long],
      iterations: Int, damping: Double): Map[Long, Double] = {
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nodes = sym.flatMap { case (a, b) => Seq(a, b) }.distinct
    val outDeg = sym.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val ns = nodes.count(seeds).toDouble
    def teleport(n: Long, mass: Double) = if (seeds(n)) mass / ns else 0.0
    var r = nodes.map(n => n -> teleport(n, 1.0)).toMap
    for (_ <- 1 to iterations) {
      val contrib = sym.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => r(u) / outDeg(u) }.sum).toMap
      r = nodes.map(n => n -> r12(teleport(n, 1.0 - damping)
        + damping * contrib.getOrElse(n, 0.0))).toMap
    }
    r
  }

  private val symGraphs: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 10L), Gen.chooseNum(0L, 10L)))
      .map { es =>
        val half = es.filter { case (a, b) => a != b }
        (half ++ half.map(_.swap)).distinct
      }

  private def pprAgrees(sym: List[(Long, Long)], seeds: Set[Long],
      seed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      iterations: Int, damping: Double): Boolean = {
    import spark.implicits._
    sym.isEmpty || {
      val want = bruteRanks(sym, seeds, iterations, damping)
      val got = graft.ops.graph.Centrality
        .pprOn(sym.toDF("src", "dst"), seed, iterations, damping)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got.keySet == want.keySet &&
        got.forall { case (n, v) => math.abs(v - want(n)) < 1e-9 }
    }
  }

  property("pprOn == brute-force power iteration (random seed set)") =
    forAll(symGraphs, Gen.containerOf[Set, Long](Gen.chooseNum(0L, 10L)),
      Gen.chooseNum(1, 5), Gen.oneOf(0.5, 0.85)) { (sym, seeds, it, d) =>
      pprAgrees(sym, seeds, _.isin(seeds.toSeq: _*), it, d)
    }

  property("pprOn with every node a seed (graph_pagerank) == brute-force PageRank") =
    forAll(symGraphs, Gen.chooseNum(1, 5), Gen.oneOf(0.5, 0.85)) { (sym, it, d) =>
      pprAgrees(sym, sym.map(_._1).toSet, _ => lit(true), it, d)
    }

  property("weightedMedianOn == brute-force cumulative-weight scan") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("A", "B"),
      Gen.chooseNum(1, 9), Gen.chooseNum(1L, 5L)))) { xs =>
      import spark.implicits._
      val rows = xs.zipWithIndex.map { case ((f, p, w), i) =>
        (f, p.toDouble, i.toLong, 1, w.toDouble)
      }
      val expected = rows.groupBy(_._1).map { case (f, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        val total = sorted.map(_._5.toLong).sum
        var cum = 0L
        val med = sorted.find { r => cum += r._5.toLong; 2 * cum >= total }.get
        f -> ((med._2, total))
      }
      val got = graft.ops.Composite32.weightedMedianOn(
          rows.toDF("l_returnflag", "l_extendedprice", "l_orderkey",
            "l_linenumber", "l_quantity"))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2))))
        .toMap
      got == expected
    }

  private def floor6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6

  property("richClubOn == brute-force degree-threshold curve") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 10L), Gen.chooseNum(0L, 10L)))) { es =>
      import spark.implicits._
      val half = es.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      half.isEmpty || {
        val deg = (half.map(_._1) ++ half.map(_._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val expected = (1L to 8L).map { k =>
          val n = deg.values.count(_ > k).toLong
          val e = half.count { case (a, b) => deg(a) > k && deg(b) > k }.toLong
          val phi = if (n >= 2) Some(floor6(2.0 * e / (n.toDouble * (n - 1))))
            else None
          k -> ((n, e, phi))
        }.toMap
        val got = graft.ops.graph.Structure.richClubOn(half.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2),
              if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
        got == expected
      }
    }

  property("jaccardLinkpredOn == brute-force slice-pair scan") =
    forAll(Gen.listOf(Gen.zip(
      Gen.oneOf(0L, 20L, 40L, 60L, 1L, 2L, 3L, 21L),
      Gen.oneOf(0L, 20L, 40L, 60L, 1L, 2L, 3L, 21L)))) { es =>
      import spark.implicits._
      val half = es.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      half.isEmpty || {
        val adj = (half ++ half.map(_.swap)).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val slice = adj.keySet.filter(_ % 20 == 0).toSeq.sorted
        val expected = (for {
          a <- slice; b <- slice if a < b
          cn = (adj(a) & adj(b)).size.toLong if cn > 0
          if !half.contains((a, b))
        } yield {
          val (da, db) = (adj(a).size.toLong, adj(b).size.toLong)
          (a, b, cn, da, db, floor6(cn.toDouble / (da + db - cn)))
        }).sortBy { case (a, b, _, _, _, j) => (-j, a, b) }.take(20)
        val got = graft.ops.graph.LinkPrediction
          .jaccardLinkpredOn(half.toDF("src", "dst"))
          .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
        got == expected
      }
    }

  property("kappaOn == brute-force confusion-marginal kappa") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("A", "B", "C"),
      Gen.oneOf("A", "B", "C")))) { xs =>
      import spark.implicits._
      val n = xs.size.toLong
      val agree = xs.count { case (g, h) => g == h }.toLong
      val gm = xs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val hm = xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val s = gm.map { case (c, gc) => gc * hm.getOrElse(c, 0L) }.sum
      val kappa = if (n.toDouble * n - s == 0) None
        else Some(floor6((n.toDouble * agree - s) / (n.toDouble * n - s)))
      val got = graft.ops.corpus.Quality.kappaOn(xs.toDF("gold", "guessed"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).head
      got == ((n, agree, s, floor6(agree.toDouble / n), kappa))
    }

  property("holtBacktestOn == brute truncated-Brown fold") =
    forAll(Gen.chooseNum(10, 30).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 6)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val L = 8
      // n1/n2 defined once their 8-lag window is full; indices mirror
      // the engine's isNotNull filters (contiguous once defined).
      def n1(t: Int): Long =
        (0 until L).map(j => y(t - j) << (L - 1 - j)).sum
      def n2(t: Int): Long =
        (0 until L).map(i => n1(t - i) << (L - 1 - i)).sum
      def fnum(t: Int): Long = 765L * n1(t) - 2L * n2(t)
      val scored = (2 * (L - 1) + 1 until y.length).map { t =>
        (y(t) * 65025L - fnum(t - 1), math.abs(y(t) - y(t - 1))) }
      val expected =
        if (scored.isEmpty) Seq.empty
        else {
          val n = scored.size.toLong
          val sa = scored.map(e => math.abs(e._1)).sum
          val se = scored.map(_._1).sum
          val sn = scored.map(_._2).sum
          Seq(("T", n, floor6(sa.toDouble / 65025 / n),
            floor6(se.toDouble / 65025 / n), floor6(sn.toDouble / n)))
        }
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Forecast.holtBacktestOn(ev)
        .as[(String, Long, Double, Double, Double)].collect().toSeq
      got == expected
    }

  property("hurstRsOn == brute rescaled-range block fold") =
    forAll(Gen.chooseNum(8, 40).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 5)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val expected = Seq(8L, 16L, 32L).flatMap { bn =>
        val blocks = y.grouped(bn.toInt).filter(_.size == bn).toSeq
        if (blocks.isEmpty) None
        else {
          val rss = blocks.map { b =>
            val s = b.sum; val qq = b.map(v => v * v).sum
            val q = bn * qq - s * s
            val zs = b.scanLeft(0L)(_ + _).tail.zipWithIndex
              .map { case (c, i) => bn * c - (i + 1) * s }
            val r = math.max(zs.max, 0L) - math.min(zs.min, 0L)
            if (q > 0) Some(r.toDouble / math.sqrt(q.toDouble)) else None
          }
          val scored = rss.flatten
          val avg = if (scored.isEmpty) None
            else Some(floor6(scored.sum / scored.size))
          Some(("T", bn, blocks.size.toLong, scored.size.toLong, avg))
        }
      }
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Stationarity.hurstRsOn(ev)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
      got == expected
    }

  property("ljungBoxOn == brute pooled-autocorrelation fold") =
    forAll(Gen.chooseNum(3, 30).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 5)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val nd = y.length.toLong
      def rho(k: Int): Option[Double] = {
        val pairs = (k until y.length).map(t => (y(t), y(t - k)))
        val nk = pairs.length.toLong
        if (nk == 0) None
        else {
          val sa = pairs.map(_._1).sum; val sb = pairs.map(_._2).sum
          val saa = pairs.map(p => p._1 * p._1).sum
          val sbb = pairs.map(p => p._2 * p._2).sum
          val sab = pairs.map(p => p._1 * p._2).sum
          val den = math.sqrt((nk * saa - sa * sa).toDouble *
            (nk * sbb - sb * sb).toDouble)
          if (den == 0) None
          else Some((nk * sab - sa * sb).toDouble / den)
        }
      }
      val rhos = (1 to 7).map(rho)
      val q = if (rhos.exists(_.isEmpty)) None
        else Some(floor6(nd.toDouble * (nd + 2) *
          rhos.zipWithIndex.map { case (r, i) =>
            (r.get * r.get) / (nd - (i + 1)) }.sum))
      val expected = ("T", nd, rho(1).map(floor6), q,
        q.map(_ > 14.067140))
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Correlation.ljungBoxOn(ev)
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).head
      got == expected
    }

  property("kpssLevelOn == brute partial-sum fold") =
    forAll(Gen.chooseNum(2, 25).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 6)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val n = y.length.toLong
      val tt = y.sum
      val cums = y.scanLeft(0L)(_ + _).tail
      val ssq = cums.zipWithIndex
        .map { case (c, i) => val ns = n * c - (i + 1) * tt; ns * ns }.sum
      val nq = n * y.map(v => v * v).sum - tt * tt
      val stat = if (nq == 0) None
        else Some(floor6(ssq.toDouble / (n.toDouble * n * nq.toDouble)))
      val expected = ("T", n, stat, stat.map(_ > 0.463))
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Stationarity.kpssLevelOn(ev)
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).head
      got == expected
    }

  // One 1-3 order day: (orderkey offsets, cent prices). Candle folds
  // and window math are shared by the ATR and Donchian laws below.
  private val candleDays: Gen[List[List[Long]]] =
    Gen.chooseNum(15, 28).flatMap(d => Gen.listOfN(d,
      Gen.chooseNum(1, 3).flatMap(k =>
        Gen.listOfN(k, Gen.chooseNum(100L, 999L)))))

  private def candleOrders(days: List[List[Long]]) =
    days.zipWithIndex.flatMap { case (ps, d) =>
      ps.zipWithIndex.map { case (c, i) =>
        (d.toLong * 10 + i, java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString, c / 100.0) }
    }

  private def candles(days: List[List[Long]]): IndexedSeq[(Long, Long, Long)] =
    days.map(ps => (ps.max, ps.min, ps.last)).toIndexedSeq

  property("trueRangeAtrOn == brute candle fold") =
    forAll(candleDays) { days =>
      import spark.implicits._
      val cs = candles(days)
      val trs = cs.indices.map { t =>
        val (hi, lo, _) = cs(t)
        if (t == 0) hi - lo
        else {
          val pc = cs(t - 1)._3
          Seq(hi - lo, math.abs(hi - pc), math.abs(lo - pc)).max
        }
      }
      val expected = (13 until cs.length).map { t =>
        val s14 = (t - 13 to t).map(trs).sum
        val (hi, lo, cl) = cs(t)
        (java.time.LocalDate.of(2024, 1, 1).plusDays(t).toString,
          hi, lo, cl, trs(t), floor6(s14.toDouble / 100 / 14))
      }
      val orders = candleOrders(days)
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      val got = graft.ops.timeseries.Indicators.trueRangeAtrOn(orders)
        .as[(java.sql.Date, Long, Long, Long, Long, Double)]
        .collect().toSeq
        .map { case (d, hi, lo, cl, tr, atr) =>
          (d.toString, hi, lo, cl, tr, atr) }
      got == expected
    }

  property("donchianChannelOn == brute rolling-extremes fold") =
    forAll(candleDays.suchThat(_.length >= 21)) { days =>
      import spark.implicits._
      val cs = candles(days)
      val expected = (20 until cs.length).map { t =>
        val win = (t - 20 until t).map(cs)
        val dhi = win.map(_._1).max; val dlo = win.map(_._2).min
        val cl = cs(t)._3
        (java.time.LocalDate.of(2024, 1, 1).plusDays(t).toString, cl,
          dhi, dlo,
          if (cl > dhi) "up" else if (cl < dlo) "down" else "none")
      }
      val orders = candleOrders(days)
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      val got = graft.ops.timeseries.Indicators.donchianChannelOn(orders)
        .as[(java.sql.Date, Long, Long, Long, String)].collect().toSeq
        .map { case (d, cl, hi, lo, b) => (d.toString, cl, hi, lo, b) }
      got == expected
    }

  property("mcnemarOn == brute discordant-pair count") =
    forAll(Gen.chooseNum(2, 25).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(300L, 700L), Gen.chooseNum(300L, 700L))))) { ps =>
      import spark.implicits._
      // year spend = v * 1000 dollars -> flag is v*100000 cents
      // > 50000000 <=> v > 500
      val flags = ps.map { case (a, b) => (a > 500, b > 500) }
      val n = flags.length.toLong
      val b = flags.count(p => p._1 && !p._2).toLong
      val c = flags.count(p => !p._1 && p._2).toLong
      val chi = if (b + c == 0) None
        else Some(floor6((b.toDouble - c) * (b.toDouble - c) / (b + c)))
      val expected = (n, b, c, chi, chi.map(_ > 3.841459))
      val orders = ps.zipWithIndex.flatMap { case ((a, bb), i) => Seq(
          (i.toLong, "1996-03-05", a * 1000.0),
          (i.toLong, "1997-03-05", bb * 1000.0)) }
        .toDF("o_custkey", "o_orderdate", "o_totalprice")
      val r = graft.ops.stats.Blocked.mcnemarOn(orders).collect().head
      val got = (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getBoolean(4)))
      got == expected
    }

  property("segmentedTrendOn == brute two-segment OLS") =
    forAll(Gen.chooseNum(6, 25).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 6)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val nd = y.length
      val t0 = (nd + 1) / 2
      def fit(seg: Seq[(Long, Long)]): (Option[Double], Option[Double]) = {
        val m = seg.length.toLong
        val st = seg.map(_._1).sum; val sy = seg.map(_._2).sum
        val stt = seg.map(p => p._1 * p._1).sum.toDouble
        val sty = seg.map(p => p._1 * p._2).sum.toDouble
        val den = m.toDouble * stt - st.toDouble * st
        if (den == 0 || m == 0) (None, None)
        else {
          val b = (m.toDouble * sty - st.toDouble * sy) / den
          (Some(b), Some((sy - b * st) / m.toDouble))
        }
      }
      val rows = y.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
      val (b1, a1) = fit(rows.take(t0))
      val (b2, a2) = fit(rows.drop(t0))
      val x = (t0 + 1).toDouble
      val jump = for (p1 <- a1; q1 <- b1; p2 <- a2; q2 <- b2)
        yield floor6((p2 + q2 * x) - (p1 + q1 * x))
      val expected = ("T", nd.toLong, t0.toLong, b1.map(floor6),
        b2.map(floor6),
        for (q1 <- b1; q2 <- b2) yield floor6(q2 - q1), jump)
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val r = graft.ops.timeseries.Stationarity.segmentedTrendOn(ev).collect().head
      def od(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val got = (r.getString(0), r.getLong(1), r.getLong(2),
        od(3), od(4), od(5), od(6))
      got == expected
    }

  property("oddsRatioOn == brute 2x2 Woolf interval") =
    forAll(Gen.chooseNum(8, 40).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf(true, false), Gen.chooseNum(100L, 400L))))) { rows =>
      import spark.implicits._
      // threshold $250k = 25000000 cents; generated cents c*100000
      // straddle it (values 100..400 -> $100k..$400k)
      val cells = rows.map { case (u, c) => (u, c * 100000L > 25000000L) }
      val a = cells.count(p => p._1 && p._2).toLong
      val b = cells.count(p => p._1 && !p._2).toLong
      val c = cells.count(p => !p._1 && p._2).toLong
      val d = cells.count(p => !p._1 && !p._2).toLong
      val res: (Option[Double], Option[Double], Option[Double]) =
        if (b * c == 0 || a == 0 || d == 0) (None, None, None)
        else {
          val lnOr = math.log(a.toDouble * d / (b.toDouble * c))
          val se = math.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
          (Some(floor6(math.exp(lnOr))),
            Some(floor6(math.exp(lnOr - 1.959964 * se))),
            Some(floor6(math.exp(lnOr + 1.959964 * se))))
        }
      val expected = (a, b, c, d, res._1, res._2, res._3,
        for (lo <- res._2; hi <- res._3) yield lo > 1.0 || hi < 1.0)
      val orders = rows.map { case (u, cents) =>
        (if (u) "1-URGENT" else "5-LOW", cents * 1000.0) }
        .toDF("o_orderpriority", "o_totalprice")
      val r = graft.ops.stats.Association.oddsRatioOn(orders).collect().head
      def od(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        od(4), od(5), od(6),
        if (r.isNullAt(7)) None else Some(r.getBoolean(7)))
      got == expected
    }

  property("tukeyOn == brute studentized-range pairs") =
    forAll(Gen.listOfN(5, Gen.chooseNum(2, 5).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(100L, 160L))))) { gs =>
      import spark.implicits._
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val k = 5
      val nTot = gs.map(_.length).sum
      val sse = gs.map { g =>
        val n = g.length.toDouble
        g.map(x => (x * x).toDouble).sum - g.sum.toDouble * g.sum / n
      }.sum
      val mse = sse / (nTot - k)
      val expected = (for {
        i <- 0 until k; j <- (i + 1) until k
      } yield {
        val mi = gs(i).sum.toDouble / gs(i).length
        val mj = gs(j).sum.toDouble / gs(j).length
        val se = math.sqrt((mse / 2) *
          (1.0 / gs(i).length + 1.0 / gs(j).length))
        val q = if (se == 0) None else Some(floor6(math.abs(mi - mj) / se))
        (prios(i), prios(j), floor6((mi - mj) / 100),
          q, q.map(_ > 3.858))
      }).sortBy(t => (t._1, t._2))
      val orders = gs.zipWithIndex.flatMap { case (g, i) =>
        g.map(c => (prios(i), c / 100.0)) }
        .toDF("o_orderpriority", "o_totalprice")
      val got = graft.ops.stats.KSample.tukeyOn(orders).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getBoolean(4))))
      got == expected
    }

  property("grangerOn == brute restricted-vs-unrestricted OLS F") =
    forAll(Gen.chooseNum(6, 25).flatMap(d => Gen.listOfN(d,
      Gen.zip(Gen.chooseNum(1, 6), Gen.chooseNum(1, 6))))) { xys =>
      import spark.implicits._
      val xs = xys.map(_._1.toLong); val ys = xys.map(_._2.toLong)
      // (w = target, u = own lag, v = cross lag) observations t>=1
      def leg(w: Seq[Long], o: Seq[Long], c: Seq[Long]) = {
        val obs = (1 until w.length).map(t => (w(t), o(t - 1), c(t - 1)))
        val m = obs.length.toLong
        val su = obs.map(_._2).sum.toDouble
        val sv = obs.map(_._3).sum.toDouble
        val sw = obs.map(_._1).sum.toDouble
        val suu = obs.map(p => p._2 * p._2).sum.toDouble
        val svv = obs.map(p => p._3 * p._3).sum.toDouble
        val sww = obs.map(p => p._1 * p._1).sum.toDouble
        val suv = obs.map(p => p._2 * p._3).sum.toDouble
        val suw = obs.map(p => p._2 * p._1).sum.toDouble
        val svw = obs.map(p => p._3 * p._1).sum.toDouble
        val cuu = suu - su * su / m; val cvv = svv - sv * sv / m
        val cww = sww - sw * sw / m; val cuv = suv - su * sv / m
        val cuw = suw - su * sw / m; val cvw = svw - sv * sw / m
        val det = cuu * cvv - cuv * cuv
        if (det == 0 || cuu == 0) (m, None, None)
        else {
          val bu = (cvv * cuw - cuv * cvw) / det
          val bv = (cuu * cvw - cuv * cuw) / det
          val sseU = cww - bu * cuw - bv * cvw
          val sseR = cww - cuw * cuw / cuu
          if (sseU == 0) (m, None, None)
          else {
            val f = floor6((sseR - sseU) * (m - 3) / sseU)
            (m, Some(f), Some(f > 3.841459))
          }
        }
      }
      val expected = Seq(
        ("click->purchase", leg(ys, ys, xs)),
        ("purchase->click", leg(xs, xs, ys)))
        .map { case (d, (m, f, rej)) => (d, m, f, rej) }
      // x clicks + y purchases per day, all >= 1 so the calendar is
      // dense and row-order lags equal calendar lags
      val ev = xys.zipWithIndex.flatMap { case ((x, y), d) =>
        val ds = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
        Seq.fill(x)(("click", ds)) ++ Seq.fill(y)(("purchase", ds))
      }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Correlation.grangerOn(ev).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3))))
      got == expected
    }

  property("pacfOn == brute Durbin-Levinson recursion") =
    forAll(Gen.chooseNum(10, 30).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 5)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      def rho(k: Int): Option[Double] = {
        val pairs = (k until y.length).map(t => (y(t), y(t - k)))
        val nk = pairs.length.toLong
        if (nk == 0) None
        else {
          val sa = pairs.map(_._1).sum; val sb = pairs.map(_._2).sum
          val saa = pairs.map(p => p._1 * p._1).sum
          val sbb = pairs.map(p => p._2 * p._2).sum
          val sab = pairs.map(p => p._1 * p._2).sum
          val den = math.sqrt((nk * saa - sa * sa).toDouble *
            (nk * sbb - sb * sb).toDouble)
          if (den == 0) None
          else Some((nk * sab - sa * sb).toDouble / den)
        }
      }
      val rs = (1 to 7).map(rho)
      // Stage-faithful null propagation (scalacheck-found): stage k
      // reads ρ_1..ρ_k, so φ_kk survives exactly while the leading ρ
      // prefix is defined; the FIRST null ρ (or a zero DL
      // denominator) nulls that stage and, through the null φ row,
      // every later one — earlier stages stay live.
      val m = rs.takeWhile(_.isDefined).length
      val r = rs.map(_.getOrElse(Double.NaN))
      var phi = Map.empty[Int, Double] // previous row φ_{k-1,j}
      var dead = false
      val expected: Seq[(String, Long, Long, Option[Double])] =
        (1 to 7).map { k =>
          if (k > m || dead) ("T", y.length.toLong, k.toLong, None)
          else {
            val pkkOpt =
              if (k == 1) Some(r(0))
              else {
                val num = r(k - 1) -
                  (1 until k).map(j => phi(j) * r(k - j - 1)).sum
                val den = 1 -
                  (1 until k).map(j => phi(j) * r(j - 1)).sum
                if (den == 0) None else Some(num / den)
              }
            pkkOpt match {
              case None =>
                dead = true
                ("T", y.length.toLong, k.toLong, None)
              case Some(pkk) =>
                phi = (1 until k).map(j =>
                  j -> (phi(j) - pkk * phi(k - j))).toMap + (k -> pkk)
                ("T", y.length.toLong, k.toLong, Some(floor6(pkk)))
            }
          }
        }
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Correlation.pacfOn(ev).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      got == expected
    }

  property("cohensDOn == brute pooled-sd effect size") =
    forAll(Gen.zip(
      Gen.listOfN(4, Gen.chooseNum(100L, 160L)),
      Gen.listOfN(4, Gen.chooseNum(100L, 160L)))) { case (as, bs) =>
      import spark.implicits._
      def m(vs: Seq[Long]) = vs.sum.toDouble / vs.length
      def v(vs: Seq[Long]) = {
        val n = vs.length.toLong
        (n.toDouble * vs.map(x => x * x).sum - vs.sum.toDouble * vs.sum) /
          (n.toDouble * (n - 1))
      }
      val n0 = as.length.toLong; val n1 = bs.length.toLong
      val sp = math.sqrt(((n0 - 1) * v(as) + (n1 - 1) * v(bs)) /
        (n0.toDouble + n1 - 2))
      // constant BOTH groups (chooseNum's endpoint bias makes this
      // real): zero pooled sd nulls d/g/magnitude in the op
      val expected: (Long, Long, Option[Double], Option[Double],
          Option[String]) =
        if (sp == 0) (n0, n1, None, None, None)
        else {
          val d = (m(as) - m(bs)) / sp
          val g = d * (1 - 3 / (4 * (n0.toDouble + n1) - 9))
          val mag = if (math.abs(floor6(d)) < 0.2) "negligible"
            else if (math.abs(floor6(d)) < 0.5) "small"
            else if (math.abs(floor6(d)) < 0.8) "medium" else "large"
          (n0, n1, Some(floor6(d)), Some(floor6(g)), Some(mag))
        }
      val orders = (as.map(("1-URGENT", _)) ++ bs.map(("5-LOW", _)))
        .map { case (p, c) => (p, c / 100.0) }
        .toDF("o_orderpriority", "o_totalprice")
      val r = graft.ops.stats.TwoSample.cohensDOn(orders).collect().head
      val got = (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getString(4)))
      got == expected
    }

  property("bartlettOn == brute log-variance fold") =
    forAll(Gen.listOfN(5, Gen.listOfN(4, Gen.chooseNum(100L, 160L)))) { gs =>
      import spark.implicits._
      def v(vs: Seq[Long]) = {
        val n = vs.length.toLong
        (n.toDouble * vs.map(x => x * x).sum - vs.sum.toDouble * vs.sum) /
          (n.toDouble * (n - 1))
      }
      val k = 5; val nn = gs.map(_.length.toLong).sum
      // a constant group (chooseNum's endpoint bias): zero variance →
      // ln(nullif(·, 0)) nulls the statistic in the op
      val expected: (Long, Long, Option[Double], Option[Boolean]) =
        if (gs.exists(g => g.length < 2 || v(g) == 0) || nn == k)
          (nn, k.toLong, None, None)
        else {
          val sp = gs.map(g => (g.length - 1) * v(g)).sum / (nn.toDouble - k)
          val chi0 = (nn.toDouble - k) * math.log(sp) -
            gs.map(g => (g.length - 1) * math.log(v(g))).sum
          val c = 1 + (gs.map(g => 1.0 / (g.length - 1)).sum -
            1.0 / (nn.toDouble - k)) / (3 * (k - 1))
          val chi = chi0 / c
          (nn, k.toLong, Some(floor6(chi)), Some(floor6(chi) > 9.487729))
        }
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val orders = gs.zipWithIndex.flatMap { case (g, i) =>
        g.map(c => (prios(i), c / 100.0)) }
        .toDF("o_orderpriority", "o_totalprice")
      val r = graft.ops.stats.KSample.bartlettOn(orders).collect().head
      val got = (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      got == expected
    }

  property("signTestOn == brute sign count") =
    forAll(Gen.chooseNum(2, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(100L, 120L), Gen.chooseNum(100L, 120L))))) { ps =>
      import spark.implicits._
      val ds = ps.map { case (a, b) => b - a }.filter(_ != 0L)
      val expected: (Option[Long], Option[Long], Option[Double],
          Option[Boolean]) =
        // empty: count() = 0 (not null), the sums null, z nulls via
        // nullif(sqrt(0), 0)
        if (ds.isEmpty) (Some(0L), None, None, None)
        else {
          val n = ds.length.toLong; val k = ds.count(_ > 0).toLong
          val z = (2 * k.toDouble - n) / math.sqrt(n.toDouble)
          (Some(n), Some(k), Some(floor6(z)),
            Some(math.abs(floor6(z)) > 1.959964))
        }
      val orders = ps.zipWithIndex.flatMap { case ((a, b), i) => Seq(
          (i.toLong, "1996-03-05", a / 100.0),
          (i.toLong, "1997-03-05", b / 100.0)) }
        .toDF("o_custkey", "o_orderdate", "o_totalprice")
      val r = graft.ops.stats.Blocked.signTestOn(orders).collect().head
      val got = (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      got == expected
    }

  property("moodMedianOn == brute 2xk median split") =
    forAll(Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0, 4), Gen.chooseNum(100L, 140L))))) { rows =>
      import spark.implicits._
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val cs = rows.map(_._2).sorted
      val n = cs.length
      val med = cs((n + 1) / 2 - 1) // lower median
      val a = (0 until 5).map(i =>
        rows.count(r => r._1 == i && r._2 > med).toLong)
      val b = (0 until 5).map(i =>
        rows.count(r => r._1 == i && r._2 <= med).toLong)
      val ca = a.sum.toDouble; val cb = b.sum.toDouble
      // nullif(E, 0) in the shared formula: ANY zero expected count
      // (absent priority, or an empty above/below row) nulls the χ²
      // in BOTH engines — the brute must propagate the same None.
      val terms = (0 until 5).flatMap { i =>
        val ni = (a(i) + b(i)).toDouble
        Seq((a(i), ca), (b(i), cb)).map { case (o, c) =>
          val e = c * ni / n
          if (e == 0) None else Some(math.pow(o - e, 2) / e)
        }
      }
      val chi = if (terms.exists(_.isEmpty)) None
        else Some(floor6(terms.flatten.sum))
      val expected = (med, n.toLong, chi, chi.map(_ > 9.487729))
      val orders = rows.map { case (g, c) => (prios(g), c / 100.0) }
        .toDF("o_orderpriority", "o_totalprice")
      val r = graft.ops.stats.KSample.moodMedianOn(orders).collect().head
      val got = (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      got == expected
    }

  property("keltnerOn == brute candle fold") =
    forAll(candleDays) { days =>
      import spark.implicits._
      val cs = candles(days) // (hi, lo, cl) per day
      val trs = cs.indices.map { t =>
        val (hi, lo, cl) = cs(t)
        if (t == 0) hi - lo
        else {
          val pc = cs(t - 1)._3
          math.max(hi - lo, math.max(math.abs(hi - pc), math.abs(lo - pc)))
        }
      }
      val tp3 = cs.map { case (hi, lo, cl) => hi + lo + cl }
      val expected = (9 until cs.length).map { t =>
        val stp3 = (t - 9 to t).map(tp3).sum
        val str = (t - 9 to t).map(trs).sum
        val cl = cs(t)._3
        (java.time.LocalDate.of(2024, 1, 1).plusDays(t).toString, cl,
          floor6(stp3.toDouble / 3000), floor6((stp3 + 6 * str).toDouble / 3000),
          floor6((stp3 - 6 * str).toDouble / 3000),
          if (cl * 30 > stp3) "above_mid"
          else if (cl * 30 < stp3) "below_mid" else "at_mid")
      }
      val orders = candleOrders(days)
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      val got = graft.ops.timeseries.Indicators.keltnerOn(orders).collect().toSeq
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getString(5)))
      got == expected
    }

  property("crossCorrOn == brute lagged-pair correlations") =
    forAll(Gen.chooseNum(4, 25).flatMap(d => Gen.listOfN(d,
      Gen.zip(Gen.chooseNum(0, 4), Gen.chooseNum(0, 4))))) { xys =>
      import spark.implicits._
      // days with zero clicks AND zero purchases never reach the
      // daily pivot — the op's lag/lead run over PRESENT rows, so
      // the brute drops them too before indexing.
      val dense = xys.filter(p => p._1 + p._2 > 0)
      val xs = dense.map(_._1.toLong); val ys = dense.map(_._2.toLong)
      def ccf(l: Int): (Long, Option[Double]) = {
        val pairs = xs.indices
          .filter(t => t + l >= 0 && t + l < ys.length)
          .map(t => (xs(t), ys(t + l)))
        val nk = pairs.length.toLong
        if (nk == 0) (0L, None)
        else {
          val sa = pairs.map(_._1).sum; val sb = pairs.map(_._2).sum
          val saa = pairs.map(p => p._1 * p._1).sum
          val sbb = pairs.map(p => p._2 * p._2).sum
          val sab = pairs.map(p => p._1 * p._2).sum
          val den = math.sqrt((nk * saa - sa * sa).toDouble *
            (nk * sbb - sb * sb).toDouble)
          (nk, if (den == 0) None
            else Some(floor6((nk * sab - sa * sb).toDouble / den)))
        }
      }
      val expected = (-3 to 3).map { l =>
        val (nk, r) = ccf(l); (l.toLong, nk, r) }
      // x clicks + y purchases per generated day (the (0,0) days
      // produce no rows, matching the dense filter above)
      val ev = xys.zipWithIndex.flatMap { case ((x, y), d) =>
        val ds = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
        Seq.fill(x)(("click", ds)) ++ Seq.fill(y)(("purchase", ds))
      }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Correlation.crossCorrOn(ev).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      got == expected
    }

  property("spearmanOn == brute rank-Pearson fold") =
    forAll(Gen.chooseNum(3, 15).flatMap(nc => Gen.listOfN(nc,
      Gen.chooseNum(1, 3).flatMap(k =>
        Gen.listOfN(k, Gen.chooseNum(100L, 130L)))))) { custs =>
      import spark.implicits._
      val xs = custs.map(_.length.toLong)
      val ys = custs.map(_.sum) // cents (price = cents/100)
      val n = custs.length.toLong
      def r2(vs: Seq[Long]): Map[Long, Long] =
        vs.distinct.map { v =>
          v -> (2L * vs.count(_ < v) + vs.count(_ == v) + 1L) }.toMap
      val rx = r2(xs); val ry = r2(ys)
      val a = xs.map(rx); val b = ys.map(ry)
      val sa = a.sum.toDouble; val sb = b.sum.toDouble
      val saa = a.map(v => v * v).sum.toDouble
      val sbb = b.map(v => v * v).sum.toDouble
      val sab = a.zip(b).map { case (u, v) => u * v }.sum.toDouble
      val den = math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
      val rho = if (den == 0) None else Some((n * sab - sa * sb) / den)
      val expected = (n, rho.map(floor6),
        rho.map(r => floor6(r * math.sqrt(n.toDouble - 1))),
        rho.map(r => math.abs(floor6(r * math.sqrt(n.toDouble - 1))) > 1.959964))
      val orders = custs.zipWithIndex.flatMap { case (ps, i) =>
        ps.map(c => (i.toLong, c / 100.0)) }
        .toDF("o_custkey", "o_totalprice")
      val r = graft.ops.stats.Association.spearmanOn(orders).collect().head
      val got = (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      got == expected
    }

  property("kendallOn == brute all-pairs concordance count") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(0L, 3L)))) { rows =>
      import spark.implicits._
      val n = rows.length.toLong
      val prs = for {
        i <- rows.indices; j <- (i + 1) until rows.length
      } yield (rows(i), rows(j))
      val cc = prs.count { case ((q1, d1), (q2, d2)) =>
        (q1 < q2 && d1 < d2) || (q2 < q1 && d2 < d1) }.toDouble
      val dd = prs.count { case ((q1, d1), (q2, d2)) =>
        (q1 < q2 && d1 > d2) || (q2 < q1 && d2 > d1) }.toDouble
      def ties(vs: Seq[Long]): Double =
        vs.groupBy(identity).values.map { g =>
          g.length.toLong * (g.length - 1) }.sum.toDouble
      val t1 = ties(rows.map(_._1)); val t2 = ties(rows.map(_._2))
      val den = math.sqrt((n.toDouble * (n - 1) / 2 - t1 / 2) *
        (n.toDouble * (n - 1) / 2 - t2 / 2))
      val tau = if (den == 0) None else Some((cc - dd) / den)
      val zden = math.sqrt(n.toDouble * (n - 1) * (2 * n + 5) / 2)
      val z = if (zden == 0) None else Some(3 * (cc - dd) / zden)
      val expected = (n, tau.map(floor6), z.map(floor6),
        z.map(v => math.abs(floor6(v)) > 1.959964))
      val li = rows.map { case (q, d) => (q.toDouble, d / 100.0) }
        .toDF("l_quantity", "l_discount")
      val r = graft.ops.stats.Association.kendallOn(li).collect().head
      val got = (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      got == expected
    }

  property("betweennessOn == brute seeded hop-bounded Brandes") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(1L, 8L))
        .suchThat(p => p._1 != p._2))) { raw =>
      import spark.implicits._
      val und = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val adj = sym.groupBy(_._1).map { case (n, es) =>
        n -> es.map(_._2).toSet }
      val nodes = adj.keys.toSeq
      val seeds = nodes.sortBy(n => (-adj(n).size, n)).take(3)
      // Spark's round(x, 12) is BigDecimal HALF_UP on the exact
      // double — replicate it, not a float-multiply approximation.
      def r12(x: Double) = BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      val perSeed = seeds.map { s =>
        // forward: depth -> Map(node -> sigma)
        var lv = Vector(Map(s -> 1L))
        for (_ <- 1 to 3) {
          val seen = lv.flatMap(_.keys).toSet
          val prev = lv.last
          val next = prev.toSeq
            .flatMap { case (u, sg) => adj(u).map(v => v -> sg) }
            .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
            .filter { case (v, _) => !seen.contains(v) }
          lv = lv :+ next
        }
        // backward: delta at depth 3 = 0; d = 2, 1
        var dl = Map.empty[Long, Double]
        val out = scala.collection.mutable.Map.empty[Long, Double]
        for (d <- 2 to 1 by -1) {
          val down = lv(d + 1); val cur = lv(d)
          dl = cur.map { case (v, sv) =>
            val terms = adj(v).toSeq.filter(down.contains).map(w =>
              sv.toDouble / down(w) * (1 + dl.getOrElse(w, 0.0)))
            v -> r12(terms.sum)
          }.filter(_._2 != 0.0) // nodes w/o successors: delta 0, no row
          // one depth per (seed, node), so out never collides
          dl.foreach { case (v, x) => out(v) = out.getOrElse(v, 0.0) + x }
        }
        out.toMap
      }
      val bc = perSeed.flatten.groupBy(_._1)
        .map { case (n, xs) => n -> r12(xs.map(_._2).sum) }
        .filter(_._2 > 0)
      val expected = bc.toSeq.sortBy { case (n, b) => (-b, n) }.take(10)
        .map { case (n, b) => (n, floor6(b)) }
      val df = sym.toDF("src", "dst")
      val got = graft.ops.graph.Centrality.betweennessOn(df, 3, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      got == expected
    }

  property("adfOn == brute Dickey-Fuller OLS fold") =
    forAll(Gen.chooseNum(4, 25).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 9)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val pairs = (1 until y.length).map(t => (y(t - 1), y(t) - y(t - 1)))
      val m = pairs.length.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
      val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
      val syy = pairs.map(p => p._2 * p._2).sum.toDouble
      val cxx = sxx - sx.toDouble * sx / m
      val cxy = sxy - sx.toDouble * sy / m
      val cyy = syy - sy.toDouble * sy / m
      val t: Option[Double] =
        if (cxx == 0 || m <= 2) None
        else {
          val b = cxy / cxx
          // the op gates the variance ratio > 0 before sqrt (perfect
          // fits land a few ulp either side of zero)
          val ratio = ((cyy - b * cxy) / (m - 2)) / cxx
          if (!(ratio > 0)) None
          else Some(floor6(b / math.sqrt(ratio)))
        }
      val expected = ("T", y.length.toLong, t, t.map(_ < -2.86))
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val r = graft.ops.timeseries.Stationarity.adfOn(ev).collect().head
      val got = (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      got == expected
    }

  property("acfTableOn == brute per-lag autocorrelations") =
    forAll(Gen.chooseNum(3, 30).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 5)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      def rho(k: Int): Option[Double] = {
        val pairs = (k until y.length).map(t => (y(t), y(t - k)))
        val nk = pairs.length.toLong
        if (nk == 0) None
        else {
          val sa = pairs.map(_._1).sum; val sb = pairs.map(_._2).sum
          val saa = pairs.map(p => p._1 * p._1).sum
          val sbb = pairs.map(p => p._2 * p._2).sum
          val sab = pairs.map(p => p._1 * p._2).sum
          val den = math.sqrt((nk * saa - sa * sa).toDouble *
            (nk * sbb - sb * sb).toDouble)
          if (den == 0) None
          else Some(floor6((nk * sab - sa * sb).toDouble / den))
        }
      }
      val expected = (1 to 7).map(k => ("T", y.length.toLong, k.toLong,
        rho(k)))
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Correlation.acfTableOn(ev).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      got == expected
    }

  property("wilcoxonOn == brute signed-rank fold") =
    forAll(Gen.chooseNum(2, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(100L, 120L), Gen.chooseNum(100L, 120L))))) { ps =>
      import spark.implicits._
      // one order per (customer, year): yearly sums == the pair values
      val ds = ps.map { case (a, b) => b - a }.filter(_ != 0L)
      val expected: (Option[Long], Option[Double], Option[Double],
          Option[Double], Option[Boolean]) =
        if (ds.isEmpty) (None, None, None, None, None) // empty global agg
        else {
          val n = ds.length.toLong
          val byA = ds.groupBy(d => math.abs(d))
          val r2m = byA.map { case (a, g) =>
            val below = ds.count(d => math.abs(d) < a).toLong
            a -> (2L * below + g.length + 1L)
          }
          val w2p = ds.filter(_ > 0).map(d => r2m(math.abs(d))).sum.toDouble
          val tt = byA.values.map { g =>
            val t = g.length.toLong; t * t * t - t }.sum
          val z = (w2p - n.toDouble * (n + 1) / 2) /
            math.sqrt(n.toDouble * (n + 1) * (2 * n + 1) / 6 - tt.toDouble / 12)
          (Some(n), Some(w2p / 2),
            Some(n.toDouble * (n + 1) / 2 - w2p / 2),
            Some(floor6(z)), Some(math.abs(floor6(z)) > 1.959964))
        }
      val orders = ps.zipWithIndex.flatMap { case ((a, b), i) => Seq(
          (i.toLong, "1996-03-05", a / 100.0),
          (i.toLong, "1997-03-05", b / 100.0)) }
        .toDF("o_custkey", "o_orderdate", "o_totalprice")
      val r = graft.ops.stats.Blocked.wilcoxonOn(orders).collect().head
      def od(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val got = (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        od(1), od(2), od(3),
        if (r.isNullAt(4)) None else Some(r.getBoolean(4)))
      got == expected
    }

  property("friedmanOn == brute in-block rank fold") =
    forAll(Gen.chooseNum(2, 10).flatMap(nb => Gen.listOfN(nb,
      Gen.listOfN(5, Gen.chooseNum(1L, 6L))))) { blocks =>
      import spark.implicits._
      val n = blocks.length.toLong
      // doubled in-block average ranks; R2_j in priority order
      val r2rows = blocks.map { vs =>
        vs.map { v =>
          val below = vs.count(_ < v).toLong
          val t = vs.count(_ == v).toLong
          (2L * below + t + 1L, t * t - 1L)
        }
      }
      val rr = (0 until 5).map(j => r2rows.map(_(j)._1).sum)
      val tt = r2rows.flatten.map(_._2).sum
      val q = 3.0 * rr.map(r => r.toDouble * r).sum / (n.toDouble * 5 * 6) -
        3.0 * n * 6
      val c = 1.0 - tt.toDouble / (n.toDouble * 5 * 24)
      val expected: (Long, Long, Option[Double], Option[Boolean]) =
        if (c == 0) (n, 5L, None, None)
        else (n, 5L, Some(floor6(q / c)), Some(floor6(q / c) > 9.487729))
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val orders = blocks.zipWithIndex.flatMap { case (vs, j) =>
        val ym = f"${1995 + j / 12}-${j % 12 + 1}%02d-03"
        vs.zip(prios).map { case (v, p) => (0L, ym, p, v.toDouble) }
      }.toDF("o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice")
      val r = graft.ops.stats.Blocked.friedmanOn(orders).collect().head
      val got = (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      got == expected
    }

  property("cramersVOn == brute fixed-order 5x5 table fold") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"),
      Gen.oneOf("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")))) { pairs =>
      import spark.implicits._
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")
      val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")
      val n = Array.tabulate(5, 5)((i, j) =>
        pairs.count(p => p._1 == segs(i) && p._2 == pris(j)).toLong)
      val r = (0 until 5).map(i => n(i).sum)
      val c = (0 until 5).map(j => (0 until 5).map(n(_)(j)).sum)
      val g = r.sum
      // Same left-assoc term order as the shared SQL text: i-major.
      var chi2 = 0.0
      for (i <- 0 until 5; j <- 0 until 5)
        chi2 += (if (r(i) == 0 || c(j) == 0) 0.0
          else { val z = n(i)(j).toDouble * g - r(i).toDouble * c(j)
            z * z / (g.toDouble * r(i) * c(j)) })
      val rr = r.count(_ > 0).toLong
      val cc = c.count(_ > 0).toLong
      val gd = g.toDouble
      val v = if (math.min(rr, cc) <= 1) None
        else Some(floor6(math.sqrt(chi2 / (gd * (math.min(rr, cc) - 1)))))
      val vc = {
        val den = g - 1
        if (den == 0) None
        else {
          val p2 = math.max(0.0, chi2 / g - (rr.toDouble - 1) * (cc - 1) / (gd - 1))
          val rk = rr - (rr.toDouble - 1) * (rr - 1) / (gd - 1)
          val ck = cc - (cc.toDouble - 1) * (cc - 1) / (gd - 1)
          if (math.min(rk, ck) - 1 == 0) None
          else Some(floor6(math.sqrt(p2 / (math.min(rk, ck) - 1))))
        }
      }
      val row = graft.ops.stats.Association.cramersVOn(
        pairs.toDF("c_mktsegment", "o_orderpriority")).collect().head
      val got = (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getDouble(3),
        if (row.isNullAt(4)) None else Some(row.getDouble(4)),
        if (row.isNullAt(5)) None else Some(row.getDouble(5)))
      got == ((g, rr, cc, floor6(chi2), v, vc))
    }

  property("fisherExactOn == brute hypergeometric tail fold") =
    forAll(Gen.zip(Gen.chooseNum(0, 10), Gen.chooseNum(0, 10),
      Gen.chooseNum(0, 10), Gen.chooseNum(0, 10))
      .suchThat(t => t._1 + t._2 + t._3 + t._4 > 0)) { case (a, b, c, d) =>
      import spark.implicits._
      // Same strict-left lfact fold as the engine expression.
      def lf(x: Long): Double =
        (2L to x).foldLeft(0.0)((acc, i) => acc + math.log(i.toDouble))
      val (r1, r2, c1, n) = (a + b.toLong, c + d.toLong, a + c.toLong,
        (a + b + c + d).toLong)
      def lp(k: Long): Double =
        lf(r1) + lf(r2) + lf(c1) + lf(n - c1) - lf(n) -
          lf(k) - lf(r1 - k) - lf(c1 - k) - lf(r2 - c1 + k)
      val lpo = lp(a)
      val p = (math.max(0L, c1 - r2) to math.min(r1, c1))
        .map(lp).filter(_ <= lpo + 1e-7).map(math.exp).sum
      val expected = (a.toLong, b.toLong, c.toLong, d.toLong,
        floor6(math.min(1.0, p)), floor6(math.min(1.0, p)) < 0.05)
      val flags = Seq.fill(a)((true, true)) ++ Seq.fill(b)((true, false)) ++
        Seq.fill(c)((false, true)) ++ Seq.fill(d)((false, false))
      val got = graft.ops.stats.Association.fisherExactOn(flags.toDF("grp", "hit"))
        .as[(Long, Long, Long, Long, Double, Boolean)].collect().head
      got == expected
    }

  property("chowOn == brute two-regime SSR fold") =
    forAll(Gen.chooseNum(6, 30).flatMap(dd =>
      Gen.listOfN(dd, Gen.chooseNum(1, 6)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val m = y.length.toLong
      val t0 = (m + 1) / 2
      def mom(ts: Seq[Long]) = {
        val sm = ts.length.toLong
        val st = ts.map(t => t).sum
        val sy = ts.map(t => y(t.toInt - 1)).sum
        val stt = ts.map(t => t * t).sum
        val sty = ts.map(t => t * y(t.toInt - 1)).sum
        val syy = ts.map(t => y(t.toInt - 1) * y(t.toInt - 1)).sum
        (sm, st, sy, stt, sty, syy)
      }
      def cent(v: (Long, Long, Long, Long, Long, Long)) = {
        val (sm, st, sy, stt, sty, syy) = v
        (stt.toDouble - st.toDouble * st / sm,
          sty.toDouble - st.toDouble * sy / sm,
          syy.toDouble - sy.toDouble * sy / sm)
      }
      def ssr(c: (Double, Double, Double)): Option[Double] =
        if (c._1 == 0) None else Some(c._3 - c._2 * c._2 / c._1)
      val ts = (1L to m)
      val s1 = ssr(cent(mom(ts.filter(_ <= t0))))
      val s2 = ssr(cent(mom(ts.filter(_ > t0))))
      val sp = ssr(cent(mom(ts)))
      val f = for { a <- s1; b <- s2; p <- sp
        q = (a + b) / (m.toDouble - 4) if q > 0
      } yield floor6(((p - a - b) / 2) / ((a + b) / (m.toDouble - 4)))
      val expected = ("T", m, t0, f, f.map(_ > 2.995732))
      val ev = y.zipWithIndex.flatMap { case (cnt, dd) =>
        Seq.fill(cnt.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(dd).toString)) }.toDF("event_type", "ts")
      val r = graft.ops.timeseries.Stationarity.chowOn(ev).collect().head
      val got = (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getBoolean(4)))
      got == expected
    }

  property("holtWintersOn == brute truncated seasonal fold") =
    forAll(Gen.chooseNum(15, 32).flatMap(dd =>
      Gen.listOfN(dd, Gen.chooseNum(1, 6)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val L = 4
      // 0-based stage indices mirroring the nested isNotNull filters
      // (each stage's rows are contiguous once defined).
      def n1(t: Int): Long = (0 until L).map(j => y(t - j) << (L - 1 - j)).sum
      def n2(t: Int): Long = (0 until L).map(i => n1(t - i) << (L - 1 - i)).sum
      def brown(t: Int): Long = 45L * n1(t) - 2L * n2(t)
      def dev(t: Int): Long = 15L * y(t) - n1(t)
      def sea(t: Int): Long = 2L * dev(t) + dev(t - 7)
      // s1 from t=3, s2 from t=6, s3 from t=13; scoring needs
      // brown(t−1) (t−1 ≥ 13) and sea/y at t−7 (t−7 ≥ 13) → t ≥ 20.
      val scored = (20 until y.length).map { t =>
        (225L * y(t) - brown(t - 1) - 5L * sea(t - 7),
          math.abs(y(t) - y(t - 7))) }
      val expected =
        if (scored.isEmpty) Seq.empty
        else {
          val n = scored.size.toLong
          Seq(("T", n,
            floor6(scored.map(e => math.abs(e._1)).sum.toDouble / 225 / n),
            floor6(scored.map(_._1).sum.toDouble / 225 / n),
            floor6(scored.map(_._2).sum.toDouble / n)))
        }
      val ev = y.zipWithIndex.flatMap { case (cnt, dd) =>
        Seq.fill(cnt.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(dd).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Forecast.holtWintersOn(ev)
        .as[(String, Long, Double, Double, Double)].collect().toSeq
      got == expected
    }

  property("cochranQOn == brute complete-block fold") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 8L),                       // customer
      Gen.listOfN(3, Gen.oneOf(None, Some(true), Some(false)))))) { cs =>
      import spark.implicits._
      // One synthetic (cust, year, price) order per present year;
      // later duplicates for the same customer override via toMap.
      val years = Seq(1995, 1996, 1997)
      val byCust = cs.toMap
      val rows = byCust.toSeq.flatMap { case (c, flags) =>
        years.zip(flags).collect { case (y, Some(hi)) =>
          (c, f"$y-03-07", if (hi) 400000.0 else 50000.0) }
      }
      val blocks = byCust.valuesIterator
        .filter(_.forall(_.isDefined)).map(_.map(f => if (f.get) 1L else 0L))
        .toSeq
      val expected: (Long, Option[Long], Option[Long], Option[Long],
          Option[Double], Option[Boolean]) =
        if (blocks.isEmpty) (0L, None, None, None, None, None)
        else {
          val n = blocks.size.toLong
          val Seq(c1, c2, c3) =
            (0 to 2).map(j => blocks.map(_(j)).sum)
          val rs = blocks.map(_.sum)
          val t = rs.sum
          val rr = rs.map(r => r * r).sum
          val den = 3 * t.toDouble - rr
          val q = if (den == 0) None
            else Some(floor6(
              2 * (3 * (c1.toDouble * c1 + c2.toDouble * c2 + c3.toDouble * c3)
                - t.toDouble * t) / den))
          (n, Some(c1), Some(c2), Some(c3), q, q.map(_ > 5.991465))
        }
      val df = (rows :+ ((99L, "1992-01-01", 1.0)))  // out-of-window noise
        .toDF("o_custkey", "o_orderdate", "o_totalprice")
      val r = graft.ops.stats.Blocked.cochranQOn(df).collect().head
      def ol(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      val got = (r.getLong(0), ol(1), ol(2), ol(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getBoolean(5)))
      got == expected
    }

  property("periodogramOn == brute DFT within one 6-dp grid step") =
    forAll(Gen.chooseNum(4, 25).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(1, 6)))) { ys =>
      import spark.implicits._
      val y = ys.toIndexedSeq.map(_.toLong)
      val nd = y.length.toLong
      val t = y.sum
      // Unordered engine sums vs this ordered fold differ by libm +
      // association ulps — assert within one floor-6 grid step, not
      // bit equality (the only tolerance law in this file; every
      // exact-integer op above stays ==).
      def power(p: Long): Double = {
        val terms = y.zipWithIndex.map { case (v, i) =>
          val dev = (nd * v - t).toDouble
          val ang = 2 * math.Pi * ((i + 1) % p).toDouble / p
          (dev * math.cos(ang), dev * math.sin(ang))
        }
        val sc = terms.map(_._1).sum
        val ss = terms.map(_._2).sum
        (sc * sc + ss * ss) / (nd.toDouble * nd * nd)
      }
      val ev = y.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c.toInt)(("T", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) }.toDF("event_type", "ts")
      val got = graft.ops.timeseries.Patterns.periodogramOn(ev)
        .as[(String, Long, Long, Double)].collect().toSeq
      got.size == 9 && got.forall { case (_, p, n, pw) =>
        n == nd && math.abs(pw - floor6(power(p))) <= 1.000001e-6 }
    }

  property("zipfFitOn == brute rank-frequency OLS within one grid step") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf(
      "aa", "bb", "cc", "dd", "ee", "ff", "gg"))) { toks =>
      import spark.implicits._
      val freq = toks.groupBy(identity).map { case (w, g) =>
        (w, g.size.toLong) }.toSeq
      val ranked = freq.sortBy { case (w, f) => (-f, w) }.zipWithIndex
      val pts = ranked.map { case ((_, f), i) =>
        (math.log((i + 1).toDouble), math.log(f.toDouble)) }
      val m = pts.size.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sx2 = pts.map(p => p._1 * p._1).sum
      val den = m * sx2 - sx * sx
      val r = graft.ops.corpus.Vocabulary.zipfFitOn(
        Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"))
        .collect().head
      val shapeOk =
        r.getLong(0) == freq.size.toLong && r.getLong(1) == pts.size.toLong
      if (den == 0)
        shapeOk && r.isNullAt(2) && r.isNullAt(3) // single-rank fit: NULL
      else {
        val b = (m * sxy - sx * sy) / den
        shapeOk && !r.isNullAt(2) &&
          math.abs(r.getDouble(2) - floor6(-b)) <= 1.000001e-6 &&
          math.abs(r.getDouble(3) - floor6((sy - b * sx) / m)) <= 1.000001e-6
      }
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  property("lshBucketAuditOn == brute md5 minhash replica") =
    forAll(Gen.chooseNum(1, 6).flatMap(nd => Gen.listOfN(nd,
      Gen.chooseNum(3, 12).flatMap(len => Gen.listOfN(len,
        Gen.oneOf("aa", "bb", "cc", "dd", "ee")))))) { docs =>
      import spark.implicits._
      def shingles(t: Seq[String]): Set[String] =
        t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      val sigs = docs.zipWithIndex.map { case (t, i) =>
        val sh = shingles(t)
        val mins = (0 until 8).map(s0 =>
          sh.map(h => md5hex(s"$s0|$h")).min)
        (i.toLong, (0 until 4).map(b => md5hex(mins(2 * b) + mins(2 * b + 1))))
      }
      val expected = (0L to 3L).map { b =>
        val cs = sigs.groupBy(_._2(b.toInt)).values.map(_.size.toLong).toSeq
        val cp = cs.map(c => c * (c - 1) / 2).sum
        val mx = cs.max
        (b, cs.size.toLong, mx, cp,
          if (cp == 0) None else Some(floor6((mx * (mx - 1) / 2).toDouble / cp)))
      }
      val got = graft.ops.dedup.Shingles.lshBucketAuditOn(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
          .toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
      got == expected
    }

  property("shingleDfSpectrumOn == brute df-bucket fold") =
    forAll(Gen.chooseNum(1, 8).flatMap(nd => Gen.listOfN(nd,
      Gen.chooseNum(3, 10).flatMap(len => Gen.listOfN(len,
        Gen.oneOf("aa", "bb", "cc")))))) { docs =>
      import spark.implicits._
      def shingles(t: Seq[String]): Set[String] =
        t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      val df = docs.flatMap(t => shingles(t).toSeq)
        .groupBy(identity).map { case (_, g) => g.size.toLong }.toSeq
      def bucket(d: Long) =
        if (d == 1) "01_unique" else if (d == 2) "02_df2"
        else if (d <= 4) "03_df3_4" else if (d <= 8) "04_df5_8"
        else if (d <= 16) "05_df9_16" else "06_df17plus"
      val total = df.size.toLong
      val expected = df.groupBy(bucket).toSeq.sortBy(_._1)
        .map { case (bk, ds) => (bk, ds.size.toLong, ds.sum,
          floor6(ds.size.toDouble / total)) }
      val got = graft.ops.dedup.Shingles.shingleDfSpectrumOn(
        docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
          .toDF("doc_id", "text"))
        .as[(String, Long, Long, Double)].collect().toSeq
      got == expected
    }

  property("hodgesLehmannOn == brute pairwise-difference median") =
    forAll(Gen.chooseNum(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(1, 9))),
      Gen.chooseNum(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(1, 9)))) { (xs, ys) =>
      import spark.implicits._
      val diffs = (for (a <- xs; b <- ys) yield (a - b).toLong).sorted
      // 2*cum >= total picks the lower median of the multiset
      val hl = diffs(((diffs.size + 1) / 2) - 1)
      // Day d of each series carries its count as that day's events.
      val ev = (xs.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c)(("click", java.time.LocalDate.of(2024, 1, 1)
          .plusDays(d).toString)) } ++
        ys.zipWithIndex.flatMap { case (c, d) =>
          Seq.fill(c)(("purchase", java.time.LocalDate.of(2024, 1, 1)
            .plusDays(d).toString)) }).toDF("event_type", "ts")
      val got = graft.ops.Composite67.hodgesLehmannOn(ev)
        .as[(Long, Long, Long)].collect().head
      got == ((xs.size.toLong, ys.size.toLong, hl))
    }

  property("theilIndexOn == brute entropy decomposition") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 3L), Gen.chooseNum(1L, 500L)))) { rows =>
      import spark.implicits._
      val xs = rows.map(_._2.toDouble)
      val n = xs.size; val xx = xs.sum
      val tTot = xs.map(x => (x / xx) * math.log(x / (xx / n))).sum
      val groups = rows.groupBy(_._1).values.toSeq
      val tBtw = groups.map { g =>
        val xg = g.map(_._2.toDouble).sum
        (xg / xx) * math.log((xg / xx) / (g.size.toDouble / n))
      }.sum
      val r = graft.ops.Composite67.theilIndexOn(rows.toDF("nat", "x"))
        .collect().head
      r.getLong(0) == n.toLong && r.getLong(1) == groups.size.toLong &&
        math.abs(r.getDouble(2) - tTot) <= 2e-6 &&
        math.abs(r.getDouble(3) - tBtw) <= 2e-6 &&
        math.abs(r.getDouble(4) - (r.getDouble(2) - r.getDouble(3))) <= 2e-6
    }

  property("bowleySkewOn == brute picked-quartile fold") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1L, 20L))) { vs =>
      import spark.implicits._
      val sorted = vs.sorted
      val n = vs.size.toLong
      // k·n ≤ 4·cum picks: smallest value whose cumulative count
      // reaches k/4 of the total.
      def pick(k: Long): Long = {
        var cum = 0L
        sorted.map { v => cum += 1; (v, cum) }
          .collectFirst { case (v, c) if 4 * c >= k * n => v }.get
      }
      val (q1, q2, q3) = (pick(1), pick(2), pick(3))
      val skew = if (q3 - q1 == 0) None
        else Some(floor6((q3 + q1 - 2.0 * q2) / (q3 - q1).toDouble))
      val r = graft.ops.Composite68.bowleySkewOn(
        vs.map(v => ("A", v)).toDF("g", "v")).collect().head
      val got = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)))
      got == (("A", n, q1, q2, q3, skew))
    }

  property("parkinsonVolOn == brute daily-range fold") =
    forAll(Gen.chooseNum(1, 8).flatMap(nd => Gen.listOfN(nd,
      Gen.listOfN(3, Gen.chooseNum(1, 5))))) { days =>
      import spark.implicits._
      // Day d has hours 0/1/2 with the generated event counts.
      val ev = days.zipWithIndex.flatMap { case (hs, d) =>
        hs.zipWithIndex.flatMap { case (c, hh) =>
          Seq.fill(c)(("T", f"2024-01-${d + 1}%02dT$hh%02d:15:00")) }
      }.toDF("event_type", "ts")
      val terms = days.map(hs => {
        val h = hs.max.toDouble; val l = hs.min.toDouble
        math.log(h / l) * math.log(h / l)
      })
      val expect = floor6(
        math.sqrt(terms.sum / (4 * math.log(2.0) * days.size)))
      val got = graft.ops.Composite68.parkinsonVolOn(ev)
        .as[(String, Long, Double)].collect().head
      got._1 == "T" && got._2 == days.size.toLong &&
        math.abs(got._3 - expect) <= 1.000001e-6
    }

  // ---- round-16 laws -------------------------------------------------------

  private val r16Prios = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** 5 small value lists, at least two distinct values overall (the
    * all-identical degenerate NULLs the z's by design). */
  private val fiveGroups: Gen[List[List[Long]]] =
    Gen.listOfN(5, Gen.nonEmptyListOf(Gen.chooseNum(1L, 8L)))
      .suchThat(gs => gs.flatten.distinct.size >= 2)

  private def groupsToOrders(gs: List[List[Long]]) = {
    import spark.implicits._
    gs.zipWithIndex.flatMap { case (vs, i) =>
      vs.map(v => (r16Prios(i), v.toDouble)) }
      .toDF("o_orderpriority", "o_totalprice")
  }

  property("jonckheereOn == brute pair count + tie-corrected moments") =
    forAll(fiveGroups) { gs =>
      // brute doubled JT by direct pair enumeration
      var jt2 = 0L
      for (i <- gs.indices; j <- gs.indices if i < j;
           x <- gs(i); y <- gs(j))
        jt2 += (if (x < y) 2L else if (x == y) 1L else 0L)
      val ns = gs.map(_.size.toLong)
      val nn = ns.sum
      val tc = gs.flatten.groupBy(identity).values.map(_.size.toLong)
      val t1 = tc.map(t => t * (t - 1) * (2 * t + 5)).sum
      val t2 = tc.map(t => t * (t - 1) * (t - 2)).sum
      val t3 = tc.map(t => t * (t - 1)).sum
      // identical formula structure to KSample.jtZ (same op order
      // on the JVM => bit-identical doubles)
      val e2 = (nn.toDouble * nn - ns.map(n => n.toDouble * n).reduce(_ + _)) / 2
      val var1 =
        (nn.toDouble * (nn - 1) * (2 * nn + 5)
          - ns.map(n => n.toDouble * (n - 1) * (2 * n + 5)).reduce(_ + _)
          - t1.toDouble) / 72 +
        ns.map(n => n.toDouble * (n - 1) * (n - 2)).reduce(_ + _) *
          t2.toDouble / (36 * nn.toDouble * (nn - 1) * (nn - 2)) +
        ns.map(n => n.toDouble * (n - 1)).reduce(_ + _) *
          t3.toDouble / (8 * nn.toDouble * (nn - 1))
      val z = (jt2.toDouble - e2) / (2 * math.sqrt(var1))
      val r = graft.ops.stats.KSample.jonckheereOn(groupsToOrders(gs))
        .collect().head
      r.getLong(0) == nn && r.getLong(1) == jt2 &&
        (if (var1 == 0) r.isNullAt(2)
         else r.getDouble(2) == floor6(z) &&
           r.getBoolean(3) == (math.abs(z) > 1.959964))
    }

  property("dunnOn == brute doubled-rank z grid with Holm step-down") =
    forAll(fiveGroups) { gs =>
      val all = gs.flatten.sorted
      val nn = all.size.toLong
      // doubled average rank per value: 2·below + cnt + 1
      val cnt = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val below = {
        var cum = 0L
        cnt.toSeq.sortBy(_._1).map { case (v, c) =>
          val b = cum; cum += c; v -> b }.toMap
      }
      def r2(v: Long) = 2 * below(v) + cnt(v) + 1
      val tt = cnt.values.map(c => c * c * c - c).sum
      val stats = gs.map(vs =>
        (vs.size.toLong, vs.map(v => r2(v)).sum)) // (n_g, Σr2)
      val zs = for {
        i <- gs.indices; j <- gs.indices if i < j
      } yield {
        val (na, r2a) = stats(i); val (nb, r2b) = stats(j)
        // same op order as KSample.dunnZ
        val z = (r2a.toDouble / (2 * na) - r2b.toDouble / (2 * nb)) /
          math.sqrt((nn.toDouble * (nn + 1) / 12
            - tt.toDouble / (12 * (nn - 1))) * (1.0 / na + 1.0 / nb))
        (r16Prios(i), r16Prios(j), na, nb, z)
      }
      val crit = Seq(2.8070337683438114, 2.772921294608662,
        2.734368786533176, 2.690109527158866, 2.638257273476751,
        2.5758293035489, 2.4977054744123737, 2.3939797998185104,
        2.2414027276049464, 1.9599639845400536)
      def round12(x: Double) = // Spark's Round(double) discipline
        java.math.BigDecimal.valueOf(x)
          .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
      val ranked = zs.sortBy { case (g1, g2, _, _, z) =>
        (-round12(math.abs(z)), g1, g2) }
      var running = true
      val holm = ranked.zipWithIndex.map { case ((g1, g2, _, _, z), l) =>
        running = running && round12(math.abs(z)) >= crit(l)
        (g1, g2) -> (l + 1, running)
      }.toMap
      val expect = zs.map { case (g1, g2, na, nb, z) =>
        val (hr, sig) = holm((g1, g2))
        (g1, g2, na, nb, floor6(z), hr, sig) }.sortBy(t => (t._1, t._2))
      val got = graft.ops.stats.KSample.dunnOn(groupsToOrders(gs))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(6), r.getInt(7), r.getBoolean(8))).toSeq
      got == expect
    }

  private val dailyCounts: Gen[List[Int]] =
    Gen.chooseNum(2, 9).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1, 20)))

  private def countsToEvents(cs: List[Int]) = {
    import spark.implicits._
    cs.zipWithIndex.flatMap { case (y, i) =>
      Seq.fill(y)(("A", java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong).toString)) }.toDF("event_type", "ts")
  }

  property("pageHinkleyOn == brute cumulative scan") =
    forAll(dailyCounts) { cs =>
      val nd = cs.size.toLong
      val sy = cs.map(_.toLong).sum
      val smr = cs.sliding(2).collect { case List(a, b) =>
        math.abs(b - a).toLong }.sum
      // running extrema of M over the prefix (current row included),
      // then floored/ceiled at the empty-prefix 0 — the operator's
      // least/greatest(0, ...) semantics
      var c2 = 0L; var mn2 = Long.MaxValue; var mx2 = Long.MinValue
      val pairs = cs.zipWithIndex.map { case (y, i) =>
        c2 += y
        val mt = nd * c2 - (i + 1) * sy
        mn2 = math.min(mn2, mt); mx2 = math.max(mx2, mt)
        (mt - math.min(0L, mn2), math.max(0L, mx2) - mt)
      }
      val bar = 2.66 * (smr.toDouble / (nd - 1))
      val expInc = pairs.map(_._1).max
      val expDec = pairs.map(_._2).max
      val nAi = pairs.count(p => p._1.toDouble / nd > bar).toLong
      val nAd = pairs.count(p => p._2.toDouble / nd > bar).toLong
      val r = graft.ops.timeseries.Control.pageHinkleyOn(countsToEvents(cs))
        .collect().head
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)) ==
        (("A", nd, floor6(expInc.toDouble / nd), floor6(expDec.toDouble / nd),
          floor6(bar), nAi, nAd))
    }

  property("durbinWatsonOn == brute exact-residual fold") =
    forAll(dailyCounts.suchThat(_.size >= 3)) { cs =>
      val n = cs.size.toLong
      val ys = cs.map(_.toLong)
      val ts = (1L to n).toList
      val st = ts.sum; val sy = ys.sum
      val stt = ts.map(t => t * t).sum
      val sty = ts.zip(ys).map { case (t, y) => t * y }.sum
      val denb = n * sty - st * sy
      val den = n * stt - st * st
      val e = ts.zip(ys).map { case (t, y) =>
        (n * den * y - (den * sy - denb * st) - n * denb * t).toDouble }
      val see = e.map(x => x * x).sum
      val sdd = e.sliding(2).collect { case List(a, b) =>
        (b - a) * (b - a) }.sum
      val r = graft.ops.timeseries.Correlation.durbinWatsonOn(countsToEvents(cs))
        .collect().head
      val slopeOk = r.getDouble(2) == floor6(denb.toDouble / den)
      if (see == 0) slopeOk && r.isNullAt(3)
      else {
        val dw = sdd / see
        slopeOk && math.abs(r.getDouble(3) - floor6(dw)) <= 1.000001e-6 &&
          // flag only asserted away from the 1.5 boundary (sum-order
          // drift between brute and engine is ~1e-15 relative)
          (math.abs(dw - 1.5) < 1e-6 || r.getBoolean(4) == (dw < 1.5))
      }
    }

  property("ewmaChartOn == brute integer dot product + MR limits") =
    forAll(Gen.chooseNum(17, 22).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 20)))) { cs =>
      val nd = cs.size.toLong
      val sy = cs.map(_.toLong).sum
      val smr = cs.sliding(2).collect { case List(a, b) =>
        math.abs(b - a).toLong }.sum
      val sigma = smr.toDouble / (nd - 1) / 1.128
      val ucl = sy.toDouble / nd + math.sqrt(3.0) * sigma
      val lcl = sy.toDouble / nd - math.sqrt(3.0) * sigma
      val zs = (16 until cs.size).map { t =>
        (0 to 16).map(j => cs(t - j).toLong * (1L << (16 - j))).sum }
      val above = zs.count(z => z.toDouble / 131071 > ucl).toLong
      val below = zs.count(z => z.toDouble / 131071 < lcl).toLong
      val r = graft.ops.timeseries.Control.ewmaChartOn(countsToEvents(cs))
        .collect().head
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7)) ==
        (("A", zs.size.toLong, floor6(sy.toDouble / nd), floor6(sigma),
          floor6(ucl), floor6(lcl), above, below))
    }

  property("katzOn == brute walk-count fold") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 5L))
        .suchThat(p => p._1 != p._2))) { es =>
      import spark.implicits._
      val edges = es.flatMap(p => Seq(p, p.swap)).distinct
      val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      var w = nodes.map(_ -> 1L).toMap
      val walks = (1 to 3).map { _ =>
        w = edges.groupBy(_._2).view.mapValues(
          _.map(e => w.getOrElse(e._1, 0L)).sum).toMap
        w
      }
      val expect = nodes.map { v =>
        val (w1, w2, w3) = (walks(0).getOrElse(v, 0L),
          walks(1).getOrElse(v, 0L), walks(2).getOrElse(v, 0L))
        (v, w1, w2, w3, (64 * w1 + 8 * w2 + w3).toDouble / 512)
      }
      val got = graft.ops.graph.Centrality.katzOn(edges.toDF("src", "dst"))
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      got == expect
    }

  property("aroonOn == brute sliding 14-day window") =
    forAll(Gen.chooseNum(14, 20).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 6)))) { cs =>
      val expect = (13 until cs.size).map { t =>
        val win = (0 to 13).map(j => cs(t - j)) // j = days back
        val hi = win.indexOf(win.max).toLong    // most recent extreme
        val lo = win.indexOf(win.min).toLong
        (cs(t).toLong, hi, lo,
          floor6(100.0 * (13 - hi) / 13), floor6(100.0 * (13 - lo) / 13),
          floor6(100.0 * (lo - hi) / 13))
      }
      val got = graft.ops.timeseries.Patterns.aroonOn(countsToEvents(cs))
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSeq
      got == expect
    }

  property("cronbachIccOn == brute scaled-variance fold") =
    forAll(Gen.chooseNum(2, 7).flatMap(n => Gen.listOfN(n,
      Gen.listOfN(5, Gen.chooseNum(0, 5)).map(r =>
        if (r.sum == 0) r.updated(0, 1) else r)))) { m =>
      import spark.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = m.zipWithIndex.flatMap { case (row, d) =>
        row.zipWithIndex.flatMap { case (y, i) =>
          Seq.fill(y)((types(i), java.time.LocalDate.of(2024, 1, 1)
            .plusDays(d.toLong).toString)) } }.toDF("event_type", "ts")
      val n = m.size.toLong
      def colv(i: Int) = m.map(_(i).toLong)
      val vs = (0 until 5).map { i =>
        val xs = colv(i); n * xs.map(x => x * x).sum - xs.sum * xs.sum }
      val rows = m.map(_.map(_.toLong).sum)
      val ss = rows.sum; val qq = rows.map(s => s * s).sum
      val vt = n * qq - ss * ss
      val qsum = (0 until 5).map(i =>
        colv(i).map(x => x * x).sum.toDouble).reduce(_ + _)
      val alpha = if (vt == 0) None
        else Some(floor6((5.0 / 4) *
          (1 - vs.map(_.toDouble).reduce(_ + _) / vt.toDouble)))
      val msb = (qq.toDouble / 5 - ss.toDouble * ss / (5 * n)) / (n - 1)
      val msw = (qsum - qq.toDouble / 5) / (n * 4)
      val icc = if (msb + 4 * msw == 0) None
        else Some(floor6((msb - msw) / (msb + 4 * msw)))
      val r = graft.ops.stats.Blocked.cronbachIccOn(ev).collect().head
      r.getLong(0) == n &&
        (if (alpha.isEmpty) r.isNullAt(1)
         else math.abs(r.getDouble(1) - alpha.get) <= 1.000001e-6) &&
        (if (icc.isEmpty) r.isNullAt(2)
         else math.abs(r.getDouble(2) - icc.get) <= 1.000001e-6)
    }

  // ---- round 17: prefix-sum retrofit + growth rows -------------------------

  private val twoGroups: Gen[(List[Long], List[Long])] =
    Gen.zip(Gen.nonEmptyListOf(Gen.chooseNum(0L, 10L)),
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 10L)))

  property("globalPrefixSums == sequential exclusive cumsum per weight") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 50L),
        Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))) { xs =>
      import spark.implicits._
      // unique keys (the documented contract: a grouped/distinct axis)
      val grid = xs.groupBy(_._1).map { case (k, vs) =>
        (k, vs.map(_._2).sum, vs.map(_._3).sum) }.toList.sortBy(_._1)
      val df = grid.toDF("k", "w1", "w2")
      val got = graft.util.DistRank.globalPrefixSums(df,
          Seq("c1" -> col("w1"), "c2" -> col("w2")), col("k"), parts = 3)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toList
      var (cum1, cum2) = (0L, 0L)
      val want = grid.map { case (k, w1, w2) =>
        val out = (k, cum1, cum2); cum1 += w1; cum2 += w2; out }
      got == want
    }

  property("cliffsDeltaOn == brute pairwise sign fold") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      var (gt, eq) = (0L, 0L)
      for (x <- g1; y <- g2) {
        if (x > y) gt += 1 else if (x == y) eq += 1
      }
      val (n1, n2) = (g1.size.toLong, g2.size.toLong)
      val d2 = 2 * gt + eq
      // identical op order to cliffsDelta6 => identical doubles
      val delta = math.floor(
        (d2.toDouble / (n1.toDouble * n2.toDouble) - 1) * 1e6 + 0.5) / 1e6
      val mag =
        if (math.abs(delta) < 0.147) "negligible"
        else if (math.abs(delta) < 0.33) "small"
        else if (math.abs(delta) < 0.474) "medium"
        else "large"
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val r = graft.ops.stats.TwoSample
        .cliffsDeltaOn(df, col("x"), col("i1") === 1).collect().head
      r.getLong(0) == n1 && r.getLong(1) == n2 &&
        r.getDouble(2) == d2.toDouble / 2 &&
        r.getDouble(3) == delta && r.getString(4) == mag
    }

  property("globalLead == successor in the sorted key order") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 60L))) { ks =>
      import spark.implicits._
      val keys = ks.distinct.sorted
      val df = keys.map(k => (k, k * 2)).toDF("k", "v")
      val got = graft.util.DistRank.globalLead(df, "nk", col("k"), parts = 3)
        .collect().map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
        .sortBy(_._1).toList
      val want = keys.zip(keys.drop(1).map(Option(_)) :+ None)
      got == want
    }

  property("globalPrefixSumsWithLead == standalone prefix sums + lead") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 50L),
        Gen.chooseNum(0L, 9L)))) { xs =>
      import spark.implicits._
      val grid = xs.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toList.sortBy(_._1)
      val df = grid.toDF("k", "w")
      val fused = graft.util.DistRank
        .globalPrefixSumsWithLead(df, Seq("c" -> col("w")), col("k"), "nk",
          parts = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long])))
        .sortBy(_._1).toList
      var cum = 0L
      val want = grid.zipAll(grid.drop(1).map(x => Option(x._1)), (0L, 0L), None)
        .map { case ((k, w), nk) => val o = (k, cum, nk); cum += w; o }
      fused == want
    }

  property("wassersteinOn == brute EDF-area fold") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      val (n1, n2) = (g1.size.toLong, g2.size.toLong)
      val grid = (g1.map(v => (v * 100, 1L, 0L)) ++ g2.map(v => (v * 100, 0L, 1L)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (v, rs) => (v, rs.map(_._2).sum, rs.map(_._3).sum) }
      var (ca, cb) = (0L, 0L)
      var u = BigInt(0)
      for (((xc, a, b), i) <- grid.zipWithIndex) {
        ca += a; cb += b
        if (i + 1 < grid.size)
          u += BigInt(math.abs(ca * n2 - cb * n1)) * (grid(i + 1)._1 - xc)
      }
      // identical op order to w1Expr => identical doubles
      val w1 = math.floor(
        u.toDouble / (n1.toDouble * n2.toDouble * 100.0) * 1e6 + 0.5) / 1e6
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val r = graft.ops.stats.TwoSample
        .wassersteinOn(df, col("x"), col("i1") === 1).collect().head
      r.getLong(0) == n1 && r.getLong(1) == n2 &&
        math.abs(r.getDouble(2) - w1) <= 1.000001e-6
    }

  property("trimmedWinsorizedOn == brute sorted-slice fold") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-10L, 10L))) { vs =>
      import spark.implicits._
      val sorted = vs.map(_ * 100).sorted
      val n = sorted.size.toLong
      val k = (n / 10).toInt
      val core = sorted.slice(k, sorted.size - k)
      val tsum = core.map(BigInt(_)).sum
      val tm = math.floor(
        tsum.toDouble / ((n - 2 * k).toDouble * 100.0) * 1e6 + 0.5) / 1e6
      val (lo, hi) = (sorted(k), sorted(sorted.size - k - 1))
      val wm = math.floor(
        (tsum.toDouble + k.toDouble * lo.toDouble + k.toDouble * hi.toDouble)
          / (n.toDouble * 100.0) * 1e6 + 0.5) / 1e6
      val r = graft.ops.stats.TwoSample
        .trimmedWinsorizedOn(vs.map(_.toDouble).toDF("x"), col("x"))
        .collect().head
      r.getLong(0) == n && r.getLong(1) == k.toLong &&
        math.abs(r.getDouble(2) - tm) <= 1.000001e-6 &&
        math.abs(r.getDouble(3) - wm) <= 1.000001e-6
    }

  property("brunnerMunzelOn == brute grid-moment fold") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      val (n1, n2) = (g1.size.toLong, g2.size.toLong)
      val grid = (g1.map(v => (v, 1L, 0L)) ++ g2.map(v => (v, 0L, 1L)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (v, rs) => (v, rs.map(_._2).sum, rs.map(_._3).sum) }
      var (ba, bb) = (0L, 0L)
      var (s1, q1, s2, q2, r1s, r2s) = (0L, BigInt(0), 0L, BigInt(0), BigInt(0), BigInt(0))
      for ((_, a, b) <- grid) {
        val d1 = 2 * bb + b; val d2 = 2 * ba + a
        val tm = 2 * (ba + bb) + (a + b) + 1
        s1 += a * d1; q1 += BigInt(a) * d1 * d1
        s2 += b * d2; q2 += BigInt(b) * d2 * d2
        r1s += BigInt(a) * tm; r2s += BigInt(b) * tm
        ba += a; bb += b
      }
      def sVar(q: BigInt, s: Long, n: Long): Double =
        if (n < 2) Double.NaN
        else (q.toDouble - s.toDouble * s.toDouble / n.toDouble) /
          (4.0 * (n.toDouble - 1))
      val (sv1, sv2) = (sVar(q1, s1, n1), sVar(q2, s2, n2))
      val vsum = n1.toDouble * sv1 + n2.toDouble * sv2
      val diff = (r2s.toDouble / n2.toDouble - r1s.toDouble / n1.toDouble) / 2.0
      val w = n1.toDouble * n2.toDouble * diff /
        ((n1 + n2).toDouble * math.sqrt(vsum))
      val phat = (r2s.toDouble / n2.toDouble / 2.0 - (n2.toDouble + 1) / 2.0) /
        n1.toDouble
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val r = graft.ops.stats.TwoSample
        .brunnerMunzelOn(df, col("x"), col("i1") === 1).collect().head
      r.getLong(0) == n1 && r.getLong(1) == n2 &&
        math.abs(r.getDouble(2) - math.floor(phat * 1e6 + 0.5) / 1e6) <= 1.000001e-6 &&
        (if (n1 < 2 || n2 < 2 || vsum == 0 || w.isNaN || w.isInfinite)
           r.isNullAt(3) // degenerate: variance undefined or zero
         else math.abs(r.getDouble(3) - w) <= 1.000001e-6)
    }

  property("theilSenOn == brute pairwise-slope lower median") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1, 28), Gen.chooseNum(1, 5)))
        .suchThat(_.map(_._1).distinct.size >= 2)) { dayCounts =>
      import spark.implicits._
      val daily = dayCounts.groupBy(_._1).view
        .mapValues(_.map(_._2.toLong).sum).toList.sortBy(_._1)
      val events = daily.flatMap { case (day, y) =>
        Seq.fill(y.toInt)(("click",
          java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"))) }
        .toDF("event_type", "ts")
      val slopes = (for {
        (d1, y1) <- daily; (d2, y2) <- daily if d1 < d2
      } yield (y2 - y1).toDouble / (d2 - d1).toDouble).sorted
      val np = slopes.size.toLong
      val sen = slopes((np / 2 + np % 2 - 1).toInt) // first i with 2i >= np
      val r = graft.ops.timeseries.Stationarity.theilSenOn(events).collect().head
      r.getLong(1) == daily.size.toLong && r.getLong(2) == np &&
        r.getDouble(3) == math.floor(sen * 1e6 + 0.5) / 1e6
    }

  property("sourceNoveltyOn == brute first-owner fold") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("s1", "s2"),
        Gen.listOfN(5, Gen.oneOf("a", "b", "c", "d"))))) { docs =>
      import spark.implicits._
      val rows = docs.zipWithIndex.map { case ((src, ws), i) =>
        (i.toLong, src, ws.mkString(" ")) }
      val df = rows.toDF("doc_id", "source", "text")
      // brute: distinct 3-gram sets per doc, first owner by doc_id
      val gsets = rows.map { case (id, src, text) =>
        (id, src, text.split(" ").sliding(3).map(_.mkString(" ")).toSet) }
      val owner = scala.collection.mutable.HashMap.empty[String, Long]
      gsets.sortBy(_._1).foreach { case (id, _, gs) =>
        gs.foreach(g => owner.getOrElseUpdate(g, id)) }
      val perSrc = gsets.groupBy(_._2).view.mapValues { ds =>
        val novs = ds.map { case (id, _, gs) =>
          math.floor(gs.count(g => owner(g) == id).toDouble / gs.size * 1e6 + 0.5) / 1e6 }
        (ds.size.toLong,
          math.floor(novs.map(n => math.floor(n * 1e6 + 0.5).toLong).sum.toDouble
            / ds.size + 0.5) / 1e6)
      }.toMap
      val got = graft.ops.corpus.Quality.ngramNoveltyOn(df)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      got == perSrc
    }

  property("qqDecilesOn == brute sorted-index deciles") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      val (s1, s2) = (g1.map(_ * 100).sorted, g2.map(_ * 100).sorted)
      def q(s: List[Long], k: Int): Long = {
        val n = s.size.toLong
        s(((k * n + 9) / 10 - 1).toInt) // lower quantile at rank ceil(k*n/10)
      }
      val want = (1 to 9).map { k =>
        (k.toLong, q(s1, k).toDouble / 100, q(s2, k).toDouble / 100,
          (q(s1, k) - q(s2, k)).toDouble / 100) }.toList
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val got = graft.ops.stats.TwoSample
        .qqDecilesOn(df, col("x"), col("i1") === 1)
        .as[(Long, Double, Double, Double)].collect().toList
      got == want
    }

  property("medianCiOn == brute order-statistic interval") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-20L, 20L))) { vs =>
      import spark.implicits._
      val s = vs.map(_ * 100).sorted
      val n = s.size.toLong
      val l = math.max(1L,
        math.floor((n.toDouble - 1.959964 * math.sqrt(n.toDouble)) / 2.0).toLong)
      val u = n + 1 - l
      val med = s(((n + 1) / 2 - 1).toInt) // first index with 2c >= n
      val r = graft.ops.stats.TwoSample
        .medianCiOn(vs.map(_.toDouble).toDF("x"), col("x")).collect().head
      r.getLong(0) == n &&
        r.getDouble(1) == med.toDouble / 100 &&
        r.getDouble(2) == s((l - 1).toInt).toDouble / 100 &&
        r.getDouble(3) == s((u - 1).toInt).toDouble / 100
    }

  property("seasonalMannKendallOn == brute weekday-strata fold") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1, 28), Gen.chooseNum(1, 5)))) { dayCounts =>
      import spark.implicits._
      val daily = dayCounts.groupBy(_._1).view
        .mapValues(_.map(_._2.toLong).sum).toList.sortBy(_._1)
      val events = daily.flatMap { case (day, y) =>
        Seq.fill(y.toInt)(("click",
          java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"))) }
        .toDF("event_type", "ts")
      val strata = daily.groupBy { case (day, _) =>
        java.time.LocalDate.of(2024, 1, day).getDayOfWeek.getValue }
      var (s, varNum) = (0L, 0.0)
      strata.values.foreach { ds =>
        val ys = ds.sortBy(_._1).map(_._2)
        for (i <- ys.indices; j <- ys.indices if i < j)
          s += java.lang.Long.signum(ys(j) - ys(i))
        val n = ys.size.toLong
        val tc = ys.groupBy(identity).values
          .map(g => { val t = g.size.toLong; t * (t - 1) * (t * 2 + 5) }).sum
        varNum += n.toDouble * (n - 1) * (2 * n + 5) - tc.toDouble
      }
      val varS = varNum / 18.0
      val nDays = daily.size.toLong
      val z =
        if (s > 0) (s.toDouble - 1.0) / math.sqrt(varS)
        else if (s < 0) (s.toDouble + 1.0) / math.sqrt(varS)
        else 0.0
      val got = graft.ops.timeseries.Stationarity.seasonalMannKendallOn(events).collect()
      if (nDays < 10) got.isEmpty
      else {
        val r = got.head
        r.getLong(1) == nDays && r.getLong(2) == strata.size.toLong &&
          r.getLong(3) == s &&
          math.abs(r.getDouble(4) - math.floor(varS * 1e6 + 0.5) / 1e6) <= 1.000001e-6 &&
          (if (varS == 0) r.getDouble(5) == 0.0 || r.isNullAt(5)
           else math.abs(r.getDouble(5) - z) <= 1.000001e-6)
      }
    }

  property("lorenzOn == brute sorted cumulative-share fold") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 40L))) { vs =>
      import spark.implicits._
      val s = vs.sorted
      val n = s.size.toLong
      val tv = s.map(BigInt(_)).sum
      val want = (1 to 10).map { k =>
        val m = ((k * n + 9) / 10).toInt
        val cum = s.take(m).map(BigInt(_)).sum
        (k.toLong, m.toLong,
          math.floor(m.toDouble / n.toDouble * 1e6 + 0.5) / 1e6,
          if (tv == 0) null
          else math.floor(cum.toDouble / tv.toDouble * 1e6 + 0.5) / 1e6)
      }.toList
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "cents")
      val got = graft.ops.Composite80.lorenzOn(df.select(col("cents")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3))).toList
      got == want
    }

  property("cvmTestOn == brute pooled-EDF square fold") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      val (n1, n2) = (g1.size.toLong, g2.size.toLong)
      val grid = (g1.map(v => (v, 1L, 0L)) ++ g2.map(v => (v, 0L, 1L)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (v, rs) => (v, rs.map(_._2).sum, rs.map(_._3).sum) }
      var (ca, cb) = (0L, 0L)
      var u = BigInt(0)
      for ((_, a, b) <- grid) {
        ca += a; cb += b
        val d = ca * n2 - cb * n1
        u += BigInt(a + b) * BigInt(d) * BigInt(d)
      }
      // identical op order to cvmT => identical doubles
      val n = (n1 + n2).toDouble
      val t = u.toDouble / (n1.toDouble * n2.toDouble * n * n)
      val t6 = math.floor(t * 1e6 + 0.5) / 1e6
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val r = graft.ops.stats.TwoSample
        .cvmTestOn(df, col("x"), col("i1") === 1).collect().head
      r.getLong(0) == n1 && r.getLong(1) == n2 &&
        math.abs(r.getDouble(2) - t6) <= 1.000001e-6 &&
        r.getBoolean(3) == (t > 0.46136)
    }

  property("gmdOn == brute pairwise absolute-difference fold") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-50L, 50L))
        .suchThat(_.size >= 2)) { xs =>
      import spark.implicits._
      val n = xs.size.toLong
      val brute = (for {
        i <- xs.indices; j <- xs.indices if i != j
      } yield math.abs(xs(i) - xs(j)).toDouble).sum / (n * (n - 1)).toDouble
      val b6 = math.floor(brute * 1e6 + 0.5) / 1e6
      val df = xs.map(_.toDouble).toDF("x")
      val r = graft.ops.stats.TwoSample.gmdOn(df, col("x")).collect().head
      r.getLong(0) == n && math.abs(r.getDouble(1) - b6) <= 1.000001e-6
    }

  property("moodScaleOn == brute midrank squared-deviation fold") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      val (n1, n2) = (g1.size.toLong, g2.size.toLong)
      val nn = n1 + n2
      val all = g1 ++ g2
      val cnt = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val below = {
        var cum = 0L
        cnt.toSeq.sortBy(_._1).map { case (v, c) =>
          val b = cum; cum += c; v -> b }.toMap
      }
      // 4·M via the doubled identity 2(r̄ − (N+1)/2) = 2·below + t − N
      val m4 = g1.map { v =>
        val q = 2 * below(v) + cnt(v) - nn; BigInt(q) * BigInt(q)
      }.sum
      val m = m4.toDouble / 4.0
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val r = graft.ops.stats.TwoSample
        .moodScaleOn(df, col("x"), col("i1") === 1).collect().head
      val e = n1.toDouble * (nn.toDouble * nn - 1) / 12.0
      val va = n1.toDouble * n2 * (nn + 1.0) * (nn.toDouble * nn - 4) / 180.0
      val zOk =
        if (va == 0) r.isNullAt(3)
        else {
          val z = (m - e) / math.sqrt(va)
          r.getDouble(3) == math.floor(z * 1e6 + 0.5) / 1e6
        }
      r.getLong(0) == n1 && r.getLong(1) == n2 && r.getDouble(2) == m && zOk
    }

  property("adTestOn == brute pooled-EDF tail-weighted fold") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      val (n1, n2) = (g1.size.toLong, g2.size.toLong)
      val nn = n1 + n2
      val grid = (g1.map(v => (v, 1L, 0L)) ++ g2.map(v => (v, 0L, 1L)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (v, rs) => (v, rs.map(_._2).sum, rs.map(_._3).sum) }
      var (ca, cb) = (0L, 0L)
      var s = 0.0
      for ((_, a, b) <- grid) {
        ca += a; cb += b
        val bTot = ca + cb
        // B = N term nulls out via nullif on both engines (its D is 0)
        if (bTot < nn) {
          val d = ca * n2 - cb * n1
          s += (BigInt(a + b) * BigInt(d) * BigInt(d)).toDouble /
            (bTot.toDouble * (nn - bTot).toDouble)
        }
      }
      val a2 = s / (n1.toDouble * n2.toDouble)
      val a26 = math.floor(a2 * 1e6 + 0.5) / 1e6
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val r = graft.ops.stats.TwoSample
        .adTestOn(df, col("x"), col("i1") === 1).collect().head
      // sum order may differ between the fold and Spark's partial
      // aggregation — 1-ulp-class drift absorbed by the 6-dp floor,
      // asserted to within one floor step; the verdict flag is
      // internally consistent with the surfaced floored value.
      r.getLong(0) == n1 && r.getLong(1) == n2 &&
        math.abs(r.getDouble(2) - a26) <= 1.000001e-6 &&
        r.getBoolean(3) == (r.getDouble(2) > 2.492)
    }

  property("mannWhitneyOn == brute midrank fold (post prefix-sum retrofit)") =
    forAll(twoGroups) { case (g1, g2) =>
      import spark.implicits._
      val all = (g1 ++ g2).sorted
      val cnt = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val below = {
        var cum = 0L
        cnt.toSeq.sortBy(_._1).map { case (v, c) =>
          val b = cum; cum += c; v -> b }.toMap
      }
      def midrank(v: Long) = below(v) + 1 + (cnt(v).toDouble - 1) / 2
      val (n1, n2) = (g1.size.toLong, g2.size.toLong)
      val rsum = g1.map(midrank).sum
      val u1 = rsum - n1.toDouble * (n1.toDouble + 1) / 2
      val tie = cnt.values.map(t => t * t * t - t).sum
      val n = n1 + n2
      val z = (u1 - n1.toDouble * n2.toDouble / 2.0) /
        math.sqrt(n1.toDouble * n2.toDouble / 12.0 *
          ((n + 1).toDouble - tie.toDouble / (n.toDouble * (n - 1).toDouble)))
      val df = (g1.map(v => (v.toDouble, 1)) ++ g2.map(v => (v.toDouble, 0)))
        .toDF("x", "i1")
      val r = graft.ops.stats.TwoSample
        .mannWhitneyOn(df, col("x"), col("i1") === 1).collect().head
      r.getLong(0) == n1 && r.getLong(1) == n2 &&
        r.getDouble(2) == u1 &&
        (if (z.isNaN || z.isInfinite) r.isNullAt(3) // variance-0 degenerate
         else math.abs(r.getDouble(3) - z) <= 1.000001e-6)
    }
}
