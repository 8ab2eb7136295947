package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round 18 — verdict punch-list item 1: `dq_benford_second_digit`
  * (dq.Digits) wired into the registry, with the planted cases the
  * r17 verdict asked for: the totals-<10 exclusion (no second integer
  * digit — position 2 of the DECIMAL(15,2) string is the decimal
  * point) and a known digit distribution against the pinned Nigrini
  * second-digit table.
  */
class Round57Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("benford second digit: <10 exclusion and planted distribution") {
    // 9.99 and 5.00 lack a second integer digit and must be excluded;
    // the rest contribute digits 0 (10.00), 9 (19.99), 5 (25.50 and
    // 25.10), 3 (137.25).
    val orders = Seq(9.99, 5.00, 10.00, 19.99, 25.50, 25.10, 137.25)
      .toDF("o_totalprice")
    val out = graft.ops.dq.Digits.benford2On(spark, orders)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0, 1L, 0.2), (3, 1L, 0.2),
      (5, 2L, 0.4), (9, 1L, 0.2)))
  }

  test("benford second digit: pinned expected shares are Nigrini's") {
    val orders = Seq(10.0, 21.0, 32.0, 43.0, 54.0, 65.0, 76.0, 87.0,
      98.0, 19.0).toDF("o_totalprice") // digits 0..9, one each
    val rows = graft.ops.dq.Digits.benford2On(spark, orders)
      .collect().map(r => (r.getInt(0), r.getDouble(3)))
    // Σ_{k=1..9} log10(1 + 1/(10k + d)), round 6 — spot-check the
    // endpoints and that the full table sums to 1.
    val byDigit = rows.toMap
    assert(byDigit(0) == 0.119679)
    assert(byDigit(9) == 0.084997)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-5)
  }

  test("registry: dq_benford_second_digit is declared with an oracle") {
    assert(SparkEntry.queries.contains("dq_benford_second_digit"))
    assert(SparkEntry.oracleSql.contains("dq_benford_second_digit"))
  }

  // r18 verdict item 2: the five remaining entity-sized one-task
  // windows (RFM quintiles, Pareto deciles, ABC cumulative revenue,
  // local-clustering degree deciles, score-vs-dup TTR deciles) are
  // retrofitted onto DistRank. The invariant, as in Round56Spec: no
  // Window node may LEAD its spec with an ordered entity-sized axis —
  // every ordered-first window must be the bounded __pid offsets
  // table; axis windows must carry a partition column first.
  private val RetrofitQueries = Seq("evt_rfm_segmentation",
    "agg_pareto_deciles", "agg_abc_classification",
    "graph_local_clustering", "llm_score_vs_dup")

  test("retrofitted rows: no one-task window over an entity axis") {
    val bare = """windowspecdefinition\((?!__pid)[^,)]*#\d+L? (ASC|DESC)""".r
    for (q <- RetrofitQueries) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      val windows = plan.linesIterator
        .filter(_.contains("windowspecdefinition(")).toSeq
      assert(windows.exists(_.contains("windowspecdefinition(__pid")),
        s"$q: expected the __pid-scoped DistRank windows:\n$plan")
      windows.foreach { w =>
        assert(bare.findFirstIn(w).isEmpty,
          s"$q: a Window orders an un-partitioned entity axis " +
            s"(single-task funnel at scale):\n$w")
      }
    }
  }

  // r18 verdict item 5: Kendall's W planted cases.
  private val Priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def ordersOf(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("o_orderdate", "o_orderpriority", "o_totalprice")
  }

  test("kendalls w: perfect concordance over 3 blocks is exactly 1") {
    // every month ranks the priorities identically → W = 1, and the
    // tie-free Friedman Q = n·(k−1)·W = 12.
    val rows = for {
      m <- 1 to 3
      (p, i) <- Priorities.zipWithIndex
    } yield (f"1995-0$m%d-15", p, 10.0 * (i + 1))
    val r = graft.ops.stats.Blocked.kendallsWOn(ordersOf(rows)).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 12.0)
    assert(r.getDouble(3) == 1.0)
  }

  test("page trend: aligned ranks give L = 165 and z = 2√3 exactly") {
    // perfect increasing alignment over 3 blocks: R_j = 3j,
    // L = 3·Σj² = 165, z = (165 − 45·3)/(5√3) = 2√3 ≈ 3.464102.
    val rows = for {
      m <- 1 to 3
      (p, i) <- Priorities.zipWithIndex
    } yield (f"1995-0$m%d-15", p, 10.0 * (i + 1))
    val r = graft.ops.stats.Blocked.pageTrendOn(ordersOf(rows)).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 165.0)
    assert(r.getDouble(3) == 3.464102)
    assert(r.getBoolean(4) && !r.getBoolean(5))
  }

  test("page trend: reversed ranks flip the sign and the flag") {
    val rows = for {
      m <- 1 to 3
      (p, i) <- Priorities.zipWithIndex
    } yield (f"1995-0$m%d-15", p, 10.0 * (5 - i))
    val r = graft.ops.stats.Blocked.pageTrendOn(ordersOf(rows)).collect().head
    assert(r.getDouble(2) == 105.0)
    assert(r.getDouble(3) == -3.464102)
    assert(!r.getBoolean(4) && r.getBoolean(5))
  }

  test("quade: hand-computed two-block design matches exactly") {
    // Block 1 (range 40 → range rank depends on block 2): values
    // 10,20,30,40,50 — within-block ranks 1..5. Block 2: values
    // 10,12,14,16,18 (range 8) with the same ordering. Range ranks:
    // block 2 = 1, block 1 = 2. S_ij = Q_i(r_ij − 3):
    //   block 1: 2·(−2,−1,0,1,2) = (−4,−2,0,2,4)
    //   block 2: 1·(−2,−1,0,1,2) = (−2,−1,0,1,2)
    // S_j = (−6,−3,0,3,6), A = 40+10 = 50, B = (36+9+0+9+36)/2 = 45,
    // F = (n−1)B/(A−B) = 1·45/5 = 9, df1 = 4, df2 = 4.
    val vals = Seq(
      Seq(0.10, 0.20, 0.30, 0.40, 0.50), // cents: 10..50
      Seq(0.10, 0.12, 0.14, 0.16, 0.18)) //        10..18
    val rows = for {
      (block, m) <- vals.zipWithIndex
      (p, i) <- Priorities.zipWithIndex
    } yield (f"1995-0${m + 1}%d-15", p, block(i))
    val r = graft.ops.stats.Blocked.quadeOn(ordersOf(rows)).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 9.0)
    assert(r.getLong(3) == 4L && r.getLong(4) == 4L)
  }

  test("benford first two digits: planted totals and <10 exclusion") {
    import spark.implicits._
    // 9.99 excluded; 10.00→10, 12.34→12, 123.45→12, 99.99→99.
    val orders = Seq(9.99, 10.00, 12.34, 123.45, 99.99)
      .toDF("o_totalprice")
    val out = graft.ops.dq.Digits.benford12On(spark, orders)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10, 1L, 0.25), (12, 2L, 0.5), (99, 1L, 0.25)))
  }

  test("gini mean diff: {0,1,3} gives exactly 2.0") {
    import spark.implicits._
    // pairwise |diffs| 1, 2, 3 sum to 6 → GMD = 2·6/(3·2) = 2.
    val df = Seq(0.0, 1.0, 3.0).toDF("x")
    val r = graft.ops.stats.TwoSample.gmdOn(df, org.apache.spark.sql.functions.col("x"))
      .collect().head
    assert(r.getLong(0) == 3L && r.getDouble(1) == 2.0)
  }

  test("bhattacharyya: identical groups overlap fully, disjoint not at all") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val same = Seq((1.0, 1), (2.0, 1), (1.0, 0), (2.0, 0)).toDF("x", "i1")
    val r1 = graft.ops.stats.TwoSample
      .bhattacharyyaOn(same, col("x"), col("i1") === 1).collect().head
    assert(r1.getDouble(3) == 1.0 && r1.getDouble(4) == 0.0 &&
      r1.getDouble(5) == 1.0)
    val disj = Seq((1.0, 1), (100.0, 0)).toDF("x", "i1")
    val r2 = graft.ops.stats.TwoSample
      .bhattacharyyaOn(disj, col("x"), col("i1") === 1).collect().head
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 1.0 &&
      r2.getDouble(5) == 0.0)
  }

  test("pettitt: planted level shift is located exactly") {
    import spark.implicits._
    // 10 days at 1 event/day then 10 days at 3/day: V = ∓10, U dips
    // to −100 at day 10 → K = 100, change day = day 10, p ≈ 0.00158.
    val rows = (1 to 10).map(d => ("shift", f"2020-01-$d%02d 12:00:00")) ++
      (11 to 20).flatMap(d => Seq.fill(3)(("shift", f"2020-01-$d%02d 12:00:00")))
    val events = rows.toDF("event_type", "ts")
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("ts").cast("timestamp").as("ts"))
    val r = graft.ops.timeseries.Stationarity.pettittOn(events).collect().head
    assert(r.getLong(1) == 20L)      // n_days
    assert(r.getLong(2) == 100L)     // K
    val day10 = java.time.LocalDate.parse("2020-01-10").toEpochDay
    assert(r.getLong(3) == day10)    // change_dd
    val p = math.min(1.0, 2.0 * math.exp(-6.0 * 100 * 100 / (8000.0 + 400.0)))
    assert(r.getDouble(4) == math.floor(p * 1e6 + 0.5) / 1e6)
    assert(r.getBoolean(5))
  }

  test("embedding norms: planted vectors give exact moments") {
    import spark.implicits._
    // norms 5, 0, 1 (micro-exact); dims {2, 2, 3}.
    val vs = Seq(
      (1L, Seq(3.0f, 4.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.ops.dq.Profiles.embeddingNormsOn(vs).collect().head
    assert(r.getLong(0) == 3L)                 // n_vectors
    assert(r.getLong(1) == 2L)                 // n_dims_distinct
    assert(r.getLong(2) == 2L && r.getLong(3) == 3L)
    assert(r.getLong(4) == 1L)                 // n_zero
    assert(r.getDouble(5) == 2.0)              // mean
    assert(r.getDouble(6) == math.floor(math.sqrt(14.0 / 3.0) * 1e6 + 0.5) / 1e6 ||
      r.getDouble(6) == 2.160247)              // std = sqrt(14/3)
    assert(r.getDouble(7) == 0.0 && r.getDouble(8) == 5.0)
  }

  test("hash uniformity: a single doc gives chi2 = 255 exactly") {
    import spark.implicits._
    val docs = Seq(42L).toDF("doc_id")
    val r = graft.ops.dq.Profiles.hashUniformityOn(docs, "doc_id").collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 256L)
    assert(r.getDouble(4) == 255.0)
    assert(r.getBoolean(5))
  }

  test("buishand range: planted step series gives R'=8, rescaled = 1") {
    import spark.implicits._
    // counts (1,1,3,3) over four days: S' = (−4,−8,−4,0), R' = 8,
    // R = 8/4 = 2, rescaled = 8/(√(4·20−64)·√4) = 1.
    val rows = Seq(("a", "2020-01-01 01:00:00"),
      ("a", "2020-01-02 01:00:00")) ++
      Seq.fill(3)(("a", "2020-01-03 01:00:00")) ++
      Seq.fill(3)(("a", "2020-01-04 01:00:00"))
    val events = rows.toDF("event_type", "ts")
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("ts").cast("timestamp").as("ts"))
    val r = graft.ops.timeseries.Stationarity.buishandOn(events).collect().head
    assert(r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.0)
    assert(r.getDouble(3) == 1.0)
  }

  test("mood scale: interleaved {1,3} vs {2,4} sits exactly at the null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // M = (1−2.5)² + (3−2.5)² = 2.5 = E[M] → z = 0, no rejection.
    val df = Seq((1.0, 1), (3.0, 1), (2.0, 0), (4.0, 0)).toDF("x", "i1")
    val r = graft.ops.stats.TwoSample
      .moodScaleOn(df, col("x"), col("i1") === 1).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 2.5)
    assert(r.getDouble(3) == 0.0)
    assert(!r.getBoolean(4))
  }

  test("logrank: identical groups give chi2 = 0; separated groups match hand fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val same = Seq((1L, 1, 1), (2L, 1, 1), (3L, 1, 1),
      (1L, 1, 0), (2L, 1, 0), (3L, 1, 0)).toDF("dur", "evt", "i1")
    val r1 = graft.ops.stats.TwoSample
      .logrankOn(same, "dur", "evt", col("i1") === 1).collect().head
    assert(r1.getLong(3) == 3L)        // O1
    assert(r1.getDouble(4) == 3.0)     // E1
    assert(r1.getDouble(5) == 0.0 && !r1.getBoolean(6))
    // g1 lives {1,2}, g2 lives {10,20}: E1 = 5/6, V = 17/36,
    // chi2 = (2 − 5/6)²/(17/36) = 49/17.
    val sep = Seq((1L, 1, 1), (2L, 1, 1), (10L, 1, 0), (20L, 1, 0))
      .toDF("dur", "evt", "i1")
    val r2 = graft.ops.stats.TwoSample
      .logrankOn(sep, "dur", "evt", col("i1") === 1).collect().head
    assert(r2.getLong(2) == 4L)        // event times
    assert(r2.getLong(3) == 2L)
    assert(r2.getDouble(4) == 0.833333)
    assert(r2.getDouble(5) == math.floor(49.0 / 17.0 * 1e6 + 0.5) / 1e6)
    assert(!r2.getBoolean(6))
  }

  test("kendalls w: latin-square ranks over 5 blocks give exactly 0") {
    // block b hands priority i the rank ((i + b) mod 5) + 1 → every
    // rank sum is 15 → zero concordance, Q = 0.
    val rows = for {
      b <- 0 until 5
      (p, i) <- Priorities.zipWithIndex
    } yield (f"1995-0${b + 1}%d-15", p, 10.0 * (((i + b) % 5) + 1))
    val r = graft.ops.stats.Blocked.kendallsWOn(ordersOf(rows)).collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 0.0)
  }
}
