package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the rows that graduated to oracle checks in
  * driver rounds 10-11 (VERDICT r10 item 3: those rows' shared
  * production helpers — simhashPairsFromSims, the cents arithmetic,
  * the stratified keep predicate, the ann bucket join — had no fast
  * local signal between round-end oracle runs). Each test drives the
  * SAME factored production path the oracle-checked query uses, on
  * inputs whose expected output is derivable by hand.
  */
class Round28Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- evt_threshold_alerts_verified ------------------------------

  test("thresholdAlertsVerified: one event crossing two multiples emits both; a non-crossing event emits none") {
    // step = 100000 cents (1000.00). User 1: e1 = 2500.00 crosses
    // multiples 1 and 2 in ONE event (running 250000); e2 = 10.00
    // lands at 251000 — crosses nothing. User 2: e3 = 1000.00 lands
    // EXACTLY on the boundary (running 100000) — k_to = 1 inclusive,
    // so the boundary itself counts as crossed.
    val events = Seq(
      (1L, 10L, 100L, 2500.00),
      (1L, 20L, 101L, 10.00),
      (2L, 10L, 200L, 1000.00))
      .toDF("user_id", "ts", "event_id", "value")
    val got = graft.ops.Events.thresholdAlertsVerified(events)
      .select("user_id", "threshold_multiple", "cross_event_id",
        "total_cents_at_cross")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 100L, 250000L),
      (1L, 2L, 100L, 250000L),
      (2L, 1L, 200L, 100000L)))
  }

  test("thresholdAlertsVerified: 2-dp values accumulate as exact cents (no double drift)") {
    // 10000 events of 0.10 sum to exactly 100.00; in doubles the
    // running sum of 0.1 drifts below — the cents lift must not.
    // 1000000 cents = 10 * step? No: 10000 * 10 cents = 100000 cents
    // = exactly one step boundary, crossed by the LAST event.
    val events = (1 to 10000).map(i => (7L, i.toLong, i.toLong, 0.10))
      .toDF("user_id", "ts", "event_id", "value")
    val got = graft.ops.Events.thresholdAlertsVerified(events)
      .select("threshold_multiple", "cross_event_id", "total_cents_at_cross")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10000L, 100000L)),
      s"exact-cents boundary crossing drifted: $got")
  }

  // ---- llm_sample_stratified_verified -----------------------------

  test("stratifiedKeep: fixed doc_ids land in the exact '8000'/'4000' keep-set") {
    // Independent reference: compute the md5 prefix per id here and
    // apply the threshold rule directly; the production Column must
    // agree id-for-id for both an 'en' stratum and a non-'en' one.
    def hex4(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"graft$id".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 4)
    }
    val ids = (0L until 64L).toSeq
    val docs = ids.flatMap(i => Seq((i, "en"), (i + 1000L, "de")))
      .toDF("doc_id", "lang")
    val kept = docs.filter(graft.ops.corpus.Sampling.stratifiedKeep)
      .select("doc_id").as[Long].collect().toSet
    val expected = (ids.filter(i => hex4(i) < "8000") ++
      ids.map(_ + 1000L).filter(i => hex4(i) < "4000")).toSet
    assert(kept == expected)
    // The set is non-trivial in both directions (some kept, some not)
    // so the assertion can actually fail on a drifted predicate.
    assert(kept.nonEmpty && kept.size < docs.count())
  }

  // ---- llm_dedup_simhash_verified ---------------------------------

  test("simhashMd5Sigs -> simhashPairsFromSims: planted near-identical pair recalled, distinct doc not paired") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    // Changing tok3 flips exactly 2 majority bits for this fixed
    // vocabulary (verified against an independent md5 replica) —
    // hamming 2 <= 3, and <= 3 flips always leave one clean band, so
    // band recall is guaranteed, not probabilistic.
    val near = (1 to 40).map(i => if (i == 3) "changed" else s"tok$i")
      .mkString(" ")
    val far = (1 to 40).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
    val pairs = graft.ops.dedup.NearDup.simhashPairsFromSims(
        graft.ops.dedup.NearDup.simhashMd5Sigs(docs), maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // Identical docs: hamming 0, all bands collide — guaranteed.
    assert(pairs.contains((1L, 2L)))
    // One token changed out of 40: majority vote flips few bits
    // (deterministic for these fixed strings — verified hamming <= 3).
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    // Fully disjoint vocabulary: must not band-collide within h <= 3.
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  // ---- llm_simsearch_ann_verified ---------------------------------

  test("annVerifiedBuckets: planted identical 64-dim vectors share all buckets and are recalled at cos 1.0") {
    val dim = graft.ops.retrieval.Ann.AnnVerifiedDims
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d => math.sin(seed * 97 + d).toFloat)
    // vec_id 0 is a query (vec_id % 100 == 0 convention); 7 is its
    // planted duplicate; 21/22 are distinct fillers.
    val emb = Seq((0L, vec(1)), (7L, vec(1)), (21L, vec(2)), (22L, vec(3)))
      .toDF("vec_id", "embedding")
    val buckets = graft.ops.retrieval.Ann.annVerifiedBuckets(emb)
    val b = buckets.collect().map(r => r.getLong(0) ->
      (1 to 4).map(r.getLong)).toMap
    assert(b(0L) == b(7L), "identical vectors must share all 4 buckets")
    val top = graft.ops.retrieval.Ann.annTopKFromBuckets(
        buckets, emb, col("vec_id") === 0L, k = 5)
      .select("q_id", "vec_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    assert(top.head == ((0L, 7L, 1.0)),
      s"planted duplicate must rank first at cos 1.0: ${top.toSeq}")
  }

  // ---- llm_span_neardup -------------------------------------------

  test("spanNearDup: planted shared 16-token span found across docs; disjoint docs not paired") {
    val span = (1 to 16).map(i => s"s$i").mkString(" ")
    val near = ((1 to 15).map(i => s"s$i") :+ "edited").mkString(" ")
    val other = (1 to 16).map(i => s"x$i").mkString(" ")
    // doc 1: the span as its first chunk + filler chunk; doc 2: the
    // identical span; doc 3: a 1-token edit (14/16 shared bigrams ->
    // J = 13/17 ~ 0.76 >= 0.5 if the min-bigram block recalls it);
    // doc 4: fully disjoint vocabulary.
    val docs = Seq(
      (1L, span + " " + other),
      (2L, span),
      (3L, near),
      (4L, (1 to 16).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ops.dedup.NearDup.spanNearDup(docs)
      .select("doc_a", "span_a", "doc_b", "span_b")
      .as[(Long, Long, Long, Long)].collect().toSet
    // Identical spans share ALL bigrams, hence the same min hash —
    // guaranteed recall; span 0 of doc 1 == span 0 of doc 2.
    assert(got.contains((1L, 0L, 2L, 0L)))
    // The disjoint doc must pair with nothing.
    assert(!got.exists(p => p._1 == 4L || p._3 == 4L))
    // Doc 1's filler chunk (span 1) must not pair with the span.
    assert(!got.contains((1L, 1L, 2L, 0L)))
  }

  // ---- llm_domain_mix_optimize ------------------------------------

  test("domainMixOptimize: water-filling cap allocates the 70% budget across skewed strata") {
    // Strata sizes 4 / 6 / 20 (total 30, budget = 21). Sorted asc:
    // i=1: (21-0) div 3 = 7 > 4 -> infeasible; i=2: (21-4) div 2 =
    // 8 > 6 -> infeasible; i=3: (21-10) div 1 = 11 <= 20 -> cap 11.
    // Allocation: 4 + 6 + 11 = 21 = the budget, exactly.
    val docs = (
      (1 to 4).map(i => (i.toLong, "aa", s"t$i w$i")) ++
      (1 to 6).map(i => (100L + i, "bb", s"t$i w$i")) ++
      (1 to 20).map(i => (200L + i, "cc", s"t$i w$i"))
    ).toDF("doc_id", "lang", "text")
    val got = graft.ops.corpus.Sampling.domainMixOptimize(docs)
      .select("lang", "n_docs", "n_kept")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("aa", 4L, 4L), ("bb", 6L, 6L), ("cc", 20L, 11L)))
  }

  test("domainMixOptimize: kept docs are the stratum's top quality (doc_id tiebreak)") {
    // One stratum, 4 docs, budget = 7*4 div 10 = 2 -> cap 2. Docs 1/2
    // are high-quality (distinct tokens), 3/4 all-stopword junk; sum
    // of kept ids pins exactly which two survived.
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "epsilon zeta eta theta"),
      (3L, "en", "the the the the"),
      (4L, "en", "a a a a")).toDF("doc_id", "lang", "text")
    val got = graft.ops.corpus.Sampling.domainMixOptimize(docs)
      .select("n_kept", "sum_kept_ids").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 3L)), s"expected docs 1+2 kept: $got")
  }

  test("SignBucketsExact: wrong-dimension input yields null (filtered upstream)") {
    val emb = Seq((1L, Array.tabulate(32)(_.toFloat)),
        (2L, Array.tabulate(graft.ops.retrieval.Ann.AnnVerifiedDims)(_.toFloat)))
      .toDF("vec_id", "embedding")
    val out = graft.ops.retrieval.Ann.annVerifiedBuckets(emb)
      .select("vec_id").as[Long].collect().toSeq
    assert(out == Seq(2L), "32-dim row must drop, 64-dim row must survive")
  }
}
