package graft.ops.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.LlmOps2
import graft.ops.corpus.Text
import graft.util.Tables._

/** Near-duplicate pairs and spans (SURVEY.md §2.11, §2.17, §2.27,
  * §2.41, §2.46, §2.87):
  *
  *  - MinHash + LSH banding over 3-word shingles ([[nearDupPairs]]):
  *    `llm_dedup_near` and its oracle-checked twin
  *    `llm_dedup_near_verified`;
  *  - SimHash with 16-bit band blocking ([[simhashPairsFromSims]]):
  *    `llm_dedup_simhash` (xxhash64 token hashes) and
  *    `llm_dedup_simhash_verified` (md5-derived, oracle-checked);
  *  - the blocked word-bigram Jaccard pair scan ([[ngramPairs]]):
  *    `llm_dedup_ngram` and the threshold curve
  *    `llm_dedup_threshold_sweep`;
  *  - below the document: near-duplicated 16-token spans
  *    (`llm_span_neardup`), the duplicated 8-gram coverage per doc
  *    (`llm_dup_span_fraction`) and the duplicated 12-word block
  *    fraction per source (`llm_line_dedup`);
  *  - `llm_dedup_editdist`: Levenshtein-graded pairs inside
  *    8-token-prefix blocks.
  *
  * Scale shapes: every pair row blocks before it compares — LSH band
  * buckets, SimHash band values, (language, token-count bucket),
  * span min-hash keys, prefix hashes — never an unblocked all-pairs
  * product; pairs are generated on bare keys and array payloads are
  * re-attached doc-keyed after pairing. The span measures shuffle
  * once on the span hash and count distinct docs with the dense_rank
  * trick. Determinism: MinHash and SimHash seeds are fixed (no RNG);
  * Jaccards compare the 6-dp rounded value where the oracle does, so
  * membership cannot straddle an ulp.
  */
object NearDup {

  // ---------------------------------------------------------- minhash

  private val NumHashes = 32
  private val BandRows = 4
  private val NumBands = NumHashes / BandRows

  /** doc_id + SORTED distinct hashed 3-word shingles. The token array
    * is materialized ONCE per row before the shingle transform —
    * inlining `split` into the lambda would re-tokenize the text per
    * shingle element, turning an O(tokens) row into O(tokens²). (A
    * hash-the-tokens-first variant was measured SLOWER: the second
    * interpreted HOF pass costs more than the string building saves.)
    * Sorting once per document is the [[graft.functions.SortedJaccard]]
    * contract: the pair-verification hot loop then merge-walks with no
    * per-pair allocation; MinHash minima are order-invariant so the
    * sort is free for the signature path.
    */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        sort_array(expr("""array_distinct(transform(sequence(0, size(w) - 3),
               |  i -> xxhash64(concat_ws(' ',
               |    element_at(w, i + 1),
               |    element_at(w, i + 2),
               |    element_at(w, i + 3)))))""".stripMargin))
          .as("sh"))

  /** 32-lane MinHash signature as ONE array column, computed per row
    * by the codegen kernel [[graft.functions.MinHashSig]] — a single
    * pass over the shingle array with 32 running minima in a long[],
    * replacing 32 interpreted `array_min(transform(...))` walks
    * (bit-identical values: the kernel pre-mixes each lane seed the way
    * `xxhash64(lit(seed), h)` folds it). Per-row, so no shuffle and no
    * aggregation buffers: an explode -> 32 min() aggregate variant
    * benchmarked the same in isolation but 2-4x slower inside a long
    * benchmark run (its hash-aggregate state is the first casualty of
    * executor-memory pressure). Cheaper hash families were measured
    * and REJECTED: one-permutation bucketing (short docs leave empty
    * slots whose shared sentinel manufactures false candidates) and
    * xor+rotate bijections (correlated minima collapse band diversity)
    * — independence is what keeps the band join small. */
  private def signatures(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      graft.functions.MinHashSig(col("sh"), NumHashes).as("sig"))

  /** One xxhash64 per 4-element band of the signature array — longs
    * hashed directly, no string casts. */
  private def bandHashes: Column =
    array((0 until NumBands).map { b =>
      xxhash64((0 until BandRows).map(r =>
        col("sig").getItem(b * BandRows + r)): _*)
    }: _*)

  /** MinHash + LSH banded near-duplicate detection over any relation
    * with (doc_id, text). Candidates come only from band-bucket
    * collisions — an equi-join on (band_idx, band_hash), so the only
    * pairs ever materialized are hash-bucket collisions, never the
    * O(n²) cross product; exact Jaccard >= 0.8 verification on
    * candidates. */
  private[graft] def nearDupPairs(docs: DataFrame): DataFrame = {
    val sets = shingleSets(docs)
    val banded = signatures(sets)
      .select(col("doc_id"), posexplode(bandHashes))
      .toDF("doc_id", "band_idx", "band_hash")
    // shuffle_merge hints: the two sides of the self-join are the
    // SAME subtree, so forcing a shuffle join makes both sides'
    // exchanges canonically identical and ReuseExchange computes the
    // whole shingle->signature->band pipeline ONCE (a broadcast-hash
    // plan would build and stream it as two separate executions —
    // measured ~2x the band-stage cost).
    val cand = banded.as("x").hint("shuffle_merge")
      .join(banded.as("y").hint("shuffle_merge"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Verify joins: the sets side is hint-pinned to SHUFFLE on
    // doc_id in both joins, so the two exchanges are canonically
    // identical and ReuseExchange computes the shingle pipeline ONCE
    // (a broadcast-candidates plan streamed sets through a BHJ with
    // no reusable exchange — the shingles were computed twice). The
    // array-carrying side still never broadcasts: shingle arrays
    // would cap at the broadcast limit at scale.
    val setsHinted = sets.hint("shuffle_merge")
    val withA = setsHinted.join(cand, col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("sh").as("sh_a"))
    setsHinted.join(withA, col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh").as("sh_b"), col("sh_a"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------- simhash

  /** 64-bit SimHash over distinct token hashes: bit j is set when at
    * least half the tokens have bit j set in xxhash64(token).
    * Computed per row by the codegen kernel
    * [[graft.functions.SimHashSig]] — one pass over the hashed-token
    * array with 64 local counters, no explode, no shuffle, no
    * aggregation buffers. (History: an explode → 64-column bit-count
    * hash-aggregate was the round-2 shape — correct and map-side
    * combining, but it shuffles one row per TOKEN and its 65
    * aggregate buffers are the first casualty of executor-memory
    * pressure; a HOF formulation with 64 interpreted filter lambdas
    * was ~10x slower still. The kernel is value-identical to both —
    * asserted per-doc in LlmSpec.) */
  private[graft] def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SimHashSig(
        expr("array_distinct(transform(split(text, ' '), t -> xxhash64(t)))"))
        .as("sim"))
      .filter(col("sim").isNotNull)

  /** SimHash near-dup pairs: 4 x 16-bit band blocking, then exact
    * Hamming distance <= maxHamming on candidates. */
  private[graft] def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsFromSims(simhash(docs), maxHamming)

  /** The verified twin's signatures: 60-bit md5-derived token hashes
    * (engine-shared, the llm_hash_features pattern) through the
    * production SimHashSig majority rule. Factored from the
    * llm_dedup_simhash_verified row so planted-case ScalaTests drive
    * the identical path the oracle checks. */
  private[graft] def simhashMd5Sigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SimHashSig(expr(
        """transform(array_distinct(split(text, ' ')),
          |  t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"""
          .stripMargin)).as("sim"))
      .filter(col("sim").isNotNull)

  /** Band + Hamming stage over any (doc_id, sim) signature relation —
    * shared by the xxhash64 row and its md5-based verified twin so the
    * banding pipeline under oracle check IS the production one.
    *
    * r19 (§8 compute the proxy once): the band self-join plans the
    * signature subtree TWICE (one per side; the broadcast side is not
    * a reused exchange), so the per-token hashing — ~90 md5/xxhash
    * calls per doc — ran twice per row. localCheckpoint materializes
    * the (doc_id, sim) proxy once — N 16-byte rows, exactly the
    * "decide on small rows" shape — and both sides re-band from the
    * cached blocks. Value-identical: checkpointing changes no cell. */
  private[graft] def simhashPairsFromSims(sims0: DataFrame,
      maxHamming: Int): DataFrame = {
    val sims = sims0.localCheckpoint()
    val banded = sims.select(col("doc_id"), col("sim"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (sim >> (b * 16)) & 65535)")))
      .toDF("doc_id", "sim", "band_idx", "band_val")
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.sim ^ y.sim)").as("hamming"))
      // filter BEFORE distinct: hamming is a pure function of the
      // pair, so the dedup shuffle only carries surviving pairs
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ----------------------------------------------------- bigram jaccard

  /** Word-bigram Jaccard near-dup pairs with
    * `round(jaccard, 6) >= minJaccard`, blocked by (language,
    * token-count bucket): a Jaccard-0.5 pair can differ by at most 2x
    * in size, so same-size blocking keeps recall while shrinking
    * blocks ~bucket-count-fold (edits that change token count can
    * straddle a bucket boundary — the documented recall/scale trade;
    * LSH banding is the unblocked-recall path, see llm_dedup_near).
    * THE pair scan of `llm_dedup_ngram` (0.5, plus the presentation
    * orderBy), `llm_dedup_cluster`'s near-dup edges (0.5) and
    * `llm_dedup_threshold_sweep` (0.3, the curve's lowest point). */
  private[graft] def ngramPairs(s: SparkSession, dir: String,
      minJaccard: Double): DataFrame = {
    // g feeds the pair-key scan AND both verify joins — localCheckpoint
    // materializes the tokenize+bigram pipeline once (document-count-
    // sized rows of hashed-bigram arrays) instead of re-executing it
    // per consumer. (r19 A/B-tested dropping this in favor of pruned
    // re-reads of the parquet view: llm_dedup_cluster measured ~1 s
    // SLOWER — the block copy pays for itself across the three
    // consumers.) Pair on bare keys first, then attach the bigram
    // sets (same plan discipline as nearDupPairs: never push array
    // payloads through the pair-generating join).
    val g = LlmOps2.sharedBigramSets(s, dir)
      .withColumn("bucket", floor(col("n_tok").cast("double") / 8.0))
      .localCheckpoint()
    val keys = g.select(col("doc_id"), col("lang"), col("bucket"))
    val pairs = keys.as("a").join(keys.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // Both verify joins SHUFFLE the sets side on doc_id (hint pins
    // it): the two exchanges are canonically identical and
    // ReuseExchange scans the checkpointed blocks ONCE. The array-
    // carrying side still never broadcasts — the right plan at any
    // scale.
    val sets = g.select(col("doc_id"), col("bg")).hint("shuffle_merge")
    val withA = sets.join(pairs, col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("bg").as("bg_a"))
    sets.join(withA, col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.SortedJaccard(col("bg"), col("bg_a")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // ---- llm_dedup_threshold_sweep -----------------------------------
  // Dedup threshold tuning curve: how many candidate pairs and how
  // many distinct documents a bigram-Jaccard filter would flag at
  // each threshold in {0.3 … 0.9}. One blocked pair scan
  // ([[ngramPairs]] at the curve's lowest point) feeds every point of
  // the curve — the membership explode is map-side and bounded by 7
  // thresholds per pair, so the 0.5 point is llm_dedup_ngram's pair
  // set by construction.
  private def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val scored = ngramPairs(s, dir, 0.3)
      // surviving-pair-sized; consumed by both count branches below
      .localCheckpoint()
    val swept = scored
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(expr(
          "filter(array(0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D), t -> jaccard >= t)"))
          .as("threshold"))
    val pairCounts = swept.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = swept
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b")))
        .as("doc_id"))
      .distinct()
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_docs_flagged"))
    pairCounts.join(docCounts, "threshold")
      .orderBy("threshold")
  }

  // ------------------------------------------------------------ spans

  /** Near-duplicated 16-token span pairs across documents — the
    * boilerplate/template-leak detector at sub-document resolution
    * (`llm_dup_span_fraction` finds EXACT duplicated spans).
    *
    * Scale shape: spans explode to one row per 16 tokens (corpus
    * token count / 16 — linear); the block key is ONE MinHash lane
    * (P[same key] = Jaccard for any pair, so a J >= 0.5 pair is
    * recalled with p = J; banding with more lanes raises recall at
    * the standard LSH cost — this row pins the 1-lane tier, and both
    * engines compute the identical deterministic result either way).
    * Pairs generate from a bare-key equi-join on the block key — the
    * bigram-set arrays are re-attached doc-keyed AFTER pairing and
    * the Jaccard verify is the codegen SortedJaccard merge walk, the
    * ngramPairs plan discipline. Never all-pairs.
    *
    * Hashes are 60-bit md5 prefixes (the llm_hash_features pattern),
    * so the DuckDB replica computes the IDENTICAL min-hash keys and
    * Jaccard values — unlike xxhash64, nothing here is
    * engine-specific. */
  private[graft] def spanNearDup(docs: DataFrame): DataFrame = {
    // Non-overlapping 16-token spans; only full chunks (a trailing
    // fragment compares apples-to-oranges against full spans). The
    // 15 in-span bigrams hash through md5 ONCE per span (the token
    // array is materialized before the transform — HOF lambdas are
    // interpreted, so split() must not inline into them).
    val spans = docs
      .select(col("doc_id"), Text.tokens.as("w"))
      .filter(size(col("w")) >= 16)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(w) div 16 - 1), i -> slice(w, i * 16 + 1, 16))")))
      .toDF("doc_id", "span_idx", "sw")
      .select(col("doc_id"), col("span_idx").cast("long").as("span_idx"),
        // The fixed span width lets the 15 bigram hashes unroll into
        // 15 codegen'd expressions (array(...) of plain columns)
        // instead of a transform() lambda — HOF lambdas are
        // INTERPRETED, and 15 interpreted md5+conv evals per span
        // measurably dominate this operator's runtime.
        sort_array(array_distinct(array((0 until 15).map { j =>
          conv(substring(md5(concat_ws(" ",
            element_at(col("sw"), j + 1), element_at(col("sw"), j + 2))),
            1, 15), 16, 10).cast("long")
        }: _*))).as("bg"))
    // Block key = the span's min bigram hash (sorted array head).
    // Unlike document-granularity dedup (ngramPairs, where bigram
    // sets are unbounded and must be re-attached doc-keyed AFTER the
    // pair join), a span's set is FIXED at <= 15 longs (~120 B) — a
    // bounded per-row payload — so the sets ride the band self-join
    // directly: ONE exchange on minh instead of a pair join plus two
    // verify joins, and no checkpoint barrier. The right plan at any
    // scale BECAUSE the span width is a constant.
    // persist (not localCheckpoint): BOTH self-join sides read this
    // subtree and ReuseExchange does not reliably fire under AQE (the
    // Round27Spec finding), so without a materialization the
    // tokenize+md5 span build runs twice (measured 2x wall). persist
    // fills on the join's own broadcast build — no standalone
    // checkpoint job (builder-measured ~0.5 s saved vs checkpoint).
    // Known residual cost, measured and accepted: Catalyst pushes the
    // jaccard filter INTO the join condition ahead of the doc_a <
    // doc_b residual, so the kernel evaluates on both orientations of
    // each candidate pair (~2x the minimum; a monotonically-
    // increasing-id projection barrier does NOT stop the push —
    // deterministic aliases push through it).
    val banded = spans.select(col("doc_id"), col("span_idx"), col("bg"),
        element_at(col("bg"), 1).as("minh"))
      .persist()
    banded.as("a").join(banded.as("b"),
        col("a.minh") === col("b.minh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.span_idx").as("span_a"),
        col("b.doc_id").as("doc_b"), col("b.span_idx").as("span_b"),
        round(graft.functions.SortedJaccard(col("a.bg"), col("b.bg")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "span_a", "doc_b", "span_b")
  }

  /** Per document: the fraction of its `n`-token spans (all
    * positions) whose text also occurs in at least one OTHER document
    * — the Gopher/RefinedWeb duplicated-n-gram coverage measure, as a
    * library op ([[graft.Graft.dupSpanFraction]]). Docs shorter than `n`
    * tokens have no spans and drop out. The distinct-doc count per
    * span hash is the dense_rank trick: rank docs within each hash
    * partition, then take the partition max — two window passes over
    * ONE exchange on h, so the (expensive) span generation runs once
    * and nothing materializes a per-row doc-id set. A collect_set
    * window would hold the set once per span occurrence — O(M²)
    * memory in the hot partition for a span duplicated M times (hot
    * boilerplate spans ARE the interesting case here); a groupBy+join
    * re-generates every span for the probe side. The hot-h cost here
    * is the sort, O(M log M) and spillable. Span text is md5'd before
    * the shuffle, so exchange width is 32 bytes/span, not the raw
    * n-gram. */
  private[graft] def dupSpanFractions(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"dupSpanFractions: span width $n must be >= 2")
    val spans = docs
      .withColumn("t", Text.tokensOf(textCol))
      .filter(size(col("t")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(t) - $n, 1), i -> md5(array_join(slice(t, i + 1, $n), ' ')))"
      )).as("h"))
    val byHashOrdered = Window.partitionBy("h").orderBy(idCol)
    val byHash = Window.partitionBy("h")
    spans
      .withColumn("dr", dense_rank().over(byHashOrdered))
      .withColumn("nd", max(col("dr")).over(byHash))
      .groupBy(col(idCol))
      .agg(
        round(sum(when(col("nd") >= 2, 1).otherwise(0)).cast("double") /
          count(lit(1)).cast("double"), 6).as("dup_frac"),
        count(lit(1)).as("n_spans"))
  }

  // ---- llm_line_dedup ----------------------------------------------
  // Duplicate line-block fraction per source — the Gopher
  // line-granularity complement to the 8-gram span measure: texts
  // chunk into NON-overlapping 12-word blocks (this corpus has no
  // newlines, so fixed-width blocks stand in for lines; overlapping
  // spans are llm_dup_span_fraction's job, prefixes
  // llm_prefix_dedup's); a block is duplicated when its md5 occurs in
  // ≥2 DISTINCT docs. The distinct-doc count per hash is the
  // dense_rank trick over ONE exchange on h — no collect_set (O(M²)
  // on hot boilerplate blocks), no probe-side re-explosion.
  private def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val blocks = load(s, dir, "documents")
      .withColumn("t", Text.tokens)
      .filter(size(col("t")) >= 12)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(t) div 12 - 1, 1)," +
          " i -> md5(array_join(slice(t, i * 12 + 1, 12), ' ')))")).as("h"))
    val byHashOrdered = Window.partitionBy("h").orderBy("doc_id")
    val byHash = Window.partitionBy("h")
    blocks
      .withColumn("dr", dense_rank().over(byHashOrdered))
      .withColumn("nd", max(col("dr")).over(byHash))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"),
        round(sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("dup_frac"))
      .orderBy("source")
  }

  // ---- llm_dedup_editdist ------------------------------------------
  // Levenshtein-graded near-duplicates on prefix-blocked candidates —
  // the GRADED verify tier the hash family lacks: `llm_prefix_dedup`
  // says "same 8-token intro" but not how far the bodies have
  // drifted; MinHash Jaccard grades shingle overlap but is blind to
  // small in-place edits. Edit distance is the metric ACTUALLY meant
  // by "lightly edited copy", and both engines ship the same
  // unit-cost builtin. Candidates = pairs sharing the 8-token
  // [[Keys.prefixHash]] (THE `llm_prefix_dedup` key); distance =
  // levenshtein on the first 512 chars (the cap bounds the O(len²)
  // DP per pair); similarity = 1 − lev/max(len) on the capped
  // strings.
  //
  // Scale shape: blocking is a hash equi-join on the prefix key —
  // never all-pairs. Hot boilerplate blocks are the quadratic hazard
  // (a template intro shared by 1e6 docs is 5e11 pairs), so each
  // block keeps only its `BlockCap` smallest doc_ids (deterministic
  // row_number cap, mirrored in the oracle — the SliceCap discipline;
  // at the current corpus no block nears the cap, so results are
  // unchanged and tri-SF-asserted). The per-pair DP cost is bounded
  // by the 512-char cap: ≤ 0.26 MB of DP cells per pair, pure map
  // work after the self-join. Determinism: levenshtein is
  // exact-integer in both engines (unit costs, the classic DP);
  // lengths are exact INTs; the one double is the similarity ratio,
  // assembled once from identical formula text.
  private val BlockCap = 32
  private val CharCap = 512

  private[graft] def dedupEditdistOn(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ph")).orderBy(col("doc_id"))
    val cands = docs
      .select(col("doc_id"), Text.tokens.as("t"),
        substring(col("text"), 1, CharCap).as("head"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("head"),
        Keys.prefixHash(col("t"), 8).as("ph"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= BlockCap)
      .select(col("doc_id"), col("head"), col("ph"))
      .localCheckpoint() // both self-join sides read one build
    cands.select(col("ph"), col("doc_id").as("doc_a"),
        col("head").as("head_a"))
      .join(cands.select(col("ph"), col("doc_id").as("doc_b"),
        col("head").as("head_b")), "ph")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("head_a"), col("head_b")).as("lev"),
        length(col("head_a")).as("len_a"), length(col("head_b")).as("len_b"))
      .selectExpr("doc_a", "doc_b", "lev", "len_a", "len_b",
        """floor((1.0 - CAST(lev AS DOUBLE)
          | / nullif(greatest(len_a, len_b), 0))*1e6 + 0.5)/1e6
          | AS head_similarity""".stripMargin)
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle CTEs for the exact MinHash ground truth: raw 3-word
    * shingle sets `s`, their sizes `n` and every co-shingled pair's
    * shared count `inter` (llm_dedup_near_verified and
    * llm_dedup_minhash_cluster). */
  private[dedup] val shingleOverlapCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
      |      FROM w WHERE len(w) >= 3),
      |s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      |      FROM g),
      |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Oracle twin of [[ngramPairs]]' blocking input: raw word-bigram
    * sets `g(doc_id, lang, bucket, bg)` (llm_dedup_ngram,
    * llm_dedup_threshold_sweep, llm_dedup_cluster). */
  private[dedup] val bigramBlockCtes =
    """t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, lang, floor(CAST(len(w) AS DOUBLE) / 8.0) AS bucket,
      |    list_distinct(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i + 1])) AS bg
      |  FROM t WHERE len(w) >= 2)""".stripMargin

  // ---------------------------------------------------- registration

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // No oracle (algorithmic, SURVEY §1.5 r4) — the ScalaTest property
    // suite plants near-duplicates and asserts recall.
    "llm_dedup_near" -> ((s: SparkSession, dir: String) =>
      nearDupPairs(load(s, dir, "documents"))),
    // Oracle-checked twin of llm_dedup_near (SURVEY §2 round-17 row):
    // the IDENTICAL LSH plan, hash-compared against DuckDB's exact
    // all-pairs shingle Jaccard. MinHash is deterministic, so on the
    // fixed corpus the result either equals the exhaustive answer or
    // it doesn't — the compare graduates the banding's recall from a
    // ScalaTest planted-pair claim into the driver's per-round
    // signal (verified cell-exact at sf0.01: 25/25 pairs, recall 1.0).
    "llm_dedup_near_verified" -> ((s: SparkSession, dir: String) =>
      nearDupPairs(load(s, dir, "documents"))),

    // SimHash banding + Hamming <= 3 (signature-space near-dup).
    // No oracle (algorithmic); planted-pair recall in LlmSpec.
    "llm_dedup_simhash" -> ((s: SparkSession, dir: String) =>
      simhashPairs(load(s, dir, "documents"), maxHamming = 3)),

    // Oracle-checked twin of llm_dedup_simhash (VERDICT r9 item 6):
    // the row above is ✗ only because its token hashes are xxhash64,
    // which DuckDB cannot compute. This twin derives 60-bit token
    // hashes from md5 — shared by both engines (the llm_hash_features
    // pattern: Spark conv(hex, 16, 10), DuckDB CAST('0x'||hex AS
    // BIGINT)) — and runs the IDENTICAL production pipeline:
    // SimHashSig's majority rule (bit j set iff 2·count ≥ n over the
    // doc's DISTINCT tokens; bits 60-63 constant 0), then the shared
    // simhashPairsFromSims 4×16-bit band join + bit_count(sim⊕sim)
    // ≤ 3 verify. DuckDB replicates the signature with an unnested
    // bit grid + bit_or of (1 << j), and xor + bit_count for the
    // Hamming stage — the whole SimHash dedup tier is now in the
    // driver's hard signal, not just planted-pair ScalaTest recall.
    // Tokens are deduped BEFORE hashing on both sides so a 60-bit
    // prefix collision between distinct tokens cannot skew n.
    "llm_dedup_simhash_verified" -> ((s: SparkSession, dir: String) =>
      simhashPairsFromSims(simhashMd5Sigs(load(s, dir, "documents")),
        maxHamming = 3)),

    // Word-bigram Jaccard >= 0.5 ([[ngramPairs]]).
    "llm_dedup_ngram" -> ((s: SparkSession, dir: String) =>
      ngramPairs(s, dir, 0.5).orderBy("doc_a", "doc_b")),
    "llm_dedup_threshold_sweep" -> (dedupThresholdSweep _),

    "llm_span_neardup" -> ((s: SparkSession, dir: String) =>
      spanNearDup(load(s, dir, "documents"))),
    "llm_dup_span_fraction" -> ((s: SparkSession, dir: String) =>
      dupSpanFractions(load(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy(desc("dup_frac"), asc("doc_id"))
        .limit(20)),
    "llm_line_dedup" -> (lineDedup _),
    "llm_dedup_editdist" -> ((s: SparkSession, dir: String) =>
      dedupEditdistOn(load(s, dir, "documents")))
  )

  val oracle: Map[String, String] = Map(
    // Exhaustive all-pairs ground truth for the LSH pipeline: raw
    // string 3-gram shingle sets (the engine hashes shingles to
    // longs — identical SET CARDINALITIES barring a 64-bit collision,
    // so the Jaccard doubles are bit-identical), intersections via
    // the shared-shingle equi-join (only co-shingled pairs surface;
    // disjoint pairs can't reach 0.8 anyway). Threshold compares the
    // UNROUNDED double on both sides; round(6) is presentation.
    "llm_dedup_near_verified" ->
      s"""WITH $shingleOverlapCtes,
        |j AS (
        |  SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jacc
        |  FROM inter JOIN n na ON na.doc_id = doc_a
        |             JOIN n nb ON nb.doc_id = doc_b)
        |SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM j
        |WHERE jacc >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,

    // Full replica of the md5-based SimHash pipeline: 60-bit token
    // hashes -> per-bit majority grid -> bit_or-packed signature ->
    // 4x16 band self-join -> xor/bit_count Hamming verify.
    "llm_dedup_simhash_verified" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
        |n AS (SELECT doc_id, count(*) AS n FROM h GROUP BY 1),
        |g AS (
        |  SELECT h.doc_id, b.j,
        |    sum(CASE WHEN (hv >> b.j) & 1 = 1 THEN 1 ELSE 0 END) AS c
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j) b
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT g.doc_id,
        |    bit_or(CASE WHEN 2 * c >= n.n THEN (CAST(1 AS BIGINT) << g.j)
        |           ELSE CAST(0 AS BIGINT) END) AS sim
        |  FROM g JOIN n ON g.doc_id = n.doc_id
        |  GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, sim, b.j AS band_idx,
        |    (sim >> (b.j * 16)) & 65535 AS band_val
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS j) b)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(x.sim, y.sim)) AS INT) AS hamming
        |FROM banded x JOIN banded y
        |  ON x.band_idx = y.band_idx AND x.band_val = y.band_val
        |    AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sim, y.sim)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_ngram" ->
      s"""WITH $bigramBlockCtes,
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.bg, b.bg))) AS DOUBLE) AS jaccard
        |  FROM g a JOIN g b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
        |FROM p WHERE round(jaccard, 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_threshold_sweep" ->
      s"""WITH $bigramBlockCtes,
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.bg, b.bg))) AS DOUBLE), 6)
        |      AS j
        |  FROM g a JOIN g b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id),
        |sw AS (
        |  SELECT doc_a, doc_b, j, t.threshold
        |  -- CAST: bare list literals are DECIMAL(2,1) in DuckDB, and a
        |  -- decimal threshold column would dtype-mismatch Spark's double
        |  FROM p, (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |    AS DOUBLE) AS threshold) t
        |  WHERE j >= t.threshold),
        |pc AS (
        |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM sw GROUP BY 1),
        |dc AS (
        |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs_flagged
        |  FROM (SELECT DISTINCT threshold, doc_id
        |        FROM (SELECT threshold, doc_a AS doc_id FROM sw
        |              UNION ALL
        |              SELECT threshold, doc_b FROM sw))
        |  GROUP BY 1)
        |SELECT pc.threshold, pc.n_pairs, dc.n_docs_flagged
        |FROM pc JOIN dc ON pc.threshold = dc.threshold
        |ORDER BY pc.threshold""".stripMargin,

    // Identical pipeline: 16-token chunks -> 60-bit md5 bigram hash
    // sets -> min-hash block key -> cross-doc in-block pairs -> exact
    // Jaccard on the SAME hash values.
    "llm_span_neardup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(u.i AS BIGINT) AS span_idx,
        |    w[u.i * 16 + 1 : u.i * 16 + 16] AS sw
        |  FROM t, UNNEST(range(0, len(w) // 16)) AS u(i)
        |  WHERE len(w) >= 16),
        |g AS (SELECT doc_id, span_idx,
        |    list_sort(list_distinct(list_transform(range(1, 16),
        |      j -> CAST(concat('0x',
        |        substr(md5(sw[j] || ' ' || sw[j + 1]), 1, 15)) AS BIGINT))))
        |      AS bg
        |  FROM c),
        |k AS (SELECT doc_id, span_idx, bg, bg[1] AS minh FROM g),
        |p AS (SELECT a.doc_id AS doc_a, a.span_idx AS span_a,
        |    b.doc_id AS doc_b, b.span_idx AS span_b,
        |    CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.bg, b.bg))) AS DOUBLE) AS j
        |  FROM k a JOIN k b ON a.minh = b.minh AND a.doc_id < b.doc_id)
        |SELECT doc_a, span_a, doc_b, span_b, round(j, 6) AS jaccard
        |FROM p WHERE round(j, 6) >= 0.5
        |ORDER BY doc_a, span_a, doc_b, span_b""".stripMargin,

    "llm_dup_span_fraction" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |spans AS (SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |sd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h)
        |SELECT doc_id,
        |  round(CAST(count(*) FILTER (WHERE nd >= 2) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS dup_frac,
        |  count(*) AS n_spans
        |FROM spans JOIN sd USING (h)
        |GROUP BY doc_id
        |ORDER BY dup_frac DESC, doc_id LIMIT 20""".stripMargin,

    "llm_line_dedup" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_slice(w, i * 12 + 1, i * 12 + 12), ' '))
        |      AS h
        |  FROM (
        |    SELECT doc_id, source, w, unnest(range(0, len(w) // 12)) AS i
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS w
        |          FROM documents)
        |    WHERE len(w) >= 12)),
        |nd AS (
        |  SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        |  FROM b GROUP BY h)
        |SELECT b.source, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS dup_frac
        |FROM b JOIN nd ON b.h = nd.h
        |GROUP BY b.source ORDER BY b.source""".stripMargin,

    "llm_dedup_editdist" ->
      s"""WITH c0 AS (
         |  SELECT doc_id,
         |    substring(text, 1, $CharCap) AS head,
         |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 8),
         |      ' ')) AS ph
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= 8),
         |cands AS (
         |  SELECT doc_id, head, ph FROM (
         |    SELECT *, row_number() OVER (PARTITION BY ph ORDER BY doc_id)
         |      AS rn
         |    FROM c0)
         |  WHERE rn <= $BlockCap),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(levenshtein(a.head, b.head) AS INT) AS lev,
         |    CAST(length(a.head) AS INT) AS len_a,
         |    CAST(length(b.head) AS INT) AS len_b
         |  FROM cands a JOIN cands b
         |    ON a.ph = b.ph AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, lev, len_a, len_b,
         |  floor((1.0 - CAST(lev AS DOUBLE)
         |   / nullif(greatest(len_a, len_b), 0))*1e6 + 0.5)/1e6
         |   AS head_similarity
         |FROM pairs ORDER BY doc_a, doc_b""".stripMargin
  )
}
