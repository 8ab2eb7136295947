package graft.ops.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DiskMemo
import graft.ops.corpus.{Sampling, Text}
import graft.util.Tables._

/** 3-token shingles and the audits built on them (SURVEY.md §2.23,
  * §2.47, §2.83):
  *
  *  - the shared relations: [[grams]] (distinct (doc_id, shingle)),
  *    [[sharedGrams]] and the inverted index [[sharedPostings]], both
  *    DiskMemo parquet views;
  *  - `llm_minhash_containment`: asymmetric shingle CONTAINMENT —
  *    catches a doc swallowed whole by a larger one, which symmetric
  *    Jaccard under-scores;
  *  - `llm_lsh_bucket_audit`: per-band bucket sizes of a banded
  *    signature scheme — whether the LSH self-join is runnable at
  *    scale (candidate pairs are its output size, a hot bucket its
  *    skew);
  *  - `llm_shingle_df_spectrum`: the document-frequency spectrum of
  *    shingles — the tuning signal behind containment's rare-shingle
  *    (df ≤ 20) candidate pushdown;
  *  - `llm_minhash_calibration`: how well the MinHash lane match count
  *    predicts exact Jaccard on this corpus.
  *
  * Scale shapes: candidates come from rare-shingle or band-key
  * equi-joins, the audits are chains of map-side-combining
  * aggregates, and the calibration runs on a deterministic
  * md5-threshold sample — never all-pairs over documents.
  * Determinism: shingles and md5 hex strings order identically in
  * both engines, so every count is exact; the only doubles are
  * ratios of exact BIGINTs, 6-dp rounded.
  */
object Shingles {

  /** Distinct (doc_id, 3-token shingle) — raw shingle text. Pure seam
    * (planted tests pass their own docs). Corpus-facing consumers go
    * through [[sharedGrams]]. */
  private[graft] def grams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 3, 1), " +
          "i -> array_join(slice(t, i + 1, 3), ' '))")).as("h"))
      .distinct()

  /** Corpus-facing distinct trigram relation as a [[DiskMemo]] parquet
    * materialized view (r18, the coPurchaseHalfEdges discipline):
    * FOUR rows consume this one relation — `llm_minhash_containment`,
    * `llm_lsh_bucket_audit`, `llm_shingle_df_spectrum`,
    * `llm_source_novelty` — and until r17 each re-ran the tokenize +
    * shingle-explode + DISTINCT pipeline per invocation. Content is an
    * exact string SET (deterministic; row order irrelevant to every
    * consumer — all aggregate). The build is timed as its own bench
    * row (`memo_grams3`). */
  private[graft] def sharedGrams(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "grams3")(grams(load(s, dir, "documents")))

  /** Corpus-facing inverted index — shingle → SORTED distinct doc_id
    * array over [[sharedGrams]] — as a [[DiskMemo]] parquet view
    * (r19, VERDICT r18 item 6): `llm_minhash_containment` rebuilt and
    * checkpointed this h-keyed collect_set per invocation, and
    * `llm_shingle_df_spectrum` (df = size(ds)) and
    * `llm_source_novelty` (owner = ds[1], the min doc of the sorted
    * set) each re-ran their own h-keyed aggregate over the same gram
    * relation. Content is deterministic — array_sort pins the
    * collect_set order, ids are exact BIGINTs — and every consumer
    * aggregates, so row order is irrelevant. Build timed as bench row
    * `memo_shingle_postings` (reads the grams3 view, like every other
    * layered memo). */
  private[graft] def sharedPostings(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "shingle_postings")(
      sharedGrams(s, dir).groupBy(col("h"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ds")))

  /** Oracle twin of [[grams]]: the CTE `grams(doc_id, h)` every
    * shingle oracle starts from. */
  private[graft] val gramsCte =
    """grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))
      |      AS h
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3)""".stripMargin

  // ---- llm_minhash_containment -------------------------------------
  // Asymmetric containment |A∩B| / |A| (A the smaller shingle set)
  // over 3-token shingles, surfaced for pairs ≥ 0.5. Candidate
  // pairs require a shared shingle with document frequency ≤ 20 —
  // the rare-shingle blocking that keeps the per-key fan-out
  // bounded; |A∩B| then counts ALL shared shingles of a surfaced
  // pair via a second equi-join restricted to the candidate ids.
  //
  // Plan shape: shingles stay RAW STRINGS (the key never crosses an
  // engine or a row boundary, so hashing buys nothing and md5 costs a
  // digest per trigram); the one `.distinct()` exchange under `grams`
  // is the materialization point both aggregates reuse. The pair
  // explosion over rare-shingle doc sets (the coPurchaseEdges
  // discipline — df ≤ 20 bounds the fan-out at ≤190 pairs/shingle)
  // does double duty: each candidate pair appears ONCE PER SHARED
  // RARE SHINGLE, so groupBy(pair).count IS the rare part of |A∩B| —
  // no corpus-wide recount join. Hot shingles (df > 20, excluded from
  // candidate generation) still owe their |A∩B| contribution; that
  // correction joins the candidate pairs against only the HOT slice
  // of the inverted index. Sides flip with scale — here the hot slice
  // is tiny and the pair table big; on a boilerplate-heavy 100 TB
  // corpus the surviving pairs are the small side — so the join is
  // left unhinted for AQE to pick the build side from runtime stats.
  private def containment(s: SparkSession, dir: String): DataFrame = {
    // r18: the gram relation is the shared DiskMemo parquet view
    // (built once per JVM, timed as memo_grams3).
    val grams = sharedGrams(s, dir)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // r19 (VERDICT r18 item 6): the inverted index is the shared
    // DiskMemo parquet view (built once per JVM, timed as
    // memo_shingle_postings) instead of a per-invocation collect_set
    // + checkpoint; its arrays arrive SORTED, so the two array_sort
    // calls in the pair transform go too. The hot slice is a narrow
    // filter+explode over the view — each consumer re-reads the
    // column-pruned parquet instead of paying a checkpoint job.
    val byShingle = sharedPostings(s, dir)
    val rarePairs = byShingle.filter(size(col("ds")).between(2, 20))
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), " +
          "b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_rare"))
    // consumed by stats and BOTH sides of the hot-correction join
    val hotG = byShingle.filter(size(col("ds")) > 20)
      .select(col("h"), explode(col("ds")).as("doc_id"))
    // Threshold pushdown: n_shared ≤ n_rare + min(hot_a, hot_b), so a
    // pair that cannot reach 0.5·min(|A|,|B|) even with every hot
    // shingle shared is dropped BEFORE the hot-correction join — the
    // expensive leg only sees near-threshold pairs. The bound uses a
    // per-doc (size, hot-count) table whose broadcast hint is SIZE-
    // GATED (graft.util.Hints): stats is doc-keyed, so on a
    // corpus-scale run the two joins must fall back to doc-keyed
    // shuffles rather than hard-fail at the broadcast limit. The gate
    // bound is the documents row count (stats rows ≤ |docs|) — a
    // column-less parquet count, chosen over checkpoint-and-count of
    // stats itself, which serializes the two build-side jobs that
    // otherwise prepare concurrently (measured +0.7 s at sf0.1). The
    // exact ≥ 0.5 filter still runs at the end, so semantics are
    // unchanged.
    val statsHint = graft.util.Hints.maybeBroadcast(
      load(s, dir, "documents").count())
    val stats = sizes
      .join(hotG.groupBy(col("doc_id")).agg(count(lit(1)).as("hc")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"), coalesce(col("hc"), lit(0L)).as("hc"))
    val pruned = rarePairs
      .join(statsHint(stats.select(col("doc_id").as("doc_a"),
        col("sz").as("sa"), col("hc").as("hca"))), "doc_a")
      .join(statsHint(stats.select(col("doc_id").as("doc_b"),
        col("sz").as("sb"), col("hc").as("hcb"))), "doc_b")
      .filter((col("n_rare") + least(col("hca"), col("hcb"))).cast("double") >=
        lit(0.5) * least(col("sa"), col("sb")).cast("double"))
      // near-threshold pairs only (small); feeds the hot join AND the
      // final assembly
      .localCheckpoint()
    val hot = pruned.select(col("doc_a"), col("doc_b"))
      .join(hotG.as("ha"), col("doc_a") === col("ha.doc_id"))
      .join(hotG.as("hb"),
        col("doc_b") === col("hb.doc_id") && col("ha.h") === col("hb.h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_hot"))
    pruned.join(hot, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        (col("n_rare") + coalesce(col("n_hot"), lit(0L))).as("n_shared"),
        col("sa"), col("sb"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("sa"), col("sb")).cast("double"), 6).as("containment"))
      .filter(col("containment") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  private val containmentOracle =
    """WITH g AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(
      |      list_slice(t, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS h
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |        WHERE len(t) >= 3)),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
      |rare AS (
      |  SELECT doc_id, h FROM (
      |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM g)
      |  WHERE df <= 20),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id),
      |shared AS (
      |  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
      |  FROM cand
      |  JOIN g ga ON ga.doc_id = doc_a
      |  JOIN g gb ON gb.doc_id = doc_b AND ga.h = gb.h
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b, n_shared,
      |  round(CAST(n_shared AS DOUBLE) /
      |    CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
      |FROM shared
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE CAST(n_shared AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- llm_lsh_bucket_audit ----------------------------------------
  // Per band: bucket count, largest bucket, candidate pairs
  // Σc(c−1)/2, and the largest bucket's share of those pairs — one
  // boilerplate bucket of 10⁶ docs is 5·10¹¹ pairs on one key. The
  // signature is the md5-matrix DETERMINISTIC twin (8 per-seed
  // min-hashes over 3-token shingles, 4 bands of 2) — the
  // `llm_dedup_near_verified` twin discipline: the production
  // xxhash64 path stays ✗-class, the audit's every stage is
  // re-derived by the oracle. ONE doc-keyed 8-min aggregate →
  // 4 band keys stacked → (band, key) counts → a 4-row final.
  private val LshSeeds = 8
  private val LshBands = 4 // bands of 2 rows

  private val lshFinal: Seq[String] = Seq(
    "band", "nb AS n_buckets", "mx AS max_bucket",
    "cp AS candidate_pairs",
    "floor((CAST(mx*(mx - 1) div 2 AS DOUBLE)" +
      " / nullif(CAST(cp AS DOUBLE), 0))*1e6 + 0.5)/1e6 AS hot_share")

  private[graft] def lshBucketAuditOn(docs: DataFrame): DataFrame =
    lshBucketAuditOnGrams(grams(docs))

  private[graft] def lshBucketAuditOnGrams(g: DataFrame): DataFrame = {
    val mins = (0 until LshSeeds).map(s0 =>
      min(md5(concat(lit(s"$s0|"), col("h")))).as(s"m$s0"))
    val sig = g.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
    val bandCols = (0 until LshBands).map(b =>
      md5(concat(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))).as(s"b$b"))
    val stackArgs = (0 until LshBands)
      .map(b => s"CAST($b AS BIGINT), b$b").mkString(", ")
    sig.select(bandCols: _*)
      .selectExpr(s"stack($LshBands, $stackArgs) AS (band, bk)")
      .groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("nb"), max(col("c")).as("mx"),
        sum(expr("c*(c - 1) div 2")).as("cp"))
      .selectExpr(lshFinal: _*)
      .orderBy("band")
  }

  private val lshBucketAuditOracle = {
    val mins = (0 until LshSeeds)
      .map(s0 => s"min(md5(concat('$s0|', h))) AS m$s0").mkString(",\n    ")
    val bands = (0 until LshBands)
      .map(b => s"md5(concat(m${2 * b}, m${2 * b + 1})) AS b$b")
      .mkString(", ")
    val stack = (0 until LshBands)
      .map(b => s"SELECT CAST($b AS BIGINT) AS band, b$b AS bk FROM bandkeys")
      .mkString("\n  UNION ALL ")
    s"""WITH $gramsCte,
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM grams GROUP BY doc_id),
       |bandkeys AS (SELECT doc_id, $bands FROM sig),
       |sb AS (
       |  $stack),
       |bc AS (SELECT band, bk, CAST(count(*) AS BIGINT) AS c
       |  FROM sb GROUP BY 1, 2),
       |g AS (
       |  SELECT band, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(max(c) AS BIGINT) AS mx,
       |    CAST(sum(c*(c - 1)//2) AS BIGINT) AS cp
       |  FROM bc GROUP BY band)
       |SELECT ${lshFinal.map(_.replace(" div ", "//")).mkString(",\n  ")}
       |FROM g ORDER BY band""".stripMargin
  }

  // ---- llm_shingle_df_spectrum -------------------------------------
  // df = 1 / 2 / 3-4 / 5-8 / 9-16 / 17+: the unique/rare mass is the
  // index that generates containment candidates, the hot tail the
  // slice its correction join handles. Power-of-two df bands with
  // string labels that sort in band order — the relation stays ≤6
  // rows whatever the corpus.
  private val dfBucket =
    """CASE WHEN df = 1 THEN '01_unique' WHEN df = 2 THEN '02_df2'
      |  WHEN df <= 4 THEN '03_df3_4' WHEN df <= 8 THEN '04_df5_8'
      |  WHEN df <= 16 THEN '05_df9_16' ELSE '06_df17plus' END""".stripMargin
  private val dfFinal: Seq[String] = Seq(
    "bucket", "ns AS n_shingles", "np AS n_postings",
    "floor((CAST(ns AS DOUBLE) / total)*1e6 + 0.5)/1e6 AS vocab_share")

  private[graft] def shingleDfSpectrumOn(docs: DataFrame): DataFrame =
    shingleDfSpectrumFromDfRel(
      grams(docs).groupBy(col("h")).agg(count(lit(1)).as("df")))

  /** Spectrum tail over a prebuilt (h, df) relation: the corpus path
    * projects df = size(ds) off the shared postings view (r19), so
    * the h-keyed count exchange disappears from this row entirely —
    * df values are identical (ds is the distinct doc set per h). */
  private def shingleDfSpectrumFromDfRel(dfRel: DataFrame): DataFrame = {
    val tot = broadcast(dfRel.agg(count(lit(1)).as("total")))
    dfRel.selectExpr(s"$dfBucket AS bucket", "df")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("ns"), sum(col("df")).as("np"))
      .crossJoin(tot)
      .selectExpr(dfFinal: _*)
      .orderBy("bucket")
  }

  private val shingleDfSpectrumOracle =
    s"""WITH $gramsCte,
       |dfr AS (SELECT h, CAST(count(*) AS BIGINT) AS df
       |  FROM grams GROUP BY h),
       |b AS (SELECT $dfBucket AS bucket, df FROM dfr),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM dfr),
       |g AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS ns,
       |    CAST(sum(df) AS BIGINT) AS np
       |  FROM b GROUP BY bucket)
       |SELECT ${dfFinal.mkString(",\n  ")}
       |FROM g CROSS JOIN t ORDER BY bucket""".stripMargin

  // ---- llm_minhash_calibration -------------------------------------
  // Estimator-calibration audit: how well does the k-lane MinHash
  // match count predict exact Jaccard on THIS corpus? Pairs come from
  // two deterministic strata — a background block sample ((lang,
  // 64-char length band) pairs within a 25% md5-threshold document
  // sample: the J≈0 mass that measures false-positive behavior) and
  // the 2-lane-band LSH candidates over the same signatures (the
  // high-J mass that measures recall-side fidelity). Surfaced as the
  // (lane_matches, exact-J decile) contingency table — every cell an
  // exact integer, both J-decile (10·|∩| integer-div |∪|) and the
  // match count engine-agnostic because the 8 lanes are 16-bit slices
  // of ONE md5 per shingle (the llm_dedup_simhash_verified recipe:
  // md5-derived bits → the identical pipeline replicates in DuckDB).
  //
  // Scale: the 25% md5-threshold sample bounds the CONSTANT FACTOR,
  // not the asymptotic pair count (ADVICE r11) — a fractional sample
  // grows linearly with the corpus, and the background stratum is
  // all-pairs within (lang, 64-char band) blocks whose sizes grow
  // with SF, so background pairs grow roughly quadratically in block
  // occupancy. The fixed tri-SF corpus keeps that inside budget here;
  // sweeping materially larger SFs requires an SF-aware sample
  // threshold (target a fixed absolute sample size) or a per-block
  // pair cap. Within the sample, background pairs block on (lang,
  // band) and candidates on band keys — never corpus-wide all-pairs.
  // Intersections come from the shared-shingle inverted-index join,
  // linear in posting-list sizes.
  private val CalLanes = 8

  private[graft] def minhashCalibration(docs: DataFrame): DataFrame = {
    // 25% deterministic sample; checkpointed because both the shingle
    // pipeline and the block table read it (and the sample predicate
    // md5s every doc_id — once, not per consumer).
    val d = docs.filter(Sampling.hashKeep(col("doc_id"), "3f"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .localCheckpoint()
    // Per-doc DISTINCT 3-word shingles, one md5 each (the token array
    // materializes before the HOF lambda — interpreted lambdas must
    // not re-split per element).
    // r19: checkpointed — it feeds the lanes aggregate AND both sides
    // of the intersection self-join below (a BroadcastHashJoin, so no
    // ReuseExchange: the explode + per-shingle md5 ran three times).
    val sh0 = d.select(col("doc_id"), Text.tokens.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(0, size(w) - 3),
          |  i -> concat_ws(' ',
          |    element_at(w, i + 1),
          |    element_at(w, i + 2),
          |    element_at(w, i + 3))))""".stripMargin)).as("shs"))
      .select(col("doc_id"), md5(col("shs")).as("h"))
    val sh = sh0.localCheckpoint()
    // 8 MinHash lanes = per-lane min of the 16-bit md5 slices, plus
    // the exact shingle cardinality — ONE map-side-combining
    // aggregate. Checkpointed: lanes feed the band join, the match
    // scoring (twice), and the decile denominators.
    val laneCols = (0 until CalLanes).map(i =>
      min(expr(s"CAST(conv(substring(h, ${4 * i + 1}, 4), 16, 10) AS BIGINT)"))
        .as(s"m$i"))
    val lanes = sh.groupBy(col("doc_id"))
      .agg(laneCols.head, laneCols.tail :+ count(lit(1)).as("n"): _*)
      .localCheckpoint()
    // Background stratum: all pairs within (lang, 64-char band).
    val blk = d.select(col("doc_id"), col("lang"),
      expr("n_chars DIV 64").as("band"))
    val bg = blk.as("x")
      .join(blk.as("y"),
        col("x.lang") === col("y.lang") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // Candidate stratum: 2-lane bands (4 bands), P[collide] ≈ J² per
    // band — the production LSH shape on the calibration signatures.
    val bandKeys = array((0 until CalLanes / 2).map(b =>
      col(s"m${2 * b}") * lit(65536L) + col(s"m${2 * b + 1}")): _*)
    val banded = lanes.select(col("doc_id"), posexplode(bandKeys))
      .toDF("doc_id", "bi", "bk")
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.bi") === col("y.bi") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val pairs = bg.union(cand).distinct()
    // Exact intersections via the shared-shingle inverted-index join
    // over the sampled corpus (zero-overlap pairs keep c=0 through
    // the left join — they are the calibration's negative class).
    val inter = sh.as("x")
      .join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    val matchExpr = (0 until CalLanes).map(i =>
      when(col(s"la.m$i") === col(s"lb.m$i"), lit(1)).otherwise(lit(0)))
      .reduce(_ + _)
    pairs
      .join(lanes.as("la"), col("doc_a") === col("la.doc_id"))
      .join(lanes.as("lb"), col("doc_b") === col("lb.doc_id"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select(matchExpr.cast("long").as("matches"),
        expr("(10 * coalesce(c, 0)) DIV (la.n + lb.n - coalesce(c, 0))")
          .as("j_decile"))
      .groupBy(col("matches"), col("j_decile"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("matches", "j_decile")
  }

  private def minhashCalibrationOracle: String = {
    val laneMins = (0 until CalLanes).map(i =>
      s"min(CAST(concat('0x', substr(h, ${4 * i + 1}, 4)) AS BIGINT)) AS m$i")
      .mkString(",\n  ")
    val bandRows = (0 until CalLanes / 2).map(b =>
      s"SELECT doc_id, $b AS bi, m${2 * b}*65536 + m${2 * b + 1} AS bk FROM lanes")
      .mkString(" UNION ALL\n  ")
    val matchSum = (0 until CalLanes).map(i =>
      s"CASE WHEN la.m$i = lb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars, text FROM documents
       |  WHERE substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 2) <= '3f'),
       |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
       |g AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
       |      FROM w WHERE len(w) >= 3),
       |s AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
       |  FROM g),
       |lanes AS MATERIALIZED (SELECT doc_id,
       |  $laneMins,
       |  count(*) AS n FROM s GROUP BY doc_id),
       |blk AS (SELECT doc_id, lang, n_chars // 64 AS band FROM d),
       |bg AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |       FROM blk a JOIN blk b ON a.lang = b.lang AND a.band = b.band
       |         AND a.doc_id < b.doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b ON a.bi = b.bi AND a.bk = b.bk
       |           AND a.doc_id < b.doc_id),
       |p AS (SELECT doc_a, doc_b FROM bg UNION SELECT doc_a, doc_b FROM cand),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |          FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |scored AS (SELECT
       |  CAST($matchSum AS BIGINT) AS matches,
       |  (10 * coalesce(i.c, 0)) // (la.n + lb.n - coalesce(i.c, 0)) AS j_decile
       |  FROM p JOIN lanes la ON la.doc_id = p.doc_a
       |         JOIN lanes lb ON lb.doc_id = p.doc_b
       |         LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b)
       |SELECT matches, j_decile, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_minhash_containment" -> (containment _),
    "llm_lsh_bucket_audit" -> ((s: SparkSession, dir: String) =>
      lshBucketAuditOnGrams(sharedGrams(s, dir))),
    "llm_shingle_df_spectrum" -> ((s: SparkSession, dir: String) =>
      shingleDfSpectrumFromDfRel(sharedPostings(s, dir)
        .select(col("h"), size(col("ds")).cast("bigint").as("df")))),
    "llm_minhash_calibration" -> ((s: SparkSession, dir: String) =>
      minhashCalibration(load(s, dir, "documents")))
  )

  val oracle: Map[String, String] = Map(
    "llm_minhash_containment" -> containmentOracle,
    "llm_lsh_bucket_audit" -> lshBucketAuditOracle,
    "llm_shingle_df_spectrum" -> shingleDfSpectrumOracle,
    "llm_minhash_calibration" -> minhashCalibrationOracle
  )
}
