package graft.ops.corpus

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.util.Tables._

/** Sampling, sharding and mixing: the seeded stratified sample and its
  * hash-threshold twin, md5-prefix sampling ([[hashKeep]]) and shard
  * assignment, Bloom-prefiltered incremental ingest ([[seenFilter]]),
  * DSIR importance scores, and the mixing rules — min-count capping,
  * quality-weighted water-filling, temperature sampling and
  * round-robin interleaving.
  *
  * Reproducibility: every keep-set except `llm_sample_stratified`'s
  * engine-native `sampleBy` is a pure row property (an md5 prefix
  * compared as fixed-width lowercase hex, so string order is numeric
  * order) or an exact-integer allocation, so any engine, partitioning
  * or rerun selects the same documents; selections surface with a
  * kept-id checksum, which proves the SELECTION and not just the count.
  *
  * Scale shapes: one map-side-combining aggregate per row, plus
  * per-source or per-language ranking windows; the cap, the constants
  * and the vocabulary-sized DSIR word table broadcast.
  */
object Sampling {

  /** Deterministic hash-threshold keep predicate: lowercase-hex md5
    * prefix compared as a string (fixed width => numeric order).
    * `hexMax` "28" keeps (2*16+8+1)/256 ~ 16% of rows. Validated:
    * an uppercase or wrong-width threshold would silently change the
    * kept fraction (lowercase hex sorts above 'F'). */
  private[graft] def hashKeep(id: Column, hexMax: String): Column = {
    require(hexMax.matches("[0-9a-f]{2}"),
      s"hashKeep: hexMax '$hexMax' must be exactly 2 lowercase hex chars")
    substring(md5(concat(lit("graft"), id.cast("string"))), 1, 2) <= hexMax
  }

  /** Deterministic md5-threshold stratified keep-set (the
    * llm_sample_stratified_verified predicate): keep iff the first 4
    * lowercase-hex chars of md5('graft'||doc_id) sort below the
    * stratum threshold — '8000' = 1/2 for en, '4000' = 1/4 otherwise
    * (fixed-width lowercase hex: string order == numeric order). */
  private[graft] def stratifiedKeep: org.apache.spark.sql.Column =
    substring(md5(concat(lit("graft"), col("doc_id").cast("string"))), 1, 4) <
      when(col("lang") === "en", "8000").otherwise("4000")

  /** Members of `incoming` whose `key` appears in `seen`, computed as
    * bloom-prune → exact left-semi verify. The bloom binary is built
    * by one aggregate over the seen side and injected into the probe
    * as a scalar subquery — the mechanism Spark's own runtime filters
    * use — so the probe side is pruned BEFORE the exact semi-join
    * shuffles; blooms have no false negatives, so the exact join
    * restores precise semantics. `llm_bloom_prefilter` here and
    * `llm_dedup_incremental` (dedup.Keys) probe through it. Any key type: hashed to a
    * long with xxhash64 on both sides. `expectedItems`/`numBits` size
    * the bloom (defaults ≈ 3% false-positive rate at 100k seen keys —
    * false positives only cost verify-join traffic, never correctness).
    */
  def seenFilter(seen: DataFrame, incoming: DataFrame, key: String,
      expectedItems: Long = 100000L, numBits: Long = 800000L): DataFrame = {
    val bloomAgg = new BloomFilterAggregate(
      Shim.expression(xxhash64(col(key))),
      Literal(expectedItems), Literal(numBits))
    val bloom = seen.agg(Shim.column(bloomAgg.toAggregateExpression()).as("bf"))
    val pruned = incoming.filter(Shim.column(BloomFilterMightContain(
      ScalarSubquery(bloom.queryExecution.analyzed),
      Shim.expression(xxhash64(col(key))))))
    pruned.join(seen.select(key).distinct(), Seq(key), "left_semi")
  }

  /** Deterministic data-mixing: cap every source at the smallest
    * source's doc count, keeping each source's lowest doc_ids. The
    * per-source rank is a window over the source partition (shuffles
    * once on source); the cap is a broadcast scalar. Returns
    * per-source kept counts plus the kept-id checksum that proves the
    * SELECTION (not just the count) is deterministic. */
  def domainMix(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    val cap = docs.groupBy("source").count()
      .agg(min("count").as("cap"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(cap))
      .filter(col("rn") <= col("cap"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_kept_ids"))
      .orderBy("source")
  }

  // ---- llm_shard_assign --------------------------------------------
  // Deterministic 16-way shard assignment: shard = first md5 nibble
  // of the salted doc id — a pure row property (the llm_sample_hash
  // discipline), so any engine, rerun, or partitioning lands every
  // doc on the same shard. Surfaces per-shard doc counts, char
  // volume, and a VARCHAR-routed id checksum proving the PARTITION
  // (not just the sizes) is reproducible. One map-side-combining
  // aggregate; the formula text is shared with the oracle.
  private val shardFormula =
    "CAST(instr('0123456789abcdef', " +
      "substring(md5('graft' || CAST(doc_id AS STRING)), 1, 1)) - 1 AS INT)"

  private def shardAssign(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(expr(shardFormula).as("shard"), col("doc_id"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("id_checksum"))
      .orderBy("shard")

  private val shardOracle =
    s"""SELECT $shardFormula AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(CAST(sum(doc_id) AS DECIMAL(38,0)) AS VARCHAR) AS id_checksum
       |FROM documents
       |GROUP BY shard ORDER BY shard""".stripMargin

  // ---- llm_dsir_score ----------------------------------------------
  // DSIR importance scores (Xie et al. 2023, arXiv:2302.03169):
  // per-token mean log-ratio of a Laplace-smoothed target unigram LM
  // (target = the English slice, standing in for "high-quality
  // domain") against the whole-corpus LM — the hashed-n-gram importance
  // weight that DSIR samples by. Top-20 most target-like docs.
  // Smoothing term text is shared with the oracle; the per-doc mean
  // is avg+6-dp (the llm_lm_score determinism argument).
  private val dsirTerm =
    "ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + CAST(v AS DOUBLE))) - " +
      "ln((CAST(ca AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + CAST(v AS DOUBLE)))"

  /** Generic DSIR scoring core over (id, text) given a target-slice
    * predicate column — the [[graft.Graft.dsirScores]] facade
    * surface. Returns every doc with its mean per-token smoothed
    * log-ratio (NOT truncated; the declared query layers top-k). */
  private[graft] def dsirScoresOn(docs: DataFrame, idCol: String,
      textCol: String, isTarget: org.apache.spark.sql.Column): DataFrame = {
    val tok = docs.select(col(idCol), isTarget.as("tgt"),
      explode(Text.tokensOf(textCol)).as("w"))
    // both LMs' counts in ONE vocabulary aggregate (a separate
    // target-slice aggregate + left join would re-scan the corpus),
    // and the three normalizing constants straight off the token
    // stream (na = Σca, nt = Σct, v = │vocab│ — same values, one scan
    // instead of re-building the word table under the 1-row agg):
    // 3 corpus scans total, each a map-side-combining aggregate.
    val ws = tok.groupBy("w").agg(count(lit(1)).as("ca"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
    val consts = tok.agg(count(lit(1)).as("na"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("nt"),
      countDistinct(col("w")).as("v"))
    tok.join(broadcast(ws), "w")
      .crossJoin(broadcast(consts))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(expr(dsirTerm)), 6).as("dsir_score"))
  }

  private def dsirScore(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    dsirScoresOn(docs, "doc_id", "text", col("lang") === "en")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("dsir_score"))
      .orderBy(desc("dsir_score"), asc("doc_id"))
      .limit(20)
  }

  private val dsirOracle =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |awc AS (SELECT w, count(*) AS ca FROM tok GROUP BY w),
       |twc AS (SELECT w, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY w),
       |ws AS (
       |  SELECT w, ca, coalesce(ct, 0) AS ct
       |  FROM awc LEFT JOIN twc USING (w)),
       |c AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(ct) AS BIGINT) AS nt,
       |    count(*) AS v
       |  FROM ws)
       |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |  round(avg($dsirTerm), 6) AS dsir_score
       |FROM tok JOIN ws USING (w) CROSS JOIN c
       |GROUP BY doc_id, lang
       |ORDER BY dsir_score DESC, doc_id
       |LIMIT 20""".stripMargin

  // ---- llm_temperature_mix -----------------------------------------
  // Temperature-weighted multilingual sampling (XLM-R, arXiv:1911.02116,
  // α = 0.3): q_l ∝ p_l^α flattens the language distribution so
  // low-resource languages are upsampled. p comes from exact counts;
  // the α-power is the only per-row float op, and the normalizing sum
  // is a LEFT FOLD over the SORTED per-language weights — a plain
  // double sum()'s accumulation order is partition-dependent, which
  // would make the one aggregate in this family probabilistic instead
  // of pinned. Formula text shared with the oracle, 6-dp rounded.
  private val pFormula = "CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)"
  private val paFormula = s"power($pFormula, 0.3)"

  private def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"))
    val pa = counts.crossJoin(broadcast(tot))
      .selectExpr("lang", "n_docs", pFormula + " AS p", paFormula + " AS pa")
    val denom = pa.agg(expr(
      "aggregate(array_sort(collect_list(pa)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    ).as("denom"))
    pa.crossJoin(broadcast(denom))
      .selectExpr("lang", "CAST(n_docs AS BIGINT) AS n_docs",
        "round(p, 6) AS p",
        "round(pa / denom, 6) AS q",
        "round((pa / denom) / p, 6) AS boost")
      .orderBy("lang")
  }

  /** Quality-weighted domain-mixing allocation (domain = lang — the
    * skewed stratification this corpus actually has; source strata
    * are uniform by construction).
    *
    * cap = the water-filling level: the largest per-domain cap whose
    * total allocation Σ min(n_d, cap) fits the 70% corpus budget.
    * Derived in closed form over the DOMAIN-COUNT relation (|domains|
    * rows — the unpartitioned windows are bounded by the domain
    * alphabet, not the corpus): sort domains by count ascending; at
    * the first index where (budget - smaller-domains-total) div
    * remaining-domains <= n_d, that quotient is the cap. Pure int64
    * arithmetic — both engines derive the identical cap.
    *
    * Within each domain the kept docs are the top-cap by
    * (quality DESC, doc_id) under THE llm_quality_score weights
    * ([[Quality.qualityFull]] — single definition, bit-identical
    * doubles cross-engine). Mean kept quality accumulates EXACT
    * micro-units (the cents discipline) and divides once at
    * presentation. Scale: one corpus pass for quality, one
    * domain-keyed top-k window, broadcast-sized cap/count tables. */
  private[graft] def domainMixOptimize(docs: DataFrame): DataFrame = {
    val q = Quality.qualityFull(docs).select("doc_id", "lang", "quality")
    // Counts read ONLY the lang column (column-pruned scan) — going
    // through q here would run the whole text-parsing quality pass a
    // second time just to count rows per stratum.
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).cast("long").as("n_total"),
      count(lit(1)).as("n_src"))
    val wAsc = Window.orderBy(col("n_docs").asc, col("lang").asc)
    val cand = counts
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("pfx", sum(col("n_docs"))
        .over(wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("budget", expr("(7 * n_total) div 10"))
      .withColumn("cand",
        expr("(budget - (pfx - n_docs)) div (n_src - rn + 1)"))
    // First feasible index (cand <= n_docs) wins; if none, the budget
    // covers the whole corpus and the cap is the largest domain.
    val cap = cand.agg(
        min(when(col("cand") <= col("n_docs"),
          struct(col("rn"), col("cand")))).as("f"),
        max(col("n_docs")).as("mx"))
      .select(coalesce(col("f.cand"), col("mx")).as("cap"))
    val wTop = Window.partitionBy(col("lang"))
      .orderBy(desc("quality"), asc("doc_id"))
    q.withColumn("qr", row_number().over(wTop))
      .crossJoin(broadcast(cap))
      .filter(col("qr") <= col("cap"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("sum_q_micro"),
        sum(col("doc_id")).as("sum_kept_ids"))
      .join(broadcast(counts), "lang")
      .select(col("lang"), col("n_docs"), col("n_kept"),
        col("sum_q_micro"),
        (col("sum_q_micro").cast("double") / col("n_kept").cast("double")
          / lit(1000000.0)).as("mean_quality"),
        col("sum_kept_ids"))
      .orderBy("lang")
  }

  // Shared quality-formula text (the llm_quality_score oracle's
  // composite), kept in ONE string so the two oracle replicas cannot
  // drift from each other.
  private val qualitySql =
    """floor(((CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) * 0.5 +
      |  (1.0 - CAST(len(list_filter(w,
      |    t2 -> list_contains(['the', 'a', 'of', 'and'], t2))) AS DOUBLE)
      |    / CAST(len(w) AS DOUBLE)) * 0.3 +
      |  least(CAST(length(text) - (len(w) - 1) AS DOUBLE)
      |    / CAST(len(w) AS DOUBLE) / 10.0, 1.0) * 0.2
      |  ) * 1000000.0 + 0.5) / 1000000.0""".stripMargin

  // ---- llm_interleave_sources --------------------------------------
  // Deterministic training-mix interleaving: round-robin across
  // sources in (within-source rank, source) order — the standard way
  // to spread domains evenly through a training epoch without RNG.
  // Surfaces the first 50 positions of the schedule. pos ≤ 50 ⇒
  // rn ≤ 50 (pos is a row_number over an order whose leading key is
  // rn, so pos ≥ rn), so filtering rn FIRST bounds the global
  // window's input to 50·|sources| rows — the per-source window is
  // partition-parallel and the one-task global window never sees the
  // full doc table (r16 verdict item 3).
  private def interleaveSources(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
    val perSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val global = Window.orderBy(col("rn"), col("source"))
    d.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(perSrc))
      .filter(col("rn") <= 50)
      .withColumn("pos", row_number().over(global))
      .filter(col("pos") <= 50)
      .select(col("pos"), col("source"), col("doc_id"))
      .orderBy("pos")
  }

  private val interleaveSourcesOracle =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS INT) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (ORDER BY rn, source) AS INT) AS pos
      |  FROM r)
      |SELECT pos, source, doc_id FROM g
      |WHERE pos <= 50 ORDER BY pos""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Stratified sampling for data mixing: per-language fractions with
    // a fixed seed. Sampling RNG differs across engines, so no oracle
    // (SURVEY §1.5 r4); LlmSpec asserts per-stratum tolerance.
    "llm_sample_stratified" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .stat.sampleBy("lang",
          Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.25),
          42L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")),

    // Oracle-checked twin of llm_sample_stratified (VERDICT r9 item
    // 5): the SAME per-language fractions (en 0.5, rest 0.25) as a
    // deterministic hash-threshold keep-set instead of seeded RNG.
    // Keep iff the first 4 lowercase-hex chars of md5('graft'||id)
    // sort below the stratum threshold — '8000' = 32768/65536 = 1/2,
    // '4000' = 16384/65536 = 1/4 EXACTLY (fixed-width lowercase hex:
    // string order == numeric order, the hashKeep discipline). The
    // keep-set is a pure row property — reproducible across engines,
    // partitionings, and reruns — so data-mixing reproducibility now
    // rests on the oracle hash compare, not an RNG tolerance; the
    // sampleBy row above stays as the engine-native API demo.
    // Exact-sum-of-kept-ids audit column per the llm_sample_hash
    // conventions (DECIMAL(38,0) accumulate, VARCHAR surface).
    "llm_sample_stratified_verified" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .filter(stratifiedKeep)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("sum_ids"))
        .orderBy("lang")),

    // Reproducible stratified sample: md5-prefix threshold per row,
    // per-source kept counts + kept-id checksum (proves the SELECTION
    // is deterministic, not just the count). The checksum accumulates
    // in DECIMAL(38,0): a BIGINT sum of 10^10 kept ids overflows (and
    // throws under ANSI mode) at the corpus sizes this targets. The
    // SURFACE is VARCHAR: decimal128 parquet bytes and DuckDB HUGEINT
    // sums hash differently under typed comparison even when the
    // values are equal, so both sides canonicalize post-aggregation.
    "llm_sample_hash" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .filter(hashKeep(col("doc_id"), "28"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("sum_ids"))
        .orderBy("source")),

    // Incremental-ingest membership: users active in the second half
    // of the month that were already seen in the first half (user ids
    // stand in for content hashes — the corpus plants no cross-shard
    // duplicate texts at small SF; the content-hash form is exercised
    // with planted duplicates in LlmSpec).
    "llm_bloom_prefilter" -> ((s: SparkSession, dir: String) => {
      val e = loadEvents(s, dir)
      val cut = lit("2024-01-16").cast("timestamp")
      val seen = e.filter(col("ts") < cut).select("user_id")
      val incoming = e.filter(col("ts") >= cut).select("user_id").distinct()
      seenFilter(seen, incoming, "user_id").orderBy("user_id")
    }),

    "llm_domain_mix" -> ((s: SparkSession, dir: String) =>
      domainMix(load(s, dir, "documents"))),

    "llm_shard_assign" -> (shardAssign _),
    "llm_dsir_score" -> (dsirScore _),
    "llm_temperature_mix" -> (temperatureMix _),
    "llm_interleave_sources" -> (interleaveSources _),
    "llm_domain_mix_optimize" -> ((s: SparkSession, dir: String) =>
      domainMixOptimize(load(s, dir, "documents")))
  )

  val oracle: Map[String, String] = Map(
    "llm_sample_stratified_verified" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(CAST(sum(doc_id) AS DECIMAL(38,0)) AS VARCHAR) AS sum_ids
        |FROM documents
        |WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4)
        |  < CASE WHEN lang = 'en' THEN '8000' ELSE '4000' END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_sample_hash" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(CAST(sum(doc_id) AS DECIMAL(38,0)) AS VARCHAR) AS sum_ids
        |FROM documents
        |WHERE substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 2) <= '28'
        |GROUP BY source ORDER BY source""".stripMargin,

    "llm_bloom_prefilter" ->
      """SELECT DISTINCT b.user_id FROM events b
        |WHERE CAST(b.ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
        |  AND EXISTS (SELECT 1 FROM events a
        |    WHERE CAST(a.ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |      AND a.user_id = b.user_id)
        |ORDER BY user_id""".stripMargin,

    "llm_domain_mix" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |cap AS (SELECT min(c) AS cap FROM (
        |  SELECT count(*) AS c FROM documents GROUP BY source))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
        |FROM ranked, cap WHERE rn <= cap
        |GROUP BY source ORDER BY source""".stripMargin,

    "llm_temperature_mix" ->
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |tot AS (SELECT sum(n_docs) AS n_total FROM counts),
         |pa AS (SELECT lang, n_docs, $pFormula AS p, $paFormula AS pa
         |  FROM counts CROSS JOIN tot),
         |denom AS (SELECT list_reduce(list_sort(list(pa)),
         |  (acc, x) -> acc + x) AS denom FROM pa)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  round(p, 6) AS p,
         |  round(pa / denom, 6) AS q,
         |  round((pa / denom) / p, 6) AS boost
         |FROM pa CROSS JOIN denom ORDER BY lang""".stripMargin,

    "llm_domain_mix_optimize" ->
      s"""WITH m AS (
         |  SELECT doc_id, lang, $qualitySql AS quality
         |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w
         |        FROM documents)),
         |counts AS (SELECT lang, count(*) AS n_docs FROM m GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
         |  count(*) AS n_src FROM counts),
         |rk AS (SELECT lang, n_docs,
         |    row_number() OVER (ORDER BY n_docs, lang) AS rn,
         |    sum(n_docs) OVER (ORDER BY n_docs, lang
         |      ROWS UNBOUNDED PRECEDING) AS pfx
         |  FROM counts),
         |cand AS (SELECT rk.*,
         |    ((7 * n_total) // 10 - (pfx - n_docs)) // (n_src - rn + 1) AS cand
         |  FROM rk CROSS JOIN tot),
         |cap AS (SELECT coalesce(
         |    (SELECT cand FROM cand WHERE cand <= n_docs ORDER BY rn LIMIT 1),
         |    (SELECT max(n_docs) FROM counts)) AS cap),
         |ranked AS (SELECT m.*, row_number() OVER (
         |    PARTITION BY lang ORDER BY quality DESC, doc_id) AS qr FROM m),
         |kept AS (SELECT r.lang, r.doc_id, r.quality
         |  FROM ranked r CROSS JOIN cap WHERE qr <= cap)
         |SELECT k.lang, CAST(c.n_docs AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(CAST(floor(quality * 1000000.0 + 0.5) AS BIGINT))
         |    AS BIGINT) AS sum_q_micro,
         |  CAST(sum(CAST(floor(quality * 1000000.0 + 0.5) AS BIGINT))
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
         |    AS mean_quality,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
         |FROM kept k JOIN counts c USING (lang)
         |GROUP BY k.lang, c.n_docs ORDER BY lang""".stripMargin,

    "llm_shard_assign" -> shardOracle,
    "llm_dsir_score" -> dsirOracle,
    "llm_interleave_sources" -> interleaveSourcesOracle
  )
}
