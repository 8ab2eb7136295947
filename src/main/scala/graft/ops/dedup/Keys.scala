package graft.ops.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.corpus.{Sampling, Text}
import graft.util.Tables._

/** Document keys and the hash tiers of the dedup family (SURVEY.md
  * §2.11, §2.23, §2.32, §2.35, §2.58):
  *
  *  - the four key definitions: [[exact]] (md5 of the text),
  *    [[normalized]] (lower-case, non-alphanumerics stripped,
  *    whitespace collapsed), [[prefixHash]] (md5 of the first n
  *    tokens) and [[sharedKeyFlag]] (the key is shared by two or more
  *    docs). Every dedup row keys through these, and so do
  *    `llm_dataset_card` and `llm_template_detect`;
  *  - the exact tiers: `llm_dedup_exact` and `llm_dedup_exact_norm`
  *    (both [[survivorsPerSource]]) and `llm_dedup_family_spectrum`;
  *  - the prefix tiers: `llm_prefix_dedup` (8 tokens) and the
  *    30-token opening rows `llm_dedup_cross_source`,
  *    `llm_dedup_incremental` and `llm_score_vs_dup`;
  *  - `llm_dedup_tier_report`, the four hash tiers side by side.
  *
  * Scale shapes: every tier is one hash aggregate (or one dense_rank
  * exchange) on a constant-width key — never all-pairs over
  * documents. Determinism: keys are md5 hex strings on both engines;
  * counts are exact integers, id checksums DECIMAL-accumulated and
  * VARCHAR-surfaced.
  */
object Keys {

  // ---------------------------------------------------------- keys

  /** Byte-exact document key: md5 of the payload (the text unless a
    * caller hashes another column, e.g. [[normalized]]). */
  def exact(payload: Column = col("text")): Column = md5(payload)

  /** The C4/CCNet "fuzzy-exact" text: lowercase, non-alphanumerics to
    * spaces, whitespace runs collapsed, trimmed. */
  val normalized: Column = trim(regexp_replace(
    regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))

  /** md5 of the first `n` tokens joined by single spaces — the
    * template-intro key (`n` = 8) and the document-opening key
    * (`n` = 30). Docs shorter than `n` hash their whole token list. */
  def prefixHash(tokens: Column, n: Int): Column =
    md5(array_join(slice(tokens, 1, n), " "))

  /** Adds boolean `flag` = "`key` is shared by two or more distinct
    * doc_ids". The distinct-doc count per key is the dense_rank trick:
    * rank docs within each key partition, then take the partition max
    * — two window passes over ONE exchange on the key, no collect_set
    * (O(M²) on a hot key) and no probe-side re-join. The rank stays
    * as column `dr`; a `dr` left by an earlier call is dropped first,
    * so calls chain (one flag per key). */
  def sharedKeyFlag(df: DataFrame, key: String, flag: String): DataFrame =
    df.drop("dr")
      .withColumn("dr", dense_rank().over(
        Window.partitionBy(key).orderBy("doc_id")))
      .withColumn(flag, max(col("dr")).over(Window.partitionBy(key)) >= 2)

  // ---------------------------------------------------- exact tiers

  /** Deterministic exact-dedup survivor map: (payload md5 `h`,
    * minimum key `survivor_key`). SINGLE definition of the survivor
    * aggregate — the exact rows, the public
    * [[graft.Graft.exactDedupSurvivors]] facade, and
    * `llm_dedup_cluster`'s exact edges all delegate here. */
  private[graft] def exactSurvivorsByHash(df: DataFrame, keyCol: Column,
      payload: Column): DataFrame =
    df.groupBy(exact(payload).as("h")).agg(min(keyCol).as("survivor_key"))

  /** Survivor keys only (see [[exactSurvivorsByHash]]). */
  private[graft] def exactSurvivorKeys(df: DataFrame, keyCol: Column,
      payload: Column): DataFrame =
    exactSurvivorsByHash(df, keyCol, payload).select("survivor_key")

  /** Exact dedup on md5(payload): deterministic survivor = min doc_id
    * per hash (dropDuplicates' arbitrary pick would leak into the
    * per-source counts), then survivors per source. */
  private def survivorsPerSource(s: SparkSession, dir: String,
      payload: Column): DataFrame = {
    val d = load(s, dir, "documents")
    val survivors = exactSurvivorKeys(d, col("doc_id"), payload)
      .withColumnRenamed("survivor_key", "doc_id")
    d.join(survivors, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  // ---- llm_dedup_family_spectrum -----------------------------------
  // Exact-duplicate family-size spectrum — for each family size k,
  // how many md5 families, docs, and min-keeper removals.
  // `llm_dedup_tier_report` totals per tier; the spectrum shows the
  // SHAPE (is duplication a few huge families or many pairs? — the
  // number that picks the dedup strategy). Two chained
  // map-side-combining hash aggregates over the md5 projection.
  private[graft] def dedupFamilySpectrumOn(docs: DataFrame): DataFrame =
    docs.select(exact().as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size"))
      .agg(count(lit(1)).as("n_families"))
      .selectExpr("family_size", "n_families",
        "family_size * n_families AS n_docs",
        "(family_size - 1) * n_families AS n_removable")
      .orderBy("family_size")

  // ---- llm_prefix_dedup --------------------------------------------
  // Template-intro detection: documents sharing an identical 8-token
  // PREFIX (boilerplate heads that whole-doc hashes and shingle
  // Jaccard both dilute). One hash aggregate on the constant-width
  // prefix hash; groups of one are dropped; the id checksum
  // (DECIMAL-accumulated, VARCHAR-surfaced) proves group membership,
  // not just sizes.
  private def prefixDedup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), Text.tokens.as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), prefixHash(col("t"), 8).as("prefix_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keeper"),
        sum(col("doc_id").cast("decimal(38,0)")).cast("string").as("id_checksum"))
      .filter(col("n_docs") > 1)
      .orderBy("prefix_hash")

  // ---- llm_dedup_tier_report ---------------------------------------
  // The at-a-glance tier comparison a corpus owner checks before
  // choosing a dedup level: for each HASH tier (byte-exact,
  // normalized, 8-token prefix, 30-token prefix) the number of
  // duplicate groups, docs inside them, and docs a min-keeper policy
  // would remove. Each tier keys through the same definition as its
  // standalone row — [[exact]] (llm_dedup_exact), [[exact]] of
  // [[normalized]] (llm_dedup_exact_norm), [[prefixHash]] at 8
  // (llm_prefix_dedup) and at 30 (llm_dedup_incremental) — so the
  // report cannot drift from them. One union of four key projections
  // -> one (tier, key) aggregate -> one 4-row tier aggregate; every
  // metric is an exact integer. (The near/MinHash tier is
  // deliberately absent: its cluster arithmetic needs the CC loop —
  // see llm_dedup_minhash_cluster.)
  private def tierReport(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val t = col("t")
    val keyed = d.select(lit("1_exact").as("tier"), exact().as("k"))
      .union(d.select(lit("2_norm"), exact(normalized)))
      .union(d.select(col("doc_id"), Text.tokens.as("t"))
        .filter(size(t) >= 8)
        .select(lit("3_prefix8"), prefixHash(t, 8)))
      .union(d.select(lit("4_prefix30"),
        prefixHash(Text.tokens, 30)))
    keyed.groupBy(col("tier"), col("k"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("tier"))
      .agg(
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when(col("c") > 1, col("c")).otherwise(0L))
          .as("n_docs_in_groups"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
          .as("n_removable"))
      .orderBy("tier")
  }

  // ---- llm_dedup_cross_source --------------------------------------
  // Where do duplicated document OPENINGS flow between sources? Keys
  // each doc by the md5 of its first 30 words (whole-document hashes
  // never cross a source boundary in this corpus — verified at two
  // SFs — so the doc-level matrix would be vacuously empty; shared
  // openings are the prefix-dedup signal, here cross-tabulated),
  // keeps only keys spanning ≥2 sources, and counts doc pairs per
  // unordered source pair. The pair explosion runs over per-hash
  // distinct-source sets (bounded by the duplicate population and
  // the source alphabet, not the corpus).
  private def crossSourceDup(s: SparkSession, dir: String): DataFrame = {
    val bySrc = load(s, dir, "documents")
      .select(prefixHash(Text.tokens, 30).as("h"), col("source"))
      .groupBy(col("h"), col("source"))
      .agg(count(lit(1)).as("c"))
    val sets = bySrc
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("source"), col("c"))))
        .as("ss"))
      .filter(size(col("ss")) >= 2)
    sets
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |    b -> struct(a.source AS sa, b.source AS sb,
          |                a.c * b.c AS pairs))))""".stripMargin)).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_hashes"),
        sum(col("p.pairs")).cast("bigint").as("n_doc_pairs"))
      .orderBy("source_a", "source_b")
  }

  // ---- llm_dedup_incremental ---------------------------------------
  // Incremental-corpus dedup (VERDICT r8 item 8): the "seen"
  // generation (even doc_ids) publishes its 30-token-prefix
  // fingerprints; the "incoming" generation (odd doc_ids) is checked
  // against them via [[Sampling.seenFilter]] — bloom prune + exact
  // left-semi verify, the shape that actually ships between corpus
  // generations at 100 TB (the bloom is the O(bits) artifact that
  // crosses the generation boundary; the verify join only carries
  // bloom survivors). Each flagged doc surfaces with the earliest
  // seen doc carrying its fingerprint. The fingerprint is
  // [[prefixHash]] at 30 tokens — the document-opening key of
  // llm_dedup_cross_source, llm_score_vs_dup and the tier report's
  // 4_prefix30 tier (llm_prefix_dedup keys on 8 tokens).
  private def incremental(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("doc_id"), prefixHash(Text.tokens, 30).as("ph"))
    val seen = d.filter(col("doc_id") % 2 === 0)
    val incoming = d.filter(col("doc_id") % 2 === 1)
    val flagged = Sampling.seenFilter(seen.select("ph"), incoming, "ph")
    flagged.join(
        seen.groupBy("ph").agg(min(col("doc_id")).as("first_seen_doc")),
        "ph")
      .select(col("doc_id"), col("first_seen_doc"))
      .orderBy("doc_id")
  }

  // ---- llm_score_vs_dup --------------------------------------------
  // Does lexical quality predict duplication? Type-token ratio
  // deciles (the llm_quality_score TTR axis) cross-tabulated with
  // the duplicated-opening flag (the llm_dataset_card signal): per
  // decile, mean TTR and the dup rate — the calibration table a
  // filtering pipeline checks before trusting one signal as a proxy
  // for the other. One text scan computes both; ntile over the
  // unique (ttr, doc_id) order is deterministic.
  private def scoreVsDup(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .withColumn("w", Text.tokens)
      .select(col("doc_id"),
        round(size(array_distinct(col("w"))).cast("double") /
          size(col("w")).cast("double"), 6).as("ttr"),
        prefixHash(col("w"), 30).as("ph"))
    val flagged = sharedKeyFlag(d, "ph", "pdup")
    // r18 retrofit: the decile came from a bare document-sized ntile
    // window — one task holds the whole corpus at target scale.
    // DistRank.globalNtile is SQL-ntile-exact over the same unique
    // (ttr, doc_id) total order (asserted by the
    // `agg_ntile_distributed` oracle), so the hash cannot move; the
    // ~1 s fixed stage cost at bench SF is the documented
    // rank-family trade for removing the one-task funnel.
    graft.util.DistRank
      .globalNtile(flagged, "decile", 10, Seq(col("ttr"), col("doc_id")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ttr")), 6).as("mean_ttr"),
        round(sum(when(col("pdup"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("dup_rate"))
      .orderBy("decile")
  }

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_exact" -> ((s: SparkSession, dir: String) =>
      survivorsPerSource(s, dir, col("text"))),
    // Normalization-then-hash dedup (the C4/CCNet "fuzzy-exact" tier
    // between byte-exact md5 and MinHash): the survivors-per-source
    // plan of llm_dedup_exact over the [[normalized]] text —
    // normalization is a per-row projection, so the scale shape is
    // unchanged.
    "llm_dedup_exact_norm" -> ((s: SparkSession, dir: String) =>
      survivorsPerSource(s, dir, normalized)),
    "llm_dedup_family_spectrum" -> ((s: SparkSession, dir: String) =>
      dedupFamilySpectrumOn(load(s, dir, "documents"))),
    "llm_prefix_dedup" -> (prefixDedup _),
    "llm_dedup_tier_report" -> (tierReport _),
    "llm_dedup_cross_source" -> (crossSourceDup _),
    "llm_dedup_incremental" -> (incremental _),
    "llm_score_vs_dup" -> (scoreVsDup _)
  )

  val oracle: Map[String, String] = Map(
    "llm_dedup_exact" ->
      """WITH s AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        |SELECT source, count(*) AS n_docs
        |FROM documents JOIN s USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    "llm_dedup_exact_norm" ->
      """WITH n AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents),
        |s AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY md5(norm))
        |SELECT source, count(*) AS n_docs
        |FROM n JOIN s USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    "llm_dedup_family_spectrum" ->
      """WITH fam AS (
        |  SELECT md5(text) AS k, CAST(count(*) AS BIGINT) AS family_size
        |  FROM documents GROUP BY 1),
        |sp AS (
        |  SELECT family_size, CAST(count(*) AS BIGINT) AS n_families
        |  FROM fam GROUP BY 1)
        |SELECT family_size, n_families,
        |  family_size * n_families AS n_docs,
        |  (family_size - 1) * n_families AS n_removable
        |FROM sp ORDER BY family_size""".stripMargin,

    "llm_prefix_dedup" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' '))
        |      AS prefix_hash
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8)
        |SELECT prefix_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS keeper,
        |  CAST(CAST(sum(doc_id) AS DECIMAL(38,0)) AS VARCHAR) AS id_checksum
        |FROM p GROUP BY prefix_hash HAVING count(*) > 1
        |ORDER BY prefix_hash""".stripMargin,

    "llm_dedup_tier_report" ->
      """WITH keyed AS (
        |  SELECT '1_exact' AS tier, md5(text) AS k FROM documents
        |  UNION ALL
        |  SELECT '2_norm', md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
        |  FROM documents
        |  UNION ALL
        |  SELECT '3_prefix8',
        |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' '))
        |  FROM documents WHERE len(string_split(text, ' ')) >= 8
        |  UNION ALL
        |  SELECT '4_prefix30',
        |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 30), ' '))
        |  FROM documents),
        |g AS (SELECT tier, k, count(*) AS c FROM keyed GROUP BY 1, 2)
        |SELECT tier,
        |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_groups,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |    AS n_docs_in_groups,
        |  CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
        |    AS n_removable
        |FROM g GROUP BY tier ORDER BY tier""".stripMargin,

    "llm_dedup_cross_source" ->
      """WITH bs AS (
        |  SELECT md5(array_to_string(
        |      list_slice(string_split(text, ' '), 1, 30), ' ')) AS h,
        |    source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    a.c * b.c AS pairs
        |  FROM bs a JOIN bs b ON a.h = b.h AND a.source < b.source)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_hashes,
        |  CAST(sum(pairs) AS BIGINT) AS n_doc_pairs
        |FROM p GROUP BY source_a, source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // The bloom is invisible to the result (false positives are
    // verified away), so the oracle is the bare exact semi-join.
    "llm_dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 30),
        |        ' ')) AS ph
        |  FROM documents),
        |seen AS (
        |  SELECT ph, min(doc_id) AS first_seen_doc
        |  FROM d WHERE doc_id % 2 = 0 GROUP BY ph)
        |SELECT d.doc_id, seen.first_seen_doc
        |FROM d JOIN seen USING (ph)
        |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin,

    "llm_score_vs_dup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    round(CAST(len(list_distinct(w)) AS DOUBLE) /
        |      CAST(len(w) AS DOUBLE), 6) AS ttr,
        |    md5(array_to_string(list_slice(w, 1, 30), ' ')) AS ph
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |pd AS (SELECT ph FROM d GROUP BY ph
        |       HAVING count(DISTINCT doc_id) >= 2),
        |f AS (
        |  SELECT d.doc_id, d.ttr, pd.ph IS NOT NULL AS pdup,
        |    CAST(ntile(10) OVER (ORDER BY d.ttr, d.doc_id) AS BIGINT) AS decile
        |  FROM d LEFT JOIN pd ON d.ph = pd.ph)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(ttr), 6) AS mean_ttr,
        |  round(CAST(sum(CASE WHEN pdup THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM f GROUP BY decile ORDER BY decile""".stripMargin
  )
}
