package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.util.Tables._

/** SURVEY.md §2.11 (round-3 additions) — scale-path primitives for
  * incremental ingest, decontamination, data mixing and repetition
  * scoring:
  *
  *  - [[seenFilter]]: Bloom-prefiltered membership against a seen
  *    corpus. The bloom binary is built by one aggregate over the seen
  *    side and injected into the probe as a scalar subquery — the same
  *    mechanism Spark's own runtime filters use — so the probe side is
  *    pruned BEFORE the exact semi-join shuffles. Blooms have no false
  *    negatives, so the exact join restores precise semantics and the
  *    operator stays oracle-checkable; the win at 100 TB is that only
  *    the (tiny) suspected-seen fraction of a new shard ever shuffles.
  *    `llm_bloom_prefilter` here and `llm_dedup_incremental`
  *    (dedup.Keys) probe through it.
  *
  * (The IVF vector-search rows of this round are in
  * [[retrieval.Ann]] and [[retrieval.Evaluation]].)
  */
object LlmOps3 {

  /** Members of `incoming` whose `key` appears in `seen`, computed as
    * bloom-prune → exact left-semi verify. Any key type: hashed to a
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

  /** Benchmark decontamination: training docs sharing any word
    * 5-gram with the (deterministic) eval split, with the count of
    * distinct shared grams. The eval gram set is tiny relative to the
    * corpus, so it broadcasts and the training side never shuffles for
    * the membership probe — at 100 TB the same plan holds with the
    * eval set staying dimension-sized (and a bloom over eval grams,
    * as in [[seenFilter]], would pre-prune the explode output).
    * 5-grams are materialized from the split array ONCE per doc (no
    * split() inside the lambda — HOF lambdas are interpreted). */
  def decontaminate(docs: DataFrame, isEval: Column): DataFrame = {
    val grams = docs
      .withColumn("is_eval", isEval)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), col("is_eval"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("w")) - 4),
          i => concat_ws(" ",
            element_at(col("w"), i), element_at(col("w"), i + 1),
            element_at(col("w"), i + 2), element_at(col("w"), i + 3),
            element_at(col("w"), i + 4))))).as("gram"))
    val evalGrams = grams.filter(col("is_eval")).select("gram").distinct()
    grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
      .orderBy("doc_id")
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

  /** Repetition scoring: each doc's most frequent word bigram as a
    * share of its total bigrams — the training-data quality signal
    * for boilerplate/spam. Explode → per-(doc, bigram) count →
    * per-doc max/total; everything hash-aggregates on doc_id. */
  def repetitionScore(docs: DataFrame): DataFrame = {
    val bigrams = docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", element_at(col("w"), i),
            element_at(col("w"), i + 1)))).as("bg"))
    bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
        .as("ratio"))
      .select(col("doc_id"), round(col("ratio"), 6).as("rep_ratio"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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

    // Benchmark decontamination over the documents corpus: every 50th
    // doc is the "eval set"; training docs sharing any 5-gram with it
    // are flagged with their shared-gram count.
    "llm_decontaminate" -> ((s: SparkSession, dir: String) =>
      decontaminate(load(s, dir, "documents"), col("doc_id") % 50 === 0)),

    "llm_domain_mix" -> ((s: SparkSession, dir: String) =>
      domainMix(load(s, dir, "documents"))),

    // top-20 cap is the QUERY's framing; the library op returns the
    // full per-doc score surface
    "llm_repetition_filter" -> ((s: SparkSession, dir: String) =>
      repetitionScore(load(s, dir, "documents"))
        .orderBy(desc("rep_ratio"), asc("doc_id"))
        .limit(20))
  )

  val oracle: Map[String, String] = Map(
    "llm_bloom_prefilter" ->
      """SELECT DISTINCT b.user_id FROM events b
        |WHERE CAST(b.ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
        |  AND EXISTS (SELECT 1 FROM events a
        |    WHERE CAST(a.ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
        |      AND a.user_id = b.user_id)
        |ORDER BY user_id""".stripMargin,

    "llm_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, doc_id % 50 = 0 AS is_eval,
        |    string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, is_eval,
        |    unnest(list_distinct(list_transform(range(1, len(w) - 3),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |           w[i+3] || ' ' || w[i+4]))) AS gram
        |  FROM w WHERE len(w) >= 5),
        |e AS (SELECT DISTINCT gram FROM g WHERE is_eval)
        |SELECT t.doc_id, CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared
        |FROM g t JOIN e ON t.gram = e.gram
        |WHERE NOT t.is_eval
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

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

    "llm_repetition_filter" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS bg
        |  FROM w WHERE len(w) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
        |SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |  AS rep_ratio
        |FROM c GROUP BY doc_id
        |ORDER BY rep_ratio DESC, doc_id LIMIT 20""".stripMargin
  )
}
