package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The hashed word-bigram sets the dedup family's bigram-Jaccard pair
  * scan reads ([[sharedBigramSets]]), built over
  * [[corpus.Text.tokenized]]. No rows of its own: the training-data
  * rows this module once held are in [[corpus.Corpus]], and the
  * benchmark harness builds the memo under this name.
  */
object LlmOps2 {

  /** SORTED hashed word-bigram sets per doc (materialized token array
    * — see dedup.NearDup.shingleSets on why split must not inline).
    * Bigrams are hashed to longs so the pairwise set ops compare 8-byte
    * values instead of strings, and sorted once per document so the
    * candidate hot loop is a [[graft.functions.SortedJaccard]] merge
    * walk with no per-pair allocation; the oracle compares RAW string
    * bigram sets — identical Jaccard barring a 64-bit collision
    * (~1e-13 at this vocabulary size). */
  private[graft] def bigramSets(s: SparkSession, dir: String): DataFrame =
    corpus.Text.tokenized(s, dir)
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), size(col("w")).as("n_tok"),
        sort_array(expr("""array_distinct(transform(sequence(0, size(w) - 2),
               |  i -> xxhash64(concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2)))))"""
          .stripMargin)).as("bg"))

  /** Corpus-facing [[bigramSets]] as a DiskMemo parquet view (r18):
    * three rows consume it — `llm_dedup_ngram`, `llm_dedup_cluster`
    * and `llm_dedup_threshold_sweep`, all through the one blocked pair
    * scan `dedup.NearDup.ngramPairs` — and each previously re-ran the
    * tokenize + bigram-hash pipeline per invocation. Content is exact
    * (sorted distinct hashed longs + integer token counts); row order
    * irrelevant (every consumer joins/aggregates). Build timed as
    * `memo_bigramsets`. */
  private[graft] def sharedBigramSets(s: SparkSession, dir: String): DataFrame =
    DiskMemo.table(s, dir, "bigramsets")(bigramSets(s, dir))
}
