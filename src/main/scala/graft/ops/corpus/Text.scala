package graft.ops.corpus

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** The whitespace tokenization of `documents.text`, made here once for
  * the DataFrame-built rows that tokenize it (the corpus family, dedup,
  * BM25, str_split_explode, udtf_generator and the bigram-set memo):
  *
  *  - [[tokens]]: `text` split on single spaces. Spark's `split` keeps
  *    empty tokens (a leading, trailing or doubled space yields ""),
  *    as DuckDB's `string_split` does in the oracles; [[tokensOf]] is
  *    the same rule over another column (the facade's `textCol`);
  *  - [[nTokens]]: the per-document token count;
  *  - [[reTokens]]: the BPE-ish regex tokens (`[a-z]+|[0-9]+`) the
  *    fertility rows set against the whitespace count;
  *  - [[wordFreq]]: the word-frequency table (explode → group → count).
  */
object Text {

  /** [[tokens]] of the string column `text`. */
  def tokensOf(text: String): Column = split(col(text), " ")

  /** The whitespace tokens of `documents.text`. */
  def tokens: Column = tokensOf("text")

  def nTokens: Column = size(tokens)

  def reTokens: Column =
    regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))

  /** `documents` as (doc_id, lang, w = [[tokens]]): the token array
    * materialized once per doc for rows that index into it. */
  def tokenized(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens.as("w"))

  /** Word frequencies (by…, word, cnt) of a relation with `text` and
    * the `by` columns: one row per distinct token per `by` group with
    * its occurrence count, empty tokens included. The aggregate
    * combines map-side, so the shuffle carries one row per
    * (group, word), never the token stream. */
  def wordFreq(docs: DataFrame, by: String*): DataFrame =
    docs.select(by.map(col) :+ explode(tokens).as("word"): _*)
      .groupBy((by :+ "word").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
}
