package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.18 — round-7 corpus-statistics operators: per-doc
  * token-distribution entropy (a gibberish/boilerplate filter
  * feature: low entropy = repetitive text), per-dimension embedding
  * standardization and BPE pair-frequency counting (one-step k-means
  * moved to [[retrieval.Geometry]]). (This file's original Zipf
  * rank-frequency fit moved to LlmOps18 in round 15 — the rebuild
  * replaces the full-vocabulary global rank window with a
  * TakeOrderedAndProject top-k and adds the brute-fold law; one id,
  * one registration.)
  *
  * Scale shapes: entropy is one explode + two co-partitioned hash
  * aggregates (the llm_text_stats pipeline); standardization
  * broadcasts a dimension-sized table into per-element map work;
  * BPE explodes positions over the vocabulary, not the corpus.
  *
  * Float determinism: per-element ln() last-ulp differences between
  * the engines' libm feed sums whose drift stays ~1e-13 against
  * outputs of magnitude ~1, so the 6-dp surface rounding absorbs
  * them (same argument as llm_tfidf). ln(2) is pinned as its exact
  * double literal rather than computed, removing the one
  * engine-libm call the rounding could not bound.
  */
object LlmOps6 {

  private val LN2 = "0.6931471805599453"

  private def q(sql: String)(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "documents").createOrReplaceTempView("documents")
    s.sql(sql)
  }

  // ---- llm_token_entropy -------------------------------------------
  // Shannon entropy (bits) of each document's token distribution,
  // in the single-pass form H = (ln n − Σ c·ln c / n) / ln 2: the
  // naive Σ (c/n)·ln(c/n) needs the doc total BEFORE the per-term
  // sum, which planned as a SECOND documents scan + join (CTEs are
  // not materialized) — the algebraic rewrite computes n and
  // Σ c·ln c in ONE aggregate over the term counts, so the plan is
  // one scan and two co-partitioned shuffles (doc_id, word) → doc_id.
  private val entropyFormula =
    s"round((ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE)) / $LN2, 6)"

  private val entropySums =
    "sum(c) AS n, sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s"

  /** Generic single-pass token-entropy core over (id, text) — the
    * [[graft.Graft.tokenEntropy]] facade surface; same formula text
    * as the declared query. */
  private[graft] def tokenEntropyOn(docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n"),
        expr("sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))").as("s"))
      .select(col("doc_id"), col("n").cast("bigint").as("n_tokens"),
        expr(entropyFormula).as("entropy_bits"))
      .orderBy("doc_id")
  }

  private val entropySql =
    s"""WITH tf AS (
       |  SELECT doc_id, word, count(*) AS c FROM (
       |    SELECT doc_id, explode(split(text, ' ')) AS word FROM documents)
       |  GROUP BY doc_id, word),
       |e AS (SELECT doc_id, $entropySums FROM tf GROUP BY doc_id)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  $entropyFormula AS entropy_bits
       |FROM e
       |ORDER BY doc_id""".stripMargin

  private val entropyOracle =
    s"""WITH tf AS (
       |  SELECT doc_id, word, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY doc_id, word),
       |e AS (SELECT doc_id, $entropySums FROM tf GROUP BY doc_id)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  $entropyFormula AS entropy_bits
       |FROM e
       |ORDER BY doc_id""".stripMargin

  // ---- llm_feature_scale -------------------------------------------
  // Per-dimension z-score standardization of the embedding matrix —
  // the distributed feature-scaling step before clustering/ANN
  // training. posexplode flattens (vector, dim) pairs; per-dim
  // moments are a 64-row aggregate that broadcasts back into the
  // element join; the standardized vector is reassembled by sorting
  // the (pos, z) structs — so the shape is explode → hash agg →
  // broadcast join → hash agg, all linear in elements. The z formula
  // text is shared with the oracle; 6-dp rounding absorbs sum-order
  // drift in the double moments (elements are exact float→double
  // promotions).
  // Guard on the VARIANCE itself, not the sqrt: for a constant
  // dimension fp drift can make sxx/n - (sx/n)^2 tiny-negative (sqrt
  // → NaN) or tiny-positive (exploded z) — either way the promise is
  // "zero-variance dimension yields NULL", so the CASE tests the
  // variance expression directly. Shared text with the oracle.
  private val zFormula =
    """round(CASE WHEN sxx / n - (sx / n) * (sx / n) <= CAST(0 AS DOUBLE)
      |      THEN CAST(NULL AS DOUBLE)
      |      ELSE (v - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)) END,
      |  6)""".stripMargin

  /** Generic per-dimension standardization core over (id, vector) —
    * the [[graft.Graft.standardize]] facade surface. */
  private[graft] def standardizeOn(vectors: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val x = vectors
      .select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("pos0", "f")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"),
        col("f").cast("double").as("v"))
    val stats = x.groupBy("pos").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("v")).as("sx"),
      sum(col("v") * col("v")).as("sxx"))
    x.join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"), expr(zFormula).as("z"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("z")))),
        e => e.getField("z")).as("zvec"))
      .orderBy("vec_id")
  }

  // Query surface: exploded (vec_id, pos, z) rows, NOT the assembled
  // array — the driver's comparer hashes scalar cells only (list
  // cells crash its pandas lexsort), and the exploded surface keeps
  // the comparison total-ordered and cell-exact. The array-returning
  // facade (standardizeOn → Graft.standardize) is unchanged; the
  // query goes through it so the oracle still proves the facade.
  private def featureScale(s: SparkSession, dir: String): DataFrame =
    standardizeOn(load(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), posexplode(col("zvec")).as(Seq("pos0", "z")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("z"))
      .orderBy("vec_id", "pos")

  private val featureScaleOracle =
    s"""WITH x AS (
       |  SELECT vec_id, CAST(r.range AS INT) AS pos,
       |    CAST(embedding[r.range] AS DOUBLE) AS v
       |  FROM embeddings CROSS JOIN range(1, 65) r),
       |stats AS (
       |  SELECT pos, CAST(count(*) AS DOUBLE) AS n,
       |    sum(v) AS sx, sum(v * v) AS sxx
       |  FROM x GROUP BY pos)
       |SELECT vec_id, pos, $zFormula AS z
       |FROM x JOIN stats USING (pos)
       |ORDER BY vec_id, pos""".stripMargin

  // ---- llm_bpe_pair_freq -------------------------------------------
  // The first step of BPE vocabulary induction (Sennrich et al. 2016):
  // adjacent character-pair frequencies over the corpus, weighted by
  // word frequency. Word counts aggregate FIRST (vocabulary-sized),
  // then each distinct word explodes into its len−1 position pairs —
  // so the explosion is over the vocabulary, not the corpus, and the
  // pair aggregate map-side-combines. Top-50 by (freq DESC, pair).
  private val bpeSql =
    """WITH wc AS (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT explode(split(text, ' ')) AS word FROM documents)
      |  GROUP BY word),
      |p AS (
      |  SELECT substring(word, i, 2) AS pair, cnt
      |  FROM wc LATERAL VIEW explode(sequence(1, length(word) - 1)) t AS i
      |  WHERE length(word) >= 2),
      |f AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM p GROUP BY pair)
      |SELECT pair, freq FROM (
      |  SELECT pair, freq, row_number() OVER (ORDER BY freq DESC, pair) AS rn
      |  FROM f) WHERE rn <= 50
      |ORDER BY freq DESC, pair""".stripMargin

  private val bpeOracle =
    """WITH wc AS (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word),
      |p AS (
      |  SELECT substr(word, CAST(i AS INT), 2) AS pair, cnt FROM (
      |    SELECT word, cnt, unnest(range(1, length(word))) AS i
      |    FROM wc WHERE length(word) >= 2)),
      |f AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq FROM p GROUP BY pair)
      |SELECT pair, freq FROM (
      |  SELECT pair, freq, row_number() OVER (ORDER BY freq DESC, pair) AS rn
      |  FROM f) WHERE rn <= 50
      |ORDER BY freq DESC, pair""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_token_entropy" -> (q(entropySql) _),
    "llm_feature_scale" -> (featureScale _),
    "llm_bpe_pair_freq" -> (q(bpeSql) _)
  )

  val oracle: Map[String, String] = Map(
    "llm_token_entropy" -> entropyOracle,
    "llm_feature_scale" -> featureScaleOracle,
    "llm_bpe_pair_freq" -> bpeOracle
  )
}
