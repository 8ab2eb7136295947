package graft.ops.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** Vocabulary and token-distribution audits: per-document token
  * entropy and burstiness, BPE pair frequencies, top-k vocabulary
  * coverage (stacked and as a curve), PMI collocations, bigram
  * conditional entropy, per-source KL divergence, the Heaps and Zipf
  * fits, and the cross-language and cross-source overlap matrices.
  * Every word table is [[Text.wordFreq]] or a pass over
  * [[Text.tokens]].
  *
  * Scale shapes: the token stream aggregates once into vocabulary-sized
  * (Heaps-sublinear) tables, which broadcast back or carry the global
  * rank windows — no window ever runs over the token stream. The
  * overlap self-joins are keyed on the token or shingle hash with
  * per-key fan-out bounded by the language or source alphabet.
  *
  * Float determinism: counts and moments are exact integers; ln terms
  * are identical-input libm calls whose accumulation drift (~1e-13
  * against O(1) outputs) is absorbed by 6-dp rounding (the
  * llm_lm_score argument). ln(2) is pinned as its exact double literal
  * rather than computed.
  */
object Vocabulary {

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
        explode(Text.tokensOf(textCol)).as("word"))
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

  // ---- llm_vocab_coverage ------------------------------------------
  // Corpus coverage of the top-k most frequent tokens, k ∈ {10, 100,
  // 1000, 10000} — the curve a tokenizer vocabulary size is read
  // from. One token-stream aggregate to vocabulary size, a global
  // row_number over that (count desc, token asc — total order) on
  // the Heaps-sublinear word table, then ONE conditional-sum pass
  // unpivoted by `stack` (the llm_filter_funnel discipline).
  private def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val words = Text.wordFreq(load(s, dir, "documents"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("word"))))
    val g = words.agg(
      sum(col("cnt")).as("n_total"),
      sum(when(col("rk") <= 10, col("cnt")).otherwise(0L)).as("k10"),
      sum(when(col("rk") <= 100, col("cnt")).otherwise(0L)).as("k100"),
      sum(when(col("rk") <= 1000, col("cnt")).otherwise(0L)).as("k1000"),
      sum(when(col("rk") <= 10000, col("cnt")).otherwise(0L)).as("k10000"))
    g.selectExpr(
      """stack(4,
        |  10,    k10,    n_total,
        |  100,   k100,   n_total,
        |  1000,  k1000,  n_total,
        |  10000, k10000, n_total) AS (k, n_covered, n_total)""".stripMargin)
      .select(col("k").cast("int").as("k"),
        col("n_covered").cast("bigint").as("n_covered"),
        col("n_total").cast("bigint").as("n_total"),
        round(col("n_covered").cast("double") / col("n_total").cast("double"), 6)
          .as("coverage"))
      .orderBy("k")
  }

  private val coverageOracle =
    """WITH wc AS (
      |  SELECT w, count(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM wc),
      |g AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n_total,
      |    CAST(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT) AS k10,
      |    CAST(sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS BIGINT) AS k100,
      |    CAST(sum(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS BIGINT) AS k1000,
      |    CAST(sum(CASE WHEN rk <= 10000 THEN c ELSE 0 END) AS BIGINT) AS k10000
      |  FROM r)
      |SELECT k, n_covered, n_total,
      |  round(CAST(n_covered AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS coverage
      |FROM (
      |  SELECT CAST(10 AS INT) AS k, k10 AS n_covered, n_total FROM g
      |  UNION ALL SELECT CAST(100 AS INT), k100, n_total FROM g
      |  UNION ALL SELECT CAST(1000 AS INT), k1000, n_total FROM g
      |  UNION ALL SELECT CAST(10000 AS INT), k10000, n_total FROM g)
      |ORDER BY k""".stripMargin

  // ---- llm_word_pmi ------------------------------------------------
  // Pointwise mutual information of adjacent token pairs (min count
  // 5), top-20 — the classic collocation statistic:
  // pmi = ln((c_xy/N_bi) / ((c_x/N_uni)·(c_y/N_uni))). Unigram and
  // bigram tables are vocabulary-sized and broadcast; the constants
  // fold in as a 1-row crossJoin. The shared formula text keeps both
  // engines on byte-identical arithmetic; ordering is by the ROUNDED
  // score (then the pair), so the 6-dp surface is also the sort key
  // — no unrounded-tie hazard.
  private val pmiTerm =
    "ln((CAST(cxy AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
      "((CAST(cx AS DOUBLE) / CAST(nu AS DOUBLE)) * " +
      "(CAST(cy AS DOUBLE) / CAST(nu AS DOUBLE))))"

  private def wordPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(col("doc_id"), Text.tokens.as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cx"))
    val bi = toks
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2, 1), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    val consts = broadcast(uni.agg(sum(col("cx")).as("nu")).crossJoin(
      toks.select((size(col("t")) - 1).as("nb1"))
        .agg(sum(col("nb1")).as("nb"))))
    bi.join(broadcast(uni), col("w1") === col("w"))
      .drop("w")
      .join(broadcast(uni.withColumnRenamed("cx", "cy")), col("w2") === col("w"))
      .drop("w")
      .crossJoin(consts)
      .select(col("w1"), col("w2"), col("cxy"),
        round(expr(pmiTerm), 6).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(20)
  }

  private val pmiOracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |uni AS (
       |  SELECT w, count(*) AS cx
       |  FROM (SELECT unnest(t) AS w FROM t) GROUP BY w),
       |bi AS (
       |  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2,
       |    count(*) AS cxy
       |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t WHERE len(t) >= 2)
       |  GROUP BY w1, w2
       |  HAVING count(*) >= 5),
       |c AS (
       |  SELECT CAST(sum(cx) AS BIGINT) AS nu,
       |    (SELECT CAST(sum(len(t) - 1) AS BIGINT) FROM t) AS nb
       |  FROM uni)
       |SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy, round($pmiTerm, 6) AS pmi
       |FROM bi
       |JOIN uni u1 ON bi.w1 = u1.w
       |JOIN (SELECT w, cx AS cy FROM uni) u2 ON bi.w2 = u2.w
       |CROSS JOIN c
       |ORDER BY pmi DESC, w1, w2
       |LIMIT 20""".stripMargin

  // ---- llm_source_overlap ------------------------------------------
  // Cross-source contamination matrix: 3-token-shingle Jaccard
  // between every source pair — the audit that finds which crawl
  // sources are re-serving each other's content. Distinct
  // (source, shingle-hash) pairs shuffle ONCE on the hash; the
  // candidate join is keyed on the hash with per-key fan-out bounded
  // by |sources| (the llm_dedup_ngram blocking discipline — never
  // all-pairs over documents); per-source distinct counts broadcast
  // into the final |sources|² matrix, completed with zero rows by a
  // tiny source×source cross join.
  private def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val grams = load(s, dir, "documents")
      .select(col("source"), Text.tokens.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(t) - 3, 1), " +
          "i -> md5(array_join(slice(t, i + 1, 3), ' ')))")).as("h"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = grams.as("a").join(grams.as("b"), Seq("h"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.select(col("source").as("src_a"), col("n").as("na"))
      .crossJoin(sizes.select(col("source").as("src_b"), col("n").as("nb")))
      .filter(col("src_a") < col("src_b"))
    pairs.join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L)))
            .cast("double"), 6).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  private val overlapOracle =
    """WITH g AS (
      |  SELECT DISTINCT source,
      |    md5(array_to_string(
      |      list_slice(t, CAST(i AS INT), CAST(i AS INT) + 2), ' ')) AS h
      |  FROM (SELECT source, t, unnest(range(1, len(t) - 1)) AS i
      |        FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
      |        WHERE len(t) >= 3)),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(count(*) AS BIGINT) AS n_inter
      |  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT p.src_a, p.src_b,
      |  coalesce(n_inter, 0) AS n_inter,
      |  round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
      |    CAST(p.na + p.nb - coalesce(n_inter, 0) AS DOUBLE), 6) AS jaccard
      |FROM (
      |  SELECT a.source AS src_a, b.source AS src_b, a.n AS na, b.n AS nb
      |  FROM sz a CROSS JOIN sz b WHERE a.source < b.source) p
      |LEFT JOIN inter ON p.src_a = inter.src_a AND p.src_b = inter.src_b
      |ORDER BY p.src_a, p.src_b""".stripMargin

  // ---- llm_bigram_cond_entropy -------------------------------------
  // Corpus bigram conditional entropy H(W₂|W₁) — the predictability
  // number a tokenization/perplexity budget is sanity-checked
  // against — via the exact-count identity
  //   H = (Σ_x c_x·ln c_x − Σ_xy c_xy·ln c_xy) / N
  // (c_x = left-margin count Σ_y c_xy, N = total bigrams). One
  // token-stream aggregate to the bigram table, a map-side re-agg to
  // the margin, then two scalar Σc·ln c sums — the llm_token_entropy
  // discipline: ln terms are identical-input libm calls and the
  // parallel-sum accumulation drift (~1e-13 relative) is absorbed by
  // 6-dp rounding.
  private def bigramCondEntropy(s: SparkSession, dir: String): DataFrame = {
    val bi = load(s, dir, "documents")
      .select(Text.tokens.as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2, 1), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("p"))
      .groupBy(col("p.w1"), col("p.w2")).agg(count(lit(1)).as("cxy"))
    val joint = bi.agg(
      sum(col("cxy")).as("n"),
      count(lit(1)).as("n_pairs"),
      sum(col("cxy").cast("double") * log(col("cxy").cast("double"))).as("sj"))
    val margin = bi.groupBy(col("w1")).agg(sum(col("cxy")).as("cx"))
      .agg(count(lit(1)).as("n_w1"),
        sum(col("cx").cast("double") * log(col("cx").cast("double"))).as("sm"))
    joint.crossJoin(margin)
      .select(col("n").cast("bigint").as("n_bigrams"),
        col("n_pairs").cast("bigint").as("n_pairs"),
        col("n_w1").cast("bigint").as("n_w1"),
        round((col("sm") - col("sj")) / col("n").cast("double"), 6)
          .as("cond_entropy"))
  }

  private val condEntropyOracle =
    """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
      |bi AS (
      |  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2,
      |    count(*) AS cxy
      |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t WHERE len(t) >= 2)
      |  GROUP BY w1, w2),
      |j AS (
      |  SELECT CAST(sum(cxy) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(CAST(cxy AS DOUBLE) * ln(CAST(cxy AS DOUBLE))) AS sj
      |  FROM bi),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_w1,
      |    sum(CAST(cx AS DOUBLE) * ln(CAST(cx AS DOUBLE))) AS sm
      |  FROM (SELECT w1, sum(cxy) AS cx FROM bi GROUP BY w1))
      |SELECT n AS n_bigrams, n_pairs, n_w1,
      |  round((sm - sj) / CAST(n AS DOUBLE), 6) AS cond_entropy
      |FROM j CROSS JOIN m""".stripMargin

  // ---- llm_vocab_coverage_curve ------------------------------------
  // Fraction of all token occurrences covered by the top-k vocabulary
  // entries (k = 10/100/1000) — the tokenizer-budget planning curve.
  // Rank and cumulative sums run over the VOCABULARY (Heaps-sublinear
  // in corpus size), not the token stream; ties rank by (count DESC,
  // token) so the curve is deterministic.
  private def vocabCoverageCurve(s: SparkSession, dir: String): DataFrame = {
    val freq = Text.wordFreq(load(s, dir, "documents"))
      .filter(col("word") =!= "")
    val w = Window.orderBy(col("cnt").desc, col("word"))
    val tot = freq.agg(sum(col("cnt")).as("total"))
    freq
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rnk").isin(10, 100, 1000))
      .crossJoin(broadcast(tot))
      .select(col("rnk").cast("long").as("top_k"),
        col("cum").as("covered_tokens"),
        round(col("cum").cast("double") / col("total").cast("double"), 6)
          .as("coverage"))
      .orderBy("top_k")
  }

  private val vocabCoverageCurveOracle =
    """WITH f AS (
      |  SELECT tok, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY tok),
      |r AS (
      |  SELECT cnt,
      |    row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
      |    sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING)
      |      AS cum
      |  FROM f),
      |t AS (SELECT sum(cnt) AS total FROM f)
      |SELECT CAST(rnk AS BIGINT) AS top_k,
      |  CAST(cum AS BIGINT) AS covered_tokens,
      |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
      |FROM r CROSS JOIN t
      |WHERE rnk IN (10, 100, 1000)
      |ORDER BY top_k""".stripMargin

  // ---- llm_burstiness ----------------------------------------------
  // Per-document term burstiness: population variance-to-mean ratio
  // of the document's term-frequency vector. VMR ≈ 1 is Poisson-like
  // prose; VMR ≫ 1 marks bursty/repetitive docs that length or
  // distinct-ratio gates miss. Moments are exact: k types, Σc, Σc²
  // — VMR = (Σc²/k − (Σc/k)²)/(Σc/k) as one shared-text double
  // expression.
  private val vmrTerm =
    "round((CAST(scc AS DOUBLE) / CAST(k AS DOUBLE) - " +
      "(CAST(sc AS DOUBLE) / CAST(k AS DOUBLE)) * " +
      "(CAST(sc AS DOUBLE) / CAST(k AS DOUBLE))) / " +
      "(CAST(sc AS DOUBLE) / CAST(k AS DOUBLE)), 6)"

  private def burstiness(s: SparkSession, dir: String): DataFrame =
    Text.wordFreq(load(s, dir, "documents"), "doc_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("k"), sum(col("cnt")).as("sc"),
        sum(col("cnt") * col("cnt")).as("scc"))
      .select(col("doc_id"), col("sc").cast("bigint").as("n_tokens"),
        col("k").cast("bigint").as("n_types"), expr(vmrTerm).as("vmr"))
      .orderBy("doc_id")

  private val burstinessOracle =
    s"""WITH tc AS (
       |  SELECT doc_id, w, count(*) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  GROUP BY doc_id, w),
       |m AS (
       |  SELECT doc_id, count(*) AS k, sum(c) AS sc, sum(c * c) AS scc
       |  FROM tc GROUP BY doc_id)
       |SELECT doc_id, CAST(sc AS BIGINT) AS n_tokens,
       |  CAST(k AS BIGINT) AS n_types, $vmrTerm AS vmr
       |FROM m ORDER BY doc_id""".stripMargin

  // ---- llm_kl_divergence -------------------------------------------
  // Per-source KL(source ‖ corpus) over the unigram distribution,
  // Laplace-smoothed on the source side (the corpus side is positive
  // for every vocab word by construction): the contamination audit
  // that ranks crawl sources by distribution shift. The sum runs
  // over the full |sources|×|vocab| grid — zero-count source words
  // still contribute smoothed mass — built as a tiny sources×vocab
  // cross join LEFT JOIN the per-(source,word) counts.
  private val klTerm =
    "((CAST(csw AS DOUBLE) + 1.0) / (CAST(ns AS DOUBLE) + CAST(v AS DOUBLE))) * " +
      "ln(((CAST(csw AS DOUBLE) + 1.0) / (CAST(ns AS DOUBLE) + CAST(v AS DOUBLE))) / " +
      "(CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)))"

  private def klDivergence(s: SparkSession, dir: String): DataFrame = {
    val sw = Text.wordFreq(load(s, dir, "documents"), "source")
      .withColumnRenamed("cnt", "csw")
    val vocab = sw.groupBy("word").agg(sum(col("csw")).as("cw"))
    val srcs = sw.groupBy("source").agg(sum(col("csw")).as("ns"))
    val consts = broadcast(
      vocab.agg(count(lit(1)).as("v"), sum(col("cw")).as("n")))
    broadcast(srcs).crossJoin(vocab)
      .join(sw, Seq("source", "word"), "left")
      .na.fill(0L, Seq("csw"))
      .crossJoin(consts)
      .groupBy(col("source"), col("ns"))
      .agg(round(sum(expr(klTerm)), 6).as("kl"))
      .select(col("source"), col("ns").cast("bigint").as("n_tokens"), col("kl"))
      .orderBy("source")
  }

  private val klOracle =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |sw AS (SELECT source, w, count(*) AS csw FROM tok GROUP BY source, w),
       |vocab AS (SELECT w, sum(csw) AS cw FROM sw GROUP BY w),
       |srcs AS (SELECT source, sum(csw) AS ns FROM sw GROUP BY source),
       |c AS (SELECT count(*) AS v, sum(cw) AS n FROM vocab),
       |grid AS (
       |  SELECT srcs.source, srcs.ns, vocab.w, vocab.cw,
       |    coalesce(sw.csw, 0) AS csw
       |  FROM srcs CROSS JOIN vocab
       |  LEFT JOIN sw ON sw.source = srcs.source AND sw.w = vocab.w)
       |SELECT source, CAST(ns AS BIGINT) AS n_tokens,
       |  round(sum($klTerm), 6) AS kl
       |FROM grid CROSS JOIN c
       |GROUP BY source, ns ORDER BY source""".stripMargin

  // ---- llm_heaps_fit -----------------------------------------------
  // Heaps' law V(N) = k·N^β: vocabulary size against corpus token
  // count, measured at 20 log-spaced doc-id prefixes of the corpus
  // (ingestion order). Each word contributes to the first prefix
  // containing its first-appearance doc; each doc's tokens to the
  // first prefix containing it; both cumulate over the 20-row prefix
  // table. β and k come from the explicit least-squares sums over
  // (ln N, ln V) — the agg_regression discipline.
  private def heapsFit(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), Text.tokens.as("t"))
    val bounds = broadcast(docs.agg(
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")))
    // cutoff_j = lo + (hi-lo)·j³/8000, j = 1..20 — cubic spacing gives
    // the log-like early density a Heaps fit needs while staying in
    // EXACT integer arithmetic (a pow()-based cut could differ by one
    // ulp between libm implementations and truncate to different ids)
    val cuts = bounds.select(explode(expr(
      """transform(sequence(1, 20), j ->
        |  lo + ((hi - lo) * CAST(j AS BIGINT) * CAST(j AS BIGINT) *
        |        CAST(j AS BIGINT)) div 8000)""".stripMargin)).as("cut"))
      .distinct()
    val firstSeen = docs
      .select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
    // per cutoff: V = words first seen at-or-before it, N = tokens in docs
    // at-or-before it. Both via a tiny broadcast theta-join on ≤20 rows.
    val v = firstSeen.join(broadcast(cuts), col("first_doc") <= col("cut"))
      .groupBy(col("cut")).agg(count(lit(1)).as("v"))
    val n = docs.select(col("doc_id"), size(col("t")).cast("bigint").as("toks"))
      .join(broadcast(cuts), col("doc_id") <= col("cut"))
      .groupBy(col("cut")).agg(sum(col("toks")).cast("bigint").as("n"))
    val pts = v.join(n, "cut")
      .select(log(col("n").cast("double")).as("x"),
        log(col("v").cast("double")).as("y"))
    pts.agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"))
      .selectExpr("n_points",
        """round((CAST(n_points AS DOUBLE) * sxy - sx * sy) /
          |      (CAST(n_points AS DOUBLE) * sx2 - sx * sx), 6) AS beta""".stripMargin,
        """round(exp((sy - ((CAST(n_points AS DOUBLE) * sxy - sx * sy) /
          |             (CAST(n_points AS DOUBLE) * sx2 - sx * sx)) * sx) /
          |       CAST(n_points AS DOUBLE)), 6) AS k""".stripMargin)
  }

  private val heapsFitOracle =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bounds AS (
      |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM docs),
      |cuts AS (
      |  SELECT DISTINCT lo + ((hi - lo) * j * j * j) // 8000 AS cut
      |  FROM bounds, (SELECT unnest(range(1, 21)) AS j)),
      |first_seen AS (
      |  SELECT w, min(doc_id) AS first_doc
      |  FROM (SELECT doc_id, unnest(t) AS w FROM docs) GROUP BY w),
      |v AS (
      |  SELECT cut, CAST(count(*) AS BIGINT) AS v
      |  FROM cuts JOIN first_seen ON first_doc <= cut GROUP BY cut),
      |n AS (
      |  SELECT cut, CAST(sum(len(t)) AS BIGINT) AS n
      |  FROM cuts JOIN docs ON doc_id <= cut GROUP BY cut),
      |pts AS (
      |  SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
      |  FROM v JOIN n USING (cut)),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_points,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sx2
      |  FROM pts)
      |SELECT n_points,
      |  round((CAST(n_points AS DOUBLE) * sxy - sx * sy) /
      |        (CAST(n_points AS DOUBLE) * sx2 - sx * sx), 6) AS beta,
      |  round(exp((sy - ((CAST(n_points AS DOUBLE) * sxy - sx * sy) /
      |               (CAST(n_points AS DOUBLE) * sx2 - sx * sx)) * sx) /
      |         CAST(n_points AS DOUBLE)), 6) AS k
      |FROM sums""".stripMargin

  // ---- llm_zipf_fit ------------------------------------------------
  // ln f ~ −α·ln r least squares over the top-1024 token ranks — the
  // twin of llm_heaps_fit (vocabulary GROWTH vs corpus size; this is
  // vocabulary CONCENTRATION vs rank), and the number a
  // tokenizer/sampling design reads first (how head-heavy is the
  // distribution BPE will spend its merges on). Deterministic rank
  // tiebreak (frequency DESC, token ASC); the head-rank cap is where
  // the power law lives AND what keeps the fit relation bounded at
  // corpus scale. The synthetic corpus draws from a ~31-word
  // dictionary, so the cap is not binding at test SFs — the
  // operator's contract (top-min(1024, |V|) ranks) is unchanged on a
  // real corpus. The top-1024 selection is an orderBy+limit, which
  // Spark plans as TakeOrderedAndProject (a distributed per-partition
  // top-k plus one 1024-row merge, never a global sort of the
  // vocabulary); the rank window runs on the ≤1024-row result. The
  // OLS runs over ≤1024 (ln r, ln f) points — unordered double sums
  // whose cross-engine drift is ~1e-13 relative, surfaced after the
  // 6-dp floor.
  private val ZfRankCap = 1024L

  // Slope b = (m·Σxy − Σx·Σy)/(m·Σx² − (Σx)²); α = −b; intercept
  // ln c = (Σy − b·Σx)/m, spelled with b inlined so the text is one
  // shared tree.
  private val zfB =
    "((CAST(m AS DOUBLE)*sxy - sx*sy) / nullif(CAST(m AS DOUBLE)*sx2 - sx*sx, 0))"
  private val zfFinal: Seq[String] = Seq(
    "n_vocab", "m AS n_ranks_fit",
    s"floor((-$zfB)*1e6 + 0.5)/1e6 AS zipf_alpha",
    s"floor(((sy - $zfB*sx) / CAST(m AS DOUBLE))*1e6 + 0.5)/1e6 AS ln_c")

  private[graft] def zipfFitOn(docs: DataFrame): DataFrame = {
    val freq = Text.wordFreq(docs)
    val head = freq
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(ZfRankCap.toInt)
      .select(col("cnt"),
        row_number().over(
          Window.orderBy(col("cnt").desc, col("word").asc)).cast("long").as("r"))
    val nv = broadcast(freq.agg(count(lit(1)).as("n_vocab")))
    head
      .select(log(col("r").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      .groupBy()
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"))
      .crossJoin(nv)
      .selectExpr(zfFinal: _*)
  }

  private def zipfFit(s: SparkSession, dir: String): DataFrame =
    zipfFitOn(load(s, dir, "documents"))

  private val zipfFitOracle =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY w),
       |ranked AS (
       |  SELECT f, CAST(row_number() OVER (ORDER BY f DESC, w ASC)
       |    AS BIGINT) AS r
       |  FROM freq),
       |pts AS (
       |  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
       |  FROM ranked WHERE r <= $ZfRankCap),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m, sum(x) AS sx, sum(y) AS sy,
       |    sum(x*y) AS sxy, sum(x*x) AS sx2
       |  FROM pts),
       |v AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM freq)
       |SELECT ${zfFinal.mkString(",\n  ")}
       |FROM g CROSS JOIN v""".stripMargin

  // ---- llm_vocab_overlap_langs -----------------------------------------
  // Cross-language vocabulary Jaccard over the 10 language pairs — how
  // much of the token vocabulary leaks across language labels (near 1
  // ⇒ the `lang` column cannot be trusted to separate training-mix
  // buckets; the corpus-level companion to per-doc llm_lang_id).
  //
  // DISTINCT (lang, token) relation — vocabulary-bounded, not
  // corpus-bounded — then one token-keyed self-join for shared
  // counts; the 10-pair grid comes from the 5-row vocab table so
  // pairs that share nothing still surface with Jaccard 0.
  private[graft] def vocabOverlapOn(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("lang"), explode(Text.tokens).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
      .localCheckpoint()
    val vocab = toks.groupBy(col("lang")).agg(count(lit(1)).as("vocab"))
    val shared = toks.select(col("lang").as("lang_a"), col("tok"))
      .join(toks.select(col("lang").as("lang_b"), col("tok")), "tok")
      .filter(col("lang_a") < col("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("shared"))
    vocab.select(col("lang").as("lang_a"), col("vocab").as("vocab_a"))
      .join(vocab.select(col("lang").as("lang_b"), col("vocab").as("vocab_b")),
        col("lang_a") < col("lang_b"))
      .join(shared, Seq("lang_a", "lang_b"), "left")
      .selectExpr("lang_a", "lang_b", "vocab_a", "vocab_b",
        "coalesce(shared, CAST(0 AS BIGINT)) AS shared",
        """floor((CAST(coalesce(shared, 0) AS DOUBLE)
          | / (vocab_a + vocab_b - coalesce(shared, 0)))*1e6 + 0.5)/1e6
          | AS jaccard""".stripMargin)
      .orderBy("lang_a", "lang_b")
  }

  private def vocabOverlap(s: SparkSession, dir: String): DataFrame =
    vocabOverlapOn(load(s, dir, "documents"))

  private val vocabOverlapOracle =
    """WITH toks AS (
      |  SELECT DISTINCT lang, tok FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)
      |  WHERE tok <> ''),
      |vocab AS (SELECT lang, CAST(count(*) AS BIGINT) AS vocab
      |          FROM toks GROUP BY 1),
      |shared AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b,
      |    CAST(count(*) AS BIGINT) AS shared
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT va.lang AS lang_a, vb.lang AS lang_b,
      |  va.vocab AS vocab_a, vb.vocab AS vocab_b,
      |  CAST(coalesce(shared, 0) AS BIGINT) AS shared,
      |  floor((CAST(coalesce(shared, 0) AS DOUBLE)
      |   / (va.vocab + vb.vocab - coalesce(shared, 0)))*1e6 + 0.5)/1e6
      |   AS jaccard
      |FROM vocab va JOIN vocab vb ON va.lang < vb.lang
      |LEFT JOIN shared ON shared.lang_a = va.lang AND shared.lang_b = vb.lang
      |ORDER BY 1, 2""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_token_entropy" -> (q(entropySql) _),
    "llm_bpe_pair_freq" -> (q(bpeSql) _),
    "llm_vocab_coverage" -> (vocabCoverage _),
    "llm_vocab_coverage_curve" -> (vocabCoverageCurve _),
    "llm_word_pmi" -> (wordPmi _),
    "llm_source_overlap" -> (sourceOverlap _),
    "llm_bigram_cond_entropy" -> (bigramCondEntropy _),
    "llm_burstiness" -> (burstiness _),
    "llm_kl_divergence" -> (klDivergence _),
    "llm_heaps_fit" -> (heapsFit _),
    "llm_zipf_fit" -> (zipfFit _),
    "llm_vocab_overlap_langs" -> (vocabOverlap _)
  )

  val oracle: Map[String, String] = Map(
    "llm_token_entropy" -> entropyOracle,
    "llm_bpe_pair_freq" -> bpeOracle,
    "llm_vocab_coverage" -> coverageOracle,
    "llm_vocab_coverage_curve" -> vocabCoverageCurveOracle,
    "llm_word_pmi" -> pmiOracle,
    "llm_source_overlap" -> overlapOracle,
    "llm_bigram_cond_entropy" -> condEntropyOracle,
    "llm_burstiness" -> burstinessOracle,
    "llm_kl_divergence" -> klOracle,
    "llm_heaps_fit" -> heapsFitOracle,
    "llm_zipf_fit" -> zipfFitOracle,
    "llm_vocab_overlap_langs" -> vocabOverlapOracle
  )
}
