package graft.ops.corpus

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.dedup.{Keys, Shingles}
import graft.util.Tables._

/** Quality filters and scores: the marker-token language guess and its
  * kappa audit, the composite quality score ([[qualityFull]], also the
  * weights of the quality-weighted mixing row), Gopher rules and the
  * filter funnel, repetition, code and readability scores, PII
  * masking, the corpus bigram LM with its cross-entropy and
  * perplexity buckets, benchmark decontamination, template detection
  * and the per-document and per-source n-gram novelty.
  *
  * Scale shapes: the scores are per-row projections over
  * [[Text.tokens]] folded into at most one map-side-combining
  * aggregate; the LM, decontamination and novelty rows explode token
  * n-grams and shuffle once on the gram (the vocabulary-sized LM and
  * the eval gram set broadcast); template detection is two dense_rank
  * hash exchanges.
  *
  * Determinism: feature counts are exact integers; scores are pinned
  * double expressions shared as text with the oracle and 6-dp rounded
  * or floor-formed; the LM's avg(-log2 p) drifts ~1e-14 and is
  * absorbed by the rounding.
  */
object Quality {

  /** Marker-token lists per language (tiny public stopword samples).
    * The corpus' synthetic text shares one vocabulary across langs, so
    * this demonstrates the operator shape (deterministic n-gram
    * scoring + argmax) rather than real classifier accuracy. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "una"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("de5", "shi4", "le0")) // pinyin-style placeholders

  /** The marker scores as oracle CTEs t (distinct tokens per doc) and
    * sc (one s_<lang> count per language) — the [[langGuessed]]
    * scoring, shared by the llm_lang_id and llm_langid_agreement
    * oracles. */
  private val markerScoreCtes =
    """t AS (
      |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS dw
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_intersect(dw, ['the', 'a', 'of'])) AS INT) AS s_en,
      |    CAST(len(list_intersect(dw, ['der', 'und', 'die'])) AS INT) AS s_de,
      |    CAST(len(list_intersect(dw, ['el', 'los', 'una'])) AS INT) AS s_es,
      |    CAST(len(list_intersect(dw, ['le', 'et', 'les'])) AS INT) AS s_fr,
      |    CAST(len(list_intersect(dw, ['de5', 'shi4', 'le0'])) AS INT) AS s_zh
      |  FROM t)""".stripMargin

  /** Marker-scored language guess per doc: (doc_id, lang, s_<lang>…,
    * guessed). Factored from llm_lang_id so llm_langid_agreement
    * scores the SAME detector it audits. */
  private[graft] def langGuessed(s: SparkSession, dir: String): DataFrame = {
    val scored = markers.foldLeft(Text.tokenized(s, dir)) { case (df, (lang, ms)) =>
      df.withColumn(s"s_$lang",
        size(array_intersect(array_distinct(col("w")),
          array(ms.map(lit): _*))))
    }
    val langs = markers.map(_._1)
    val guess = langs.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case (lang, elseCol) =>
        val best = langs.filter(_ != lang)
          .map(o => col(s"s_$lang") >= col(s"s_$o"))
          .reduce(_ && _) && col(s"s_$lang") > 0
        when(best, lang).otherwise(elseCol)
    }
    scored.select(col("doc_id") +: col("lang") +:
      langs.map(l => col(s"s_$l")) :+ guess.as("guessed"): _*)
  }

  /** Composite quality score from token statistics — THE
    * llm_quality_score definition (one deterministic double formula,
    * identical in the oracle), factored so the quality-weighted
    * mixing optimizer reuses the SAME weights. floor(v·10⁶ + 0.5)/10⁶
    * instead of round(v, 6): the ratios are single divisions of exact
    * small ints, so the doubles are bit-identical cross-engine — but
    * Spark's exact-binary HALF_UP and DuckDB's v·10⁶ float rounding
    * split values sitting AT a .5 boundary (the r9 tri-SF straddle);
    * the floor form evaluates identically on both engines. Input
    * needs (doc_id, lang, text); output carries lang through for
    * per-stratum consumers. */
  private[graft] def qualityFull(docs: DataFrame): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    docs
      .select(col("doc_id"), col("lang"), col("text"),
        Text.tokens.as("w"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("w")).as("n_tok"),
        size(array_distinct(col("w"))).as("n_distinct"),
        size(expr(
          "filter(w, t -> array_contains(array('the', 'a', 'of', 'and'), t))"))
          .as("n_stop"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        r6(col("n_distinct").cast("double") / col("n_tok").cast("double"))
          .as("ttr"),
        r6((length(col("text")) - (col("n_tok") - 1)).cast("double") /
          col("n_tok").cast("double")).as("avg_wlen"),
        r6(col("n_stop").cast("double") / col("n_tok").cast("double"))
          .as("stop_ratio"),
        r6(
          (col("n_distinct").cast("double") / col("n_tok").cast("double")) * 0.5 +
            (lit(1.0) - col("n_stop").cast("double") / col("n_tok").cast("double")) * 0.3 +
            least((length(col("text")) - (col("n_tok") - 1)).cast("double") /
              col("n_tok").cast("double") / 10.0, lit(1.0)) * 0.2)
          .as("quality"))
  }

  /** Benchmark decontamination: training docs sharing any word
    * 5-gram with the (deterministic) eval split, with the count of
    * distinct shared grams. The eval gram set is tiny relative to the
    * corpus, so it broadcasts and the training side never shuffles for
    * the membership probe — at 100 TB the same plan holds with the
    * eval set staying dimension-sized (and a bloom over eval grams,
    * as in [[Sampling.seenFilter]], would pre-prune the explode output).
    * 5-grams are materialized from the split array ONCE per doc (no
    * split() inside the lambda — HOF lambdas are interpreted). */
  def decontaminate(docs: DataFrame, isEval: Column): DataFrame = {
    val grams = docs
      .withColumn("is_eval", isEval)
      .withColumn("w", Text.tokens)
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

  /** Repetition scoring: each doc's most frequent word bigram as a
    * share of its total bigrams — the training-data quality signal
    * for boilerplate/spam. Explode → per-(doc, bigram) count →
    * per-doc max/total; everything hash-aggregates on doc_id. */
  def repetitionScore(docs: DataFrame): DataFrame = {
    val bigrams = docs
      .withColumn("w", Text.tokens)
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

  /** Word-bigram pairs (doc_id, w1, w2) of any (doc_id, text)
    * relation. The token array is materialized ONCE per doc (HOF
    * lambdas are interpreted — split() must not be inlined). Shared
    * by the LM estimate and the LM-scoring operators. */
  private[graft] def bigramPairs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(w) - 2),
          |  i -> struct(element_at(w, i + 1) AS w1,
          |              element_at(w, i + 2) AS w2))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Corpus bigram LM: (w1, w2, c12, prob = c12 / c(w1 ·)) from exact
    * integer counts. Both aggregates hash-partition on the leading
    * word. SINGLE definition — `llm_ngram_lm`, `llm_lm_score`, and
    * the facade all derive from it. */
  private[graft] def bigramLm(docs: DataFrame): DataFrame = {
    val pairs = bigramPairs(docs)
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    c12.join(broadcast(c1), "w1")
      .select(col("w1"), col("w2"), col("c12"),
        (col("c12").cast("double") / col("c1")).as("prob"))
  }

  /** Per-doc cross-entropy under the corpus's own bigram LM: the
    * vocabulary-sized LM broadcasts, doc bigrams join it without
    * shuffling, one hash-agg per doc. */
  private[graft] def lmScore(docs: DataFrame): DataFrame =
    bigramPairs(docs)
      .join(broadcast(bigramLm(docs).select("w1", "w2", "prob")),
        Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2(col("prob"))), 6).as("xent"))

  // ---- llm_filter_funnel -------------------------------------------
  // The quality-filter attrition report: four sequential gates
  // (length band, minimum tokens, distinct-token ratio, mean token
  // length — the Gopher/C4 filter family) with per-stage survivor
  // counts and keep rates. ONE corpus scan: all four cumulative
  // survivor counts aggregate in a single map-side-combining pass
  // (conditional sums over per-doc flags), then `stack` unpivots the
  // 1-row aggregate into the 4-stage report — the agg_corr_matrix
  // single-pass discipline (a per-stage UNION would re-scan the
  // corpus per gate). Gate ratios divide exact integers, so the
  // boundary compares are engine-stable.
  private def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("n_chars"),
        Text.nTokens.as("n_tok"),
        (size(array_distinct(Text.tokens)).cast("double") /
          Text.nTokens.cast("double")).as("dr"),
        ((length(col("text")).cast("double") -
          (Text.nTokens - 1).cast("double")) /
          Text.nTokens.cast("double")).as("mtl"))
    val g = d.agg(
      count(lit(1)).as("c0"),
      sum(when(col("n_chars").between(100, 500), 1).otherwise(0)).as("c1"),
      sum(when(col("n_chars").between(100, 500) &&
        col("n_tok") >= 25, 1).otherwise(0)).as("c2"),
      sum(when(col("n_chars").between(100, 500) && col("n_tok") >= 25 &&
        col("dr") >= 0.35, 1).otherwise(0)).as("c3"),
      sum(when(col("n_chars").between(100, 500) && col("n_tok") >= 25 &&
        col("dr") >= 0.35 && col("mtl") <= 5.0, 1).otherwise(0)).as("c4"))
    g.selectExpr(
      """stack(4,
        |  1, 'len_100_500',       c0, c1,
        |  2, 'min_25_tokens',     c1, c2,
        |  3, 'distinct_ratio_35', c2, c3,
        |  4, 'mean_tok_len_5',    c3, c4) AS (stage, gate, n_in, n_out)""".stripMargin)
      .select(col("stage").cast("int").as("stage"), col("gate"),
        col("n_in").cast("bigint").as("n_in"),
        col("n_out").cast("bigint").as("n_out"),
        round(col("n_out").cast("double") / col("n_in").cast("double"), 6)
          .as("keep_rate"))
      .orderBy("stage")
  }

  private val funnelOracle =
    """WITH d AS (
      |  SELECT n_chars, len(string_split(text, ' ')) AS n_tok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
      |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS dr,
      |    (CAST(length(text) AS DOUBLE) -
      |      CAST(len(string_split(text, ' ')) - 1 AS DOUBLE)) /
      |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl
      |  FROM documents),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 500 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 500 AND n_tok >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |    CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 500 AND n_tok >= 25 AND dr >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
      |    CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 500 AND n_tok >= 25 AND dr >= 0.35 AND mtl <= 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS c4
      |  FROM d)
      |SELECT stage, gate, n_in, n_out,
      |  round(CAST(n_out AS DOUBLE) / CAST(n_in AS DOUBLE), 6) AS keep_rate
      |FROM (
      |  SELECT CAST(1 AS INT) AS stage, 'len_100_500' AS gate, c0 AS n_in, c1 AS n_out FROM g
      |  UNION ALL
      |  SELECT CAST(2 AS INT), 'min_25_tokens', c1, c2 FROM g
      |  UNION ALL
      |  SELECT CAST(3 AS INT), 'distinct_ratio_35', c2, c3 FROM g
      |  UNION ALL
      |  SELECT CAST(4 AS INT), 'mean_tok_len_5', c3, c4 FROM g)
      |ORDER BY stage""".stripMargin

  // ---- llm_ngram_novelty -------------------------------------------
  /** Per document: the fraction of its 3-token spans whose FIRST
    * corpus appearance (min doc_id over the span hash) is this
    * document — the novelty/derivativeness curve used to audit
    * corpus growth (a crawl snapshot whose new docs have near-zero
    * novelty is re-crawling what it already has). One shuffle on the
    * span md5; the first-appearance doc is a plain window min
    * (sort-free frame, no per-row set materialization), then a
    * per-doc hash aggregate. The [[graft.Graft.ngramNovelty]]
    * facade surface. */
  private[graft] def ngramNovelties(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"ngramNovelties: span width $n must be >= 2")
    val grams = docs
      .withColumn("t", Text.tokensOf(textCol))
      .filter(size(col("t")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(t) - $n, 1), i -> md5(array_join(slice(t, i + 1, $n), ' ')))"
      )).as("h"))
    grams
      .withColumn("mn", min(col(idCol)).over(Window.partitionBy("h")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        round(sum(when(col("mn") === col(idCol), 1).otherwise(0)).cast("double") /
          count(lit(1)).cast("double"), 6).as("novelty"))
  }

  private def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNovelties(load(s, dir, "documents"), "doc_id", "text", n = 3)
      .orderBy("doc_id")

  private val noveltyOracle =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |x AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i AS INT) + 2), ' ')) AS h
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      |        FROM s WHERE len(t) >= 3)),
      |m AS (SELECT h, min(doc_id) AS mn FROM x GROUP BY h)
      |SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
      |  round(CAST(sum(CASE WHEN m.mn = x.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE), 6) AS novelty
      |FROM x JOIN m USING (h)
      |GROUP BY x.doc_id ORDER BY x.doc_id""".stripMargin

  // ---- llm_code_detect ---------------------------------------------
  // score = 100·(code symbols / chars) + 5·(distinct code keywords
  // present); flagged at score ≥ 5. Symbols counted by one regex
  // class, keywords by position probes — both dialect-portable.
  private val codeKeywords = Seq("def ", "return", "import ", "void ",
    "function ", "class ")

  private def codeDetect(s: SparkSession, dir: String): DataFrame = {
    val kwHits = codeKeywords
      .map(k => when(instr(col("text"), k) > 0, 1).otherwise(0))
      .reduce(_ + _)
    load(s, dir, "documents")
      .select(col("source"),
        (lit(100.0) * regexp_count(col("text"), lit("[{}();=<>\\[\\]]"))
            .cast("double") /
          greatest(lit(1L), length(col("text"))).cast("double") +
          lit(5.0) * kwHits.cast("double")).as("score"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 5.0, 1L).otherwise(0L)).cast("bigint")
          .as("n_code"),
        round(avg(col("score")), 6).as("avg_score"))
      .orderBy("source")
  }

  private val codeDetectOracle = {
    val kw = codeKeywords
      .map(k => s"CAST(instr(text, '$k') > 0 AS INT)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT source,
       |    100.0 * CAST(len(regexp_extract_all(text, '[{}();=<>\\[\\]]')) AS DOUBLE) /
       |      CAST(greatest(1, length(text)) AS DOUBLE) +
       |      5.0 * CAST($kw AS DOUBLE) AS score
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN score >= 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
       |  round(avg(score), 6) AS avg_score
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- llm_readability ---------------------------------------------
  // Flesch reading ease and Flesch–Kincaid grade per source, with
  // syllables approximated by vowel-group runs (the standard
  // dictionary-free estimate) and sentence count clamped ≥ 1.
  private def readability(s: SparkSession, dir: String): DataFrame = {
    val words = Text.nTokens.cast("double")
    val sents = greatest(lit(1), regexp_count(col("text"), lit("[.!?]")))
      .cast("double")
    val syl = greatest(lit(1),
      regexp_count(col("text"), lit("[aeiouyAEIOUY]+"))).cast("double")
    load(s, dir, "documents")
      .select(col("source"),
        (lit(206.835) - lit(1.015) * (words / sents) -
          lit(84.6) * (syl / words)).as("fre"),
        (lit(0.39) * (words / sents) + lit(11.8) * (syl / words) -
          lit(15.59)).as("fk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("fre")), 6).as("avg_reading_ease"),
        round(avg(col("fk")), 6).as("avg_fk_grade"))
      .orderBy("source")
  }

  private val readabilityOracle =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
      |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]'))) AS DOUBLE)
      |      AS sents,
      |    CAST(greatest(1, len(regexp_extract_all(text, '[aeiouyAEIOUY]+')))
      |      AS DOUBLE) AS syl
      |  FROM documents),
      |f AS (
      |  SELECT source,
      |    206.835 - 1.015 * (w / sents) - 84.6 * (syl / w) AS fre,
      |    0.39 * (w / sents) + 11.8 * (syl / w) - 15.59 AS fk
      |  FROM d)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(fre), 6) AS avg_reading_ease,
      |  round(avg(fk), 6) AS avg_fk_grade
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---- llm_template_detect -----------------------------------------
  // Templated-document detection: a doc is "templated" when BOTH its
  // 30-word opening and its 30-word closing are shared with at least
  // one other document — the boilerplate-page signature (shared
  // greeting + shared footer). Two dense_rank hash exchanges
  // ([[Keys.sharedKeyFlag]] on the opening [[Keys.prefixHash]] and on
  // the closing hash), combined per doc, surfaced per source.
  private def templateDetect(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .withColumn("t", Text.tokens)
      .filter(size(col("t")) >= 60)
      .select(col("doc_id"), col("source"),
        Keys.prefixHash(col("t"), 30).as("ph"),
        md5(expr("array_join(slice(t, -30, 30), ' ')")).as("sh"))
    Keys.sharedKeyFlag(Keys.sharedKeyFlag(d, "ph", "pdup"), "sh", "sdup")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pdup") && col("sdup"), 1L).otherwise(0L))
          .as("n_templated"),
        round(sum(when(col("pdup") && col("sdup"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("template_rate"))
      .orderBy("source")
  }

  private val templateDetectOracle =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(list_slice(w, 1, 30), ' ')) AS ph,
      |    md5(array_to_string(list_slice(w, len(w) - 29, len(w)), ' '))
      |      AS sh
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 60),
      |pd AS (SELECT ph FROM d GROUP BY ph
      |       HAVING count(DISTINCT doc_id) >= 2),
      |sd AS (SELECT sh FROM d GROUP BY sh
      |       HAVING count(DISTINCT doc_id) >= 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN pd.ph IS NOT NULL AND sd.sh IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_templated,
      |  round(CAST(sum(CASE WHEN pd.ph IS NOT NULL AND sd.sh IS NOT NULL
      |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS template_rate
      |FROM d LEFT JOIN pd ON d.ph = pd.ph LEFT JOIN sd ON d.sh = sd.sh
      |GROUP BY source ORDER BY source""".stripMargin

  // ---- llm_langid_agreement --------------------------------------------
  // Cohen's-kappa audit of the llm_lang_id marker detector against the
  // gold `lang` label — chance-corrected agreement from the confusion
  // marginals, the label-QA number behind every auto-labeling pipeline
  // decision (accuracy alone flatters majority-class guessers). The doc
  // table reduces to two ≤6-row marginal relations before any cross
  // math.
  //
  // kappa = (po − pe)/(1 − pe) with po = agree/n and pe = S/n², where
  // S = Σ_c gold_c·guess_c is the integer chance mass over the class
  // alphabet. Assembled as (n·agree − S)/(n² − S): every input is an
  // exact integer < 2^53, so the one double expression is
  // bit-identical cross-engine; nullif guards the degenerate pe = 1.
  private[graft] def kappaOn(lab: DataFrame): DataFrame = {
    val g = lab.groupBy(col("gold").as("c")).agg(count(lit(1)).as("gc"))
    val h = lab.groupBy(col("guessed").as("c")).agg(count(lit(1)).as("hc"))
    val chance = g.join(h, "c")
      .agg(coalesce(sum(col("gc") * col("hc")), lit(0L)).as("chance_mass"))
    lab.agg(count(lit(1)).as("n_docs"),
        sum(when(col("gold") === col("guessed"), 1L).otherwise(0L)).as("n_agree"))
      .crossJoin(broadcast(chance))
      .selectExpr("n_docs", "n_agree", "chance_mass",
        "floor((CAST(n_agree AS DOUBLE)/n_docs)*1e6 + 0.5)/1e6 AS accuracy",
        """floor(((CAST(n_docs AS DOUBLE)*n_agree - chance_mass)
          | / nullif(CAST(n_docs AS DOUBLE)*n_docs - chance_mass, 0))*1e6
          | + 0.5)/1e6 AS kappa""".stripMargin)
  }

  private def langidAgreement(s: SparkSession, dir: String): DataFrame =
    kappaOn(langGuessed(s, dir)
      .select(col("lang").as("gold"), col("guessed")))

  private val langidAgreementOracle =
    s"""WITH $markerScoreCtes,
      |lab AS (
      |  SELECT lang AS gold,
      |    CASE
      |      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
      |      WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
      |      WHEN s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
      |      WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
      |      WHEN s_zh > 0 THEN 'zh'
      |      ELSE 'und' END AS guessed
      |  FROM sc),
      |g AS (SELECT gold AS c, CAST(count(*) AS BIGINT) AS gc
      |      FROM lab GROUP BY 1),
      |h AS (SELECT guessed AS c, CAST(count(*) AS BIGINT) AS hc
      |      FROM lab GROUP BY 1),
      |s AS (SELECT CAST(coalesce(sum(gc*hc), 0) AS BIGINT) AS chance_mass
      |      FROM g JOIN h USING (c)),
      |b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(CASE WHEN gold = guessed THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_agree
      |      FROM lab)
      |SELECT n_docs, n_agree, chance_mass,
      |  floor((CAST(n_agree AS DOUBLE)/n_docs)*1e6 + 0.5)/1e6 AS accuracy,
      |  floor(((CAST(n_docs AS DOUBLE)*n_agree - chance_mass)
      |   / nullif(CAST(n_docs AS DOUBLE)*n_docs - chance_mass, 0))*1e6
      |   + 0.5)/1e6 AS kappa
      |FROM b CROSS JOIN s""".stripMargin

  // ---- llm_source_novelty ------------------------------------------
  // Per-source mean fraction of each document's distinct 3-token
  // shingles NOT seen in any earlier document (owner = min doc_id per
  // shingle) — the marginal-novelty curve a dedup pipeline reads to
  // find diminishing returns (what fraction of each new crawl slice is
  // actually new text). One shuffle on the shingle assigns owners;
  // novel counts fall out of a groupBy on the owner (every shingle
  // contributes exactly one novelty to its first document) — never a
  // postings re-join; per-doc novelty floors at 1e-6 and the
  // per-source mean divides the exact micro-unit sum (nDCG summary
  // discipline). Docs under 3 tokens have no shingle set and are
  // excluded.

  private[graft] def ngramNoveltyOn(docs: DataFrame): DataFrame =
    ngramNoveltyOnGrams(Shingles.grams(docs), docs)

  private[graft] def ngramNoveltyOnGrams(grams: DataFrame,
      docs: DataFrame): DataFrame = {
    // parquet-backed grams (the r18 DiskMemo view) is already
    // materialized; the checkpoint still pins one in-memory copy for
    // the two aggregate consumers below (owners + totals).
    val g = grams.localCheckpoint()
    val owners = g.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    noveltyTail(
      owners.groupBy(col("doc_id")).agg(count(lit(1)).as("nv")),
      g.groupBy(col("doc_id")).agg(count(lit(1)).as("tg")), docs)
  }

  private def noveltyTail(novel: DataFrame, totals: DataFrame,
      docs: DataFrame): DataFrame = {
    val perDoc = totals.join(novel, Seq("doc_id"), "left")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .selectExpr("source",
        """floor((CAST(coalesce(nv, 0) AS DOUBLE) / CAST(tg AS DOUBLE))
          |  *1e6 + 0.5)/1e6 AS novelty""".stripMargin)
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(floor(novelty*1e6 + 0.5) AS BIGINT)")).as("snm"))
      .selectExpr("source", "n_docs",
        "floor(CAST(snm AS DOUBLE)/n_docs + 0.5)/1e6 AS mean_novelty")
      .orderBy("source")
  }

  // r19: the per-shingle owner (min doc_id) is element 1 of the
  // SORTED posting array, so the corpus path reads the shared
  // postings view and skips the h-keyed owner aggregate + the grams
  // checkpoint entirely; per-doc totals still come off the flat gram
  // view (one doc-keyed exchange — unavoidable). Values identical:
  // ds is the distinct doc set per h, sorted ascending.
  private def sourceNovelty(s: SparkSession, dir: String): DataFrame =
    noveltyTail(
      Shingles.sharedPostings(s, dir)
        .select(element_at(col("ds"), 1).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nv")),
      Shingles.sharedGrams(s, dir)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tg")),
      load(s, dir, "documents"))

  private val sourceNoveltyOracle =
    s"""WITH ${Shingles.gramsCte},
      |owners AS (SELECT h, min(doc_id) AS doc_id FROM grams GROUP BY h),
      |novel AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nv
      |  FROM owners GROUP BY 1),
      |totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tg
      |  FROM grams GROUP BY 1),
      |perdoc AS (
      |  SELECT d.source,
      |    floor((CAST(coalesce(nv, 0) AS DOUBLE) / CAST(tg AS DOUBLE))
      |      *1e6 + 0.5)/1e6 AS novelty
      |  FROM totals t LEFT JOIN novel n ON t.doc_id = n.doc_id
      |  JOIN documents d ON t.doc_id = d.doc_id)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  floor(CAST(sum(CAST(floor(novelty*1e6 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / count(*) + 0.5)/1e6 AS mean_novelty
      |FROM perdoc GROUP BY source
      |ORDER BY source""".stripMargin

  /** ONE oracle-side definition of the bigram LM and the per-doc
    * cross-entropy table `x` — shared by llm_lm_score and
    * llm_perplexity_buckets exactly as [[lmScore]] is on the Spark
    * side, so the two formulations cannot drift apart. */
  private val lmXentCtes =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |q AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> {'w1': w[i], 'w2': w[i + 1]})) AS s
      |  FROM t WHERE len(w) >= 2),
      |pr AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM q),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY w1),
      |lm AS (
      |  SELECT c12.w1, c12.w2,
      |    CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS prob
      |  FROM c12 JOIN c1 ON c12.w1 = c1.w1),
      |x AS (
      |  SELECT pr.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    round(avg(-log2(lm.prob)), 6) AS xent
      |  FROM pr JOIN lm ON pr.w1 = lm.w1 AND pr.w2 = lm.w2
      |  GROUP BY pr.doc_id)""".stripMargin

  // ---- registration ------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic marker-token language guess (argmax with fixed
    // tie-break order), mirrored formula in the oracle.
    "llm_lang_id" -> ((s: SparkSession, dir: String) =>
      langGuessed(s, dir).orderBy("doc_id")),

    // Composite quality score from token statistics — one
    // deterministic double formula, identical in the oracle.
    // floor(v·10⁶ + 0.5)/10⁶ instead of round(v, 6): the ratios are
    // single divisions of exact small ints, so the doubles are
    // bit-identical cross-engine — but Spark's exact-binary HALF_UP
    // and DuckDB's v*10⁶ float rounding split values sitting AT a .5
    // boundary (the r9 tri-SF straddle, 1/5000 rows at sf0.1). The
    // floor form evaluates identically on both engines.
    "llm_quality_score" -> ((s: SparkSession, dir: String) =>
      qualityFull(load(s, dir, "documents"))
        .select("doc_id", "n_tok", "ttr", "avg_wlen", "stop_ratio", "quality")
        .orderBy("doc_id")),

    // PII-style masking: pattern classes rewritten to placeholder
    // tokens (the shape of email/phone/ID scrubbing; this corpus has
    // no real PII, so digits and vowel-runs stand in for the classes).
    "llm_pii_mask" -> ((s: SparkSession, dir: String) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "[0-9]+", "<NUM>"),
            "\\b(the|a|of)\\b", "<STOP>").as("masked"))
        .select(col("doc_id"), substring(col("masked"), 1, 120).as("masked_head"),
          length(col("masked")).as("masked_len"))
        .orderBy("doc_id")),

    // Gopher-style quality rules (Rae et al. 2021, arXiv:2112.11446
    // table A1, thresholds adapted to this corpus' 10-99-word docs):
    // word-count band, mean-word-length band, minimum stopword count,
    // and a short-word-fraction cap — each surfaced as its own flag
    // plus the conjunction, so downstream filtering can audit WHICH
    // rule dropped a doc. Pure per-row projection; no shuffle.
    "llm_quality_gopher" -> ((s: SparkSession, dir: String) => {
      val n = Text.nTokens
      val nTok = n.cast("double")
      val meanWlen = (length(col("text")) - (n - 1)).cast("double") / nTok
      val stop = array(Seq("the", "a", "of", "and").map(lit): _*)
      val nStop = size(filter(Text.tokens, t => array_contains(stop, t)))
      val shortFrac =
        size(filter(Text.tokens, t => length(t) <= 1)).cast("double") / nTok
      load(s, dir, "documents")
        .select(col("doc_id"), n.as("n_tok"),
          round(meanWlen, 6).as("mean_wlen"),
          nStop.as("n_stop"), round(shortFrac, 6).as("short_frac"),
          (n >= 20 && n <= 80).as("r_len"),
          (meanWlen >= 3.0 && meanWlen <= 10.0).as("r_wlen"),
          (nStop >= 2).as("r_stop"),
          (shortFrac <= 0.1).as("r_short"))
        .withColumn("pass",
          col("r_len") && col("r_wlen") && col("r_stop") && col("r_short"))
        .orderBy("doc_id")
    }),

    // Bigram language-model estimates: P(w2|w1) = c(w1 w2) / c(w1 ·)
    // — see [[bigramLm]] for the plan shape.
    "llm_ngram_lm" -> ((s: SparkSession, dir: String) =>
      bigramLm(load(s, dir, "documents"))
        .select(col("w1"), col("w2"), col("c12"),
          round(col("prob"), 6).as("p"))
        .orderBy("w1", "w2")),

    // Per-doc cross-entropy under the corpus's own bigram LM — the
    // classic LM-based quality filter ([[lmScore]]). avg(-log2 p) is
    // a double mean over ~10^2 terms/doc — association noise ~1e-14,
    // absorbed by the 6-dp rounding both engines share.
    "llm_lm_score" -> ((s: SparkSession, dir: String) =>
      lmScore(load(s, dir, "documents")).orderBy("doc_id")),

    // CCNet-style perplexity bucketing: docs split into head/middle/
    // tail terciles of LM cross-entropy WITHIN each language (the
    // language-conditioned quality tiers the CCNet pipeline samples
    // from). Ranks come from the already-rounded xent with a doc_id
    // tiebreak, so the tercile boundaries are exact. The ntile window
    // shuffles on lang (low-cardinality by nature) — at 100 TB the
    // scale path is approx_percentile boundaries broadcast back, which
    // avoids ranking entirely; exact terciles are the oracle-checkable
    // contract here.
    "llm_perplexity_buckets" -> ((s: SparkSession, dir: String) => {
      val docs = load(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("xent"), col("doc_id"))
      lmScore(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("xent")), 6).as("min_xent"),
          round(max(col("xent")), 6).as("max_xent"))
        .orderBy("lang", "bucket")
    }),

    // Benchmark decontamination over the documents corpus: every 50th
    // doc is the "eval set"; training docs sharing any 5-gram with it
    // are flagged with their shared-gram count.
    "llm_decontaminate" -> ((s: SparkSession, dir: String) =>
      decontaminate(load(s, dir, "documents"), col("doc_id") % 50 === 0)),

    // top-20 cap is the QUERY's framing; the library op returns the
    // full per-doc score surface
    "llm_repetition_filter" -> ((s: SparkSession, dir: String) =>
      repetitionScore(load(s, dir, "documents"))
        .orderBy(desc("rep_ratio"), asc("doc_id"))
        .limit(20)),

    "llm_filter_funnel" -> (filterFunnel _),
    "llm_ngram_novelty" -> (ngramNovelty _),
    "llm_code_detect" -> (codeDetect _),
    "llm_readability" -> (readability _),
    "llm_template_detect" -> (templateDetect _),
    "llm_langid_agreement" -> (langidAgreement _),
    "llm_source_novelty" -> (sourceNovelty _)
  )

  val oracle: Map[String, String] = Map(
    "llm_lang_id" ->
      s"""WITH $markerScoreCtes
        |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
        |  CASE
        |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
        |    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
        |    WHEN s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
        |    WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |    WHEN s_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS guessed
        |FROM sc ORDER BY doc_id""".stripMargin,

    "llm_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS INT) AS n_tok,
        |    CAST(len(list_distinct(w)) AS INT) AS n_distinct,
        |    CAST(len(list_filter(w,
        |      t2 -> list_contains(['the', 'a', 'of', 'and'], t2))) AS INT) AS n_stop,
        |    length(text) AS n_chars
        |  FROM t)
        |SELECT doc_id, n_tok,
        |  floor((CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS ttr,
        |  floor((CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS avg_wlen,
        |  floor((CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
        |  floor((
        |    (CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 0.5 +
        |    (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 0.3 +
        |    least(CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE) / 10.0, 1.0) * 0.2
        |    ) * 1000000.0 + 0.5) / 1000000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "llm_pii_mask" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
        |      '\b(the|a|of)\b', '<STOP>', 'g') AS masked
        |  FROM documents)
        |SELECT doc_id, substring(masked, 1, 120) AS masked_head,
        |  CAST(length(masked) AS INT) AS masked_len
        |FROM m ORDER BY doc_id""".stripMargin,

    "llm_quality_gopher" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS INT) AS n_tok,
        |    CAST(length(text) - (len(w) - 1) AS DOUBLE) /
        |      CAST(len(w) AS DOUBLE) AS mean_wlen,
        |    CAST(len(list_filter(w,
        |      t -> list_contains(['the','a','of','and'], t))) AS INT) AS n_stop,
        |    CAST(len(list_filter(w, t -> length(t) <= 1)) AS DOUBLE) /
        |      CAST(len(w) AS DOUBLE) AS short_frac
        |  FROM t)
        |SELECT doc_id, n_tok, round(mean_wlen, 6) AS mean_wlen, n_stop,
        |  round(short_frac, 6) AS short_frac,
        |  n_tok >= 20 AND n_tok <= 80 AS r_len,
        |  mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS r_wlen,
        |  n_stop >= 2 AS r_stop,
        |  short_frac <= 0.1 AS r_short,
        |  (n_tok >= 20 AND n_tok <= 80) AND
        |    (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AND
        |    n_stop >= 2 AND short_frac <= 0.1 AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "llm_ngram_lm" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS w FROM documents),
        |q AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> {'w1': w[i], 'w2': w[i + 1]})) AS s
        |  FROM t WHERE len(w) >= 2),
        |pr AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM q),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY w1)
        |SELECT c12.w1, c12.w2, c12.c12,
        |  round(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE), 6) AS p
        |FROM c12 JOIN c1 ON c12.w1 = c1.w1
        |ORDER BY c12.w1, c12.w2""".stripMargin,

    "llm_lm_score" ->
      s"""$lmXentCtes
         |SELECT doc_id, n_bigrams, xent FROM x ORDER BY doc_id""".stripMargin,

    "llm_perplexity_buckets" ->
      s"""$lmXentCtes,
         |wl AS (SELECT x.doc_id, x.xent, documents.lang
         |  FROM x JOIN documents USING (doc_id)),
         |b AS (SELECT lang, xent,
         |  CAST(ntile(3) OVER (PARTITION BY lang
         |    ORDER BY xent, doc_id) AS INT) AS bucket
         |  FROM wl)
         |SELECT lang, bucket, count(*) AS n_docs,
         |  round(min(xent), 6) AS min_xent,
         |  round(max(xent), 6) AS max_xent
         |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

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
        |ORDER BY rep_ratio DESC, doc_id LIMIT 20""".stripMargin,

    "llm_filter_funnel" -> funnelOracle,
    "llm_ngram_novelty" -> noveltyOracle,
    "llm_code_detect" -> codeDetectOracle,
    "llm_readability" -> readabilityOracle,
    "llm_template_detect" -> templateDetectOracle,
    "llm_langid_agreement" -> langidAgreementOracle,
    "llm_source_novelty" -> sourceNoveltyOracle
  )
}
