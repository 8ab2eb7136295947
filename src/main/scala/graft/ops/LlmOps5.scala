package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** SURVEY.md §2.17 — retrieval-ranking and mixing operators: BM25
  * scoring (the IR ranking the inverted index of `llm_inverse_index`
  * exists to serve), reciprocal-rank fusion of two retrieval rankings
  * (the standard hybrid-search combiner), and temperature-weighted
  * multilingual sampling.
  *
  * Float determinism: every score is assembled from exact integer
  * counts in ONE pinned expression — the formula string is shared
  * verbatim between the Spark plan and the DuckDB oracle — and rounded
  * to 6 dp on both sides (the established `llm_tfidf` /
  * `llm_simsearch_*` rule, SURVEY §1.5).
  *
  * Scale notes:
  *  - bm25: one token explode → two hash aggregates keyed on doc_id
  *    (co-partitioned), document-frequency and corpus stats are
  *    single-row broadcasts, top-20 via TakeOrderedAndProject — the
  *    corpus is scanned twice and shuffled once at token width.
  *  - rrf: each ranking is a rounded-score TakeOrderedAndProject
  *    (top-100) — the corpus scan never materializes a global sort;
  *    RRF over truncated rankings is the textbook formulation.
  */
object LlmOps5 {

  // ---- llm_bm25 -----------------------------------------------------
  // Okapi BM25 (k1 = 1.2, b = 0.75) for a fixed 3-term query.
  // Columns feeding the formula are all DOUBLE derived from exact
  // integer counts: tf_i, df_i, dl (per-doc token count), n_docs,
  // avgdl (exact long sum / count).
  private val bmTerms = Seq("spark", "vector", "window")

  private def bmTermFormula(i: Int, k1: Double, b: Double): String =
    s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1}) / " +
      s"(tf$i + $k1 * (${1 - b} + $b * (dl / avgdl)))"

  private def bm25Formula(n: Int, k1: Double, b: Double): String =
    s"round(${(1 to n).map(bmTermFormula(_, k1, b)).mkString(" + ")}, 6)"

  /** Per-doc Okapi BM25 score of `idCol`/`textCol` docs against a
    * fixed bag of query `terms` — the library form ([[Graft.bm25]]).
    * One token explode, two idCol-co-partitioned hash aggregates,
    * 1-row broadcasts for df/corpus stats; 6-dp-rounded score. */
  private[graft] def bm25Scores(docs: DataFrame, idCol: String,
      textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores: terms must be non-empty")
    val lens = docs.select(col(idCol),
      size(split(col(textCol), " ")).as("li"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("li")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val toks = docs.select(col(idCol),
      explode(split(col(textCol), " ")).as("w"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      count(when(col("w") === t, lit(1))).cast("double").as(s"tf${i + 1}")
    }
    val tf = toks.groupBy(col(idCol)).agg(tfCols.head, tfCols.tail: _*)
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      countDistinct(when(col("w") === t, col(idCol))).cast("double")
        .as(s"df${i + 1}")
    }
    val dfreq = toks.agg(dfCols.head, dfCols.tail: _*)
    tf.join(lens, idCol)
      .withColumn("dl", col("li").cast("double"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfreq))
      .selectExpr(idCol, s"${bm25Formula(terms.size, k1, b)} AS bm25")
  }

  private def bm25(s: SparkSession, dir: String): DataFrame =
    bm25Scores(load(s, dir, "documents"), "doc_id", "text", bmTerms)
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(20)

  // ---- llm_rrf_fusion ----------------------------------------------
  // Reciprocal-rank fusion (k = 60) of two cosine rankings (query
  // vectors 0 and 1) truncated to their top-100: documents outside a
  // ranking contribute 0 from it. Ranks are ints derived from rounded
  // scores with a vec_id tiebreak, so the fusion is exact. The
  // truncate/rank/fuse pipeline IS [[rrfFuse]] — one definition for
  // the declared query, the facade, and the oracle semantics.
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val q = e.filter(col("vec_id").isin(0L, 1L)).agg(
      first(when(col("vec_id") === 0L, col("embedding")), ignoreNulls = true)
        .as("q0"),
      first(when(col("vec_id") === 1L, col("embedding")), ignoreNulls = true)
        .as("q1"))
    val sims = e.filter(!col("vec_id").isin(0L, 1L))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.CosineSim(col("embedding"), col("q0")), 6)
          .as("s0"),
        round(graft.functions.CosineSim(col("embedding"), col("q1")), 6)
          .as("s1"))
    rrfFuse(
      sims.select(col("vec_id"), col("s0").as("score")),
      sims.select(col("vec_id"), col("s1").as("score")),
      "vec_id", "score", k = 60, topN = 100)
      .orderBy(desc("rrf"), asc("vec_id"))
      .limit(20)
  }

  /** Generic reciprocal-rank fusion for the facade ([[Graft.rrfFuse]]):
    * each ranking frame (`idCol`, `scoreCol`) is truncated to its
    * top-`topN` by (score desc, id), ranked, and fused as
    * Σ 1/(k + rank); ids outside a ranking contribute 0 from it. The
    * truncations are TakeOrderedAndProject — no global sort of either
    * input. */
  private[graft] def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      scoreCol: String, k: Int = 60, topN: Int = 100): DataFrame = {
    def top(df: DataFrame, rankCol: String): DataFrame = {
      val w = Window.orderBy(desc(scoreCol), asc(idCol))
      df.orderBy(desc(scoreCol), asc(idCol)).limit(topN)
        .withColumn(rankCol, row_number().over(w))
        .select(col(idCol), col(rankCol))
    }
    val ra = top(a, "ra")
    val rb = top(b, "rb").withColumnRenamed(idCol, s"${idCol}_b")
    ra.join(rb, col(idCol) === col(s"${idCol}_b"), "full_outer")
      .select(coalesce(col(idCol), col(s"${idCol}_b")).as(idCol),
        round(
          coalesce(lit(1.0) / (lit(k.toDouble) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(k.toDouble) + col("rb")), lit(0.0)),
          6).as("rrf"))
  }

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_bm25" -> (bm25 _),
    "llm_rrf_fusion" -> (rrfFusion _),
    "llm_temperature_mix" -> (temperatureMix _)
  )

  val oracle: Map[String, String] = Map(
    "llm_bm25" ->
      s"""WITH lens AS (SELECT doc_id, len(string_split(text, ' ')) AS li
         |  FROM documents),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |  CAST(sum(li) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM lens),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id,
         |  CAST(count(*) FILTER (WHERE w = '${bmTerms(0)}') AS DOUBLE) AS tf1,
         |  CAST(count(*) FILTER (WHERE w = '${bmTerms(1)}') AS DOUBLE) AS tf2,
         |  CAST(count(*) FILTER (WHERE w = '${bmTerms(2)}') AS DOUBLE) AS tf3
         |  FROM toks GROUP BY doc_id),
         |dfq AS (SELECT
         |  CAST(count(DISTINCT CASE WHEN w = '${bmTerms(0)}' THEN doc_id END) AS DOUBLE) AS df1,
         |  CAST(count(DISTINCT CASE WHEN w = '${bmTerms(1)}' THEN doc_id END) AS DOUBLE) AS df2,
         |  CAST(count(DISTINCT CASE WHEN w = '${bmTerms(2)}' THEN doc_id END) AS DOUBLE) AS df3
         |  FROM toks)
         |SELECT doc_id, ${bm25Formula(3, 1.2, 0.75)} AS bm25
         |FROM (SELECT tf.*, CAST(li AS DOUBLE) AS dl, n_docs, avgdl,
         |        df1, df2, df3
         |      FROM tf JOIN lens USING (doc_id)
         |      CROSS JOIN stats CROSS JOIN dfq)
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "llm_rrf_fusion" ->
      s"""WITH q AS (SELECT
         |  (SELECT embedding FROM embeddings WHERE vec_id = 0) AS q0,
         |  (SELECT embedding FROM embeddings WHERE vec_id = 1) AS q1),
         |sims AS (SELECT vec_id,
         |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |    CAST(q0 AS DOUBLE[])), 6) AS s0,
         |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |    CAST(q1 AS DOUBLE[])), 6) AS s1
         |  FROM embeddings CROSS JOIN q WHERE vec_id NOT IN (0, 1)),
         |r0 AS (SELECT vec_id,
         |  CAST(row_number() OVER (ORDER BY s0 DESC, vec_id) AS INT) AS ra
         |  FROM sims ORDER BY s0 DESC, vec_id LIMIT 100),
         |r1 AS (SELECT vec_id,
         |  CAST(row_number() OVER (ORDER BY s1 DESC, vec_id) AS INT) AS rb
         |  FROM sims ORDER BY s1 DESC, vec_id LIMIT 100)
         |SELECT coalesce(r0.vec_id, r1.vec_id) AS vec_id,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / (60.0 + ra), CAST(0.0 AS DOUBLE))
         |    + coalesce(CAST(1.0 AS DOUBLE) / (60.0 + rb), CAST(0.0 AS DOUBLE)), 6) AS rrf
         |FROM r0 FULL OUTER JOIN r1 ON r0.vec_id = r1.vec_id
         |ORDER BY rrf DESC, vec_id LIMIT 20""".stripMargin,

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
         |FROM pa CROSS JOIN denom ORDER BY lang""".stripMargin
  )
}
