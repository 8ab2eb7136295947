package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables._

/** SURVEY.md §2.47 (round-21 batch) — three capability gaps a real
  * user hits next: MULTIPLE regression (agg_regression is
  * single-feature), a
  * sketch-calibration audit (the MinHash estimator's error profile
  * measured against exact Jaccard on the same corpus — the number a
  * dedup-threshold decision actually rests on), and a k-anonymity
  * audit (the quasi-identifier group-size distribution the PII
  * masking family acts on).
  *
  * Scale shapes: OLS is one map-side-
  * combining aggregate of exact-decimal cross sums; the calibration
  * audit runs on a deterministic md5-threshold SAMPLE (the
  * llm_sample_hash pattern) so its pair space is budget-bounded at
  * any corpus size — estimator audits sample by design.
  *
  * Determinism: calibration counts are exact integers;
  * OLS follows Composite3's exact-sum discipline (decimal sums,
  * VARCHAR-routed oracle casts per SURVEY §1.5 r7, one shared double
  * assembly, floor-form 6-dp rounding per §1.5 tri-SF rules).
  */
object Composite31 {

  // ---- agg_ols_multi -------------------------------------------------
  // Two-regressor OLS per return flag: extendedprice on (quantity,
  // discount) — normal equations solved closed-form by Cramer's rule
  // on the CENTERED cross-moment matrix. agg_regression's exact-sum
  // discipline (Composite3): all nine sums accumulate in exact
  // decimal (one single-shuffle hash aggregate, map-side partials
  // apply), the betas assemble ONCE in double from VARCHAR-routed
  // casts, identical formula text on both engines.
  //
  // Decimal bounds: discount ∈ {0.00..0.10} exact at 2dp;
  // qty·disc ≤ 5.0 and disc² ≤ 0.01 fit DECIMAL(12,4);
  // disc·price < 1.1e4 fits DECIMAL(22,4); the price² sum reuses
  // agg_regression's DECIMAL(25,4) bound.
  private val dd = "CAST(l_discount AS DECIMAL(12,2))"
  private val olsAggs = Seq(
    Composite3.countAgg("n"),
    Composite3.sumAgg(Composite3.xd, "sx1"),
    Composite3.sumAgg(dd, "sx2"),
    Composite3.sumAgg(Composite3.yd, "sy"),
    Composite3.sumAgg(Composite3.x2, "s11"),
    Composite3.sumAgg(s"CAST($dd * $dd AS DECIMAL(12,4))", "s22"),
    Composite3.sumAgg(s"CAST(${Composite3.xd} * $dd AS DECIMAL(12,4))", "s12"),
    Composite3.sumAgg(s"CAST(${Composite3.xd} * ${Composite3.yd} AS DECIMAL(22,4))", "s1y"),
    Composite3.sumAgg(s"CAST($dd * ${Composite3.yd} AS DECIMAL(22,4))", "s2y"),
    Composite3.sumAgg(s"CAST(${Composite3.yd} * ${Composite3.yd} AS DECIMAL(25,4))", "syy"))

  // floor-form 6-dp rounding (SURVEY §1.5 tri-SF rule a): round()
  // itself diverges at .5-boundary ulps; floor(v*1e6 + 0.5)/1e6
  // evaluates identically on identical doubles in both engines.
  private def r6(e: String) = s"floor(($e)*1e6 + 0.5)/1e6"

  private val a11F = "(n*s11 - sx1*sx1)"
  private val a12F = "(n*s12 - sx1*sx2)"
  private val a22F = "(n*s22 - sx2*sx2)"
  private val b1F = "(n*s1y - sx1*sy)"
  private val b2F = "(n*s2y - sx2*sy)"
  private val detF = s"($a11F*$a22F - $a12F*$a12F)"
  private val beta1F = s"(($a22F*$b1F - $a12F*$b2F) / $detF)"
  private val beta2F = s"(($a11F*$b2F - $a12F*$b1F) / $detF)"

  private val olsOut = Seq(
    "CAST(n AS BIGINT) AS n",
    s"${r6(beta1F)} AS beta_qty",
    s"${r6(beta2F)} AS beta_disc",
    s"${r6(s"(sy - $beta1F*sx1 - $beta2F*sx2) / n")} AS intercept",
    s"${r6(s"($beta1F*$b1F + $beta2F*$b2F) / (n*syy - sy*sy)")} AS r2")

  private def olsMulti(s: SparkSession, dir: String): DataFrame =
    olsMultiOn(load(s, dir, "lineitem"))

  /** The OLS aggregate over any relation carrying lineitem's column
    * names. Factored for the planted exact-fit spec. */
  private[graft] def olsMultiOn(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(expr(olsAggs.head.spark).as(olsAggs.head.alias),
        olsAggs.tail.map(a => expr(a.spark).as(a.alias)): _*)
      .selectExpr("l_returnflag" +: olsOut: _*)
      .orderBy("l_returnflag")

  // ---- llm_minhash_calibration ----------------------------------------
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
    val d = docs.filter(LlmOps4.hashKeep(col("doc_id"), "3f"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .localCheckpoint()
    // Per-doc DISTINCT 3-word shingles, one md5 each (the token array
    // materializes before the HOF lambda — interpreted lambdas must
    // not re-split per element).
    // r19: checkpointed — it feeds the lanes aggregate AND both sides
    // of the intersection self-join below (a BroadcastHashJoin, so no
    // ReuseExchange: the explode + per-shingle md5 ran three times).
    val sh0 = d.select(col("doc_id"), split(col("text"), " ").as("w"))
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

  // ---- dq_k_anonymity --------------------------------------------------
  // Anonymity-set size distribution over the customer quasi-identifier
  // tuple (market segment, nation, 1000-unit balance band): for each
  // group size s, how many QI groups and rows sit in groups of exactly
  // that size. k-anonymity says rows in groups of size < k are
  // re-identifiable — this is the governance audit the PII family
  // (llm_pii_mask) acts on. Two chained map-side-combining aggregates
  // (QI-group count, then size histogram); all exact integers. The
  // balance band uses floor(x / 1e3): `1e3` not a bare decimal literal
  // (SURVEY §1.5 — decimal literals drag Spark into decimal division),
  // and exact-multiple boundaries divide exactly in IEEE, so the band
  // is engine-agnostic.
  private[graft] def kAnonymityOn(cust: DataFrame): DataFrame =
    cust
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal / 1e3) AS BIGINT)").as("bal_band"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("s").as("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("s")).as("n_rows"))
      .orderBy("group_size")

  private val kAnonymityOracle =
    """WITH g AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CAST(floor(c_acctbal / 1e3) AS BIGINT) AS bal_band,
      |    count(*) AS s
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT s AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(s) AS BIGINT) AS n_rows
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_k_anonymity" -> ((s: SparkSession, dir: String) =>
      kAnonymityOn(load(s, dir, "customer"))),
    "agg_ols_multi" -> (olsMulti _),
    "llm_minhash_calibration" -> ((s: SparkSession, dir: String) =>
      minhashCalibration(load(s, dir, "documents")))
  )

  val oracle: Map[String, String] = Map(
    "dq_k_anonymity" -> kAnonymityOracle,
    "agg_ols_multi" -> Composite3.statsOracle(olsAggs, olsOut),
    "llm_minhash_calibration" -> minhashCalibrationOracle
  )
}
