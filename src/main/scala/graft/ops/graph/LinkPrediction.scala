package graft.ops.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DiskMemo, TriCore}
import graft.plans.SortedLongSets
import CoPurchase.coPurchaseHalfEdges

/** Link prediction over the co-purchase graph (SURVEY.md §2.52,
  * §2.86): the NON-adjacent part pairs most likely to connect, scored
  * on a deterministic candidate slice (both endpoints n % 20 == 0):
  *
  *  - [[jaccardLinkpred]]: top-20 by |N(u)∩N(v)| / |N(u)∪N(v)|;
  *  - [[adamicAdar]]: top-20 by Adamic-Adar Σ 1/ln(deg z), with
  *    preferential attachment deg_a·deg_b and Jaccard alongside.
  *
  * Both rows project one shared candidate table
  * ([[sharedLinkpredCandidates]], a DiskMemo view). Scale shape: the
  * wedge generation is the sorted-set pair explosion of
  * coPurchaseHalfEdges restricted to the candidate slice BEFORE
  * pairing, so per-middle fan-out is (slice-degree choose 2), capped
  * at SliceCap²/2 pairs per middle. Determinism: counts and degrees
  * are exact integers; the scores assemble once in double, floor-form
  * 6-dp (§1.5), with full-integer-key tie-breaks under LIMIT.
  */
object LinkPrediction {

  /** Candidate slice modulus for link prediction: both pair endpoints
    * must satisfy n % Slice == 0. */
  private val Slice = 20

  /** Per-middle candidate cap (ADVICE r12 item 3): the wedge
    * explosion is O(slice-degree²) inside ONE task, and Slice only
    * divides the constant — a hub whose slice-neighborhood grows
    * with SF still produces an unbounded single-task blow-up. Each
    * middle therefore scores only its `SliceCap` SMALLEST
    * slice-neighbors (deterministic, mirrored in the oracle via
    * row_number ≤ cap), bounding every task at SliceCap²/2 pairs.
    * At the current corpus no slice-neighborhood comes near 256, so
    * the cap is a pure guard (results unchanged, asserted by the
    * tri-SF oracle runs); past it the row is explicitly a capped
    * approximation, like every seed-sampled graph row. */
  private val SliceCap = 256

  // ---- graph_jaccard_linkpred ------------------------------------------
  // Wedges (a, z, b) with a < b and a, b in the slice, generated once
  // per unordered pair per middle via the sorted-set posexplode
  // discipline; cn(a,b) = wedge count; existing edges dropped by
  // left_anti against the half-edge list; Jaccard = cn / (deg_a +
  // deg_b − cn) on FULL degrees (the slice restricts which pairs are
  // scored, never the neighborhoods they are scored on).
  /** Shared link-prediction candidate table (round 16): the
    * non-adjacent slice pairs with everything BOTH scoring rows need
    * — (src, dst, common_neighbors, deg_src, deg_dst, aa) — built
    * once from the wedge explosion WITH the middle kept (so the
    * Adamic-Adar weight Σ 1/ln(deg z) falls out of the same pass
    * that counts the wedges). `graph_jaccard_linkpred` (here) and
    * `graph_adamic_adar_linkpred` (below) are projections +
    * TakeOrdered over this one relation; the corpus-facing queries
    * read it through the [[DiskMemo]] parquet materialization. */
  private[graft] def linkpredCandidatesOn(half: DataFrame,
      degOpt: Option[DataFrame] = None): DataFrame = {
    val sym = half.unionAll(
      half.select(col("dst").as("src"), col("src").as("dst")))
    // r18: the corpus path passes the shared TriCore degree view;
    // planted callers let the seam build it (three consumers: middle
    // weight, deg_src, deg_dst).
    val deg = degOpt.getOrElse(
      sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
        .localCheckpoint())
    val wedges = SortedLongSets(sym.filter(col("dst") % Slice === 0),
        "src", "dst", "ps0")
      .select(col("src").as("z"), slice(col("ps0"), 1, SliceCap).as("ps"))
      .select(col("z"), col("ps"), posexplode(col("ps")))
      .toDF("z", "ps", "i", "a")
      .select(col("z"), col("a"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps"))))
          .as("b"))
    val cn = wedges
      .join(deg.select(col("n").as("z"), col("deg").as("zdeg")), "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        // Fixed round-12 keeps the materialized table summation-order
        // independent (DiskMemo's determinism contract): a fresh build
        // and a memo read-back must be cell-identical even when the
        // partial-sum order differs; downstream surfaces floor at 1e-6
        // so the 1e-12 snap is invisible to every consumer.
        expr("round(sum(1.0/ln(CAST(zdeg AS DOUBLE))), 12)").as("aa"))
    cn.join(half.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg.select(col("n").as("a"), col("deg").as("deg_src")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_dst")), "b")
      .selectExpr("a AS src", "b AS dst", "common_neighbors",
        "deg_src", "deg_dst", "aa")
  }

  private[graft] def sharedLinkpredCandidates(s: SparkSession,
      dir: String): DataFrame =
    DiskMemo.table(s, dir, "linkpred_cands")(linkpredCandidatesOn(
      coPurchaseHalfEdges(s, dir),
      degOpt = Some(TriCore.sharedDeg(s, dir))))

  /** Jaccard projection over the shared candidates (planted-graph
    * test seam builds its own candidates, no disk). */
  private[graft] def jaccardFromCandidates(cands: DataFrame): DataFrame =
    cands.selectExpr("src", "dst", "common_neighbors",
        "deg_src", "deg_dst",
        """floor((CAST(common_neighbors AS DOUBLE)
          | / (deg_src + deg_dst - common_neighbors))*1e6 + 0.5)/1e6
          | AS jaccard""".stripMargin)
      .orderBy(col("jaccard").desc, col("src"), col("dst"))
      .limit(20)

  private[graft] def jaccardLinkpredOn(half: DataFrame): DataFrame =
    jaccardFromCandidates(linkpredCandidatesOn(half))

  private def jaccardLinkpred(s: SparkSession, dir: String): DataFrame =
    jaccardFromCandidates(sharedLinkpredCandidates(s, dir))

  private val jaccardLinkpredOracle =
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |h AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
       |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |sn AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM e WHERE dst % $Slice = 0)
       |  WHERE rn <= $SliceCap),
       |w AS (
       |  SELECT a.dst AS src, b.dst AS dst,
       |    CAST(count(*) AS BIGINT) AS common_neighbors
       |  FROM sn a JOIN sn b ON a.src = b.src AND a.dst < b.dst
       |  GROUP BY 1, 2),
       |nw AS (SELECT w.* FROM w WHERE NOT EXISTS (
       |  SELECT 1 FROM h WHERE h.src = w.src AND h.dst = w.dst))
       |SELECT nw.src, nw.dst, common_neighbors,
       |  da.deg AS deg_src, db.deg AS deg_dst,
       |  floor((CAST(common_neighbors AS DOUBLE)
       |   / (da.deg + db.deg - common_neighbors))*1e6 + 0.5)/1e6
       |   AS jaccard
       |FROM nw JOIN deg da ON nw.src = da.n JOIN deg db ON nw.dst = db.n
       |ORDER BY jaccard DESC, nw.src, nw.dst LIMIT 20""".stripMargin

  // ---- graph_adamic_adar_linkpred -----------------------------------------

  /** AA/PA projection over the SHARED link-prediction candidate
    * table ([[linkpredCandidatesOn]] — slice % 20,
    * per-middle cap 256, sorted-set pair explosion with the middle
    * kept for the 1/ln(deg) weight, adjacency anti-join); the three
    * scores surface side by side. The corpus-facing query reads the
    * DiskMemo parquet materialization also feeding
    * `graph_jaccard_linkpred`. */
  private[graft] def adamicAdarFrom(cands: DataFrame): DataFrame =
    cands.selectExpr("src", "dst", "common_neighbors",
        "deg_src", "deg_dst",
        "floor(aa*1e6 + 0.5)/1e6 AS adamic_adar",
        "CAST(deg_src * deg_dst AS BIGINT) AS pref_attach",
        """floor((CAST(common_neighbors AS DOUBLE)
          | / (deg_src + deg_dst - common_neighbors))*1e6 + 0.5)/1e6
          | AS jaccard""".stripMargin)
      .orderBy(col("adamic_adar").desc, col("src"), col("dst"))
      .limit(20)

  private[graft] def adamicAdarOn(half: DataFrame): DataFrame =
    adamicAdarFrom(linkpredCandidatesOn(half))

  private def adamicAdar(s: SparkSession, dir: String): DataFrame =
    adamicAdarFrom(sharedLinkpredCandidates(s, dir))

  private val adamicAdarOracle =
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |h AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |e AS MATERIALIZED (
       |  SELECT src, dst FROM h UNION ALL SELECT dst, src FROM h),
       |deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
       |        FROM e GROUP BY 1),
       |sn AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM e WHERE dst % 20 = 0)
       |  WHERE rn <= 256),
       |w AS (
       |  SELECT a.dst AS src, b.dst AS dst,
       |    CAST(count(*) AS BIGINT) AS common_neighbors,
       |    round(sum(1.0/ln(CAST(dz.deg AS DOUBLE))), 12) AS aa
       |  FROM sn a JOIN sn b ON a.src = b.src AND a.dst < b.dst
       |    JOIN deg dz ON dz.n = a.src
       |  GROUP BY 1, 2),
       |nw AS (SELECT w.* FROM w WHERE NOT EXISTS (
       |  SELECT 1 FROM h WHERE h.src = w.src AND h.dst = w.dst))
       |SELECT nw.src, nw.dst, common_neighbors,
       |  da.deg AS deg_src, db.deg AS deg_dst,
       |  floor(aa*1e6 + 0.5)/1e6 AS adamic_adar,
       |  CAST(da.deg * db.deg AS BIGINT) AS pref_attach,
       |  floor((CAST(common_neighbors AS DOUBLE)
       |   / (da.deg + db.deg - common_neighbors))*1e6 + 0.5)/1e6
       |   AS jaccard
       |FROM nw JOIN deg da ON nw.src = da.n JOIN deg db ON nw.dst = db.n
       |ORDER BY adamic_adar DESC, nw.src, nw.dst LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_jaccard_linkpred" -> (jaccardLinkpred _),
    "graph_adamic_adar_linkpred" -> (adamicAdar _)
  )

  val oracle: Map[String, String] = Map(
    "graph_jaccard_linkpred" -> jaccardLinkpredOracle,
    "graph_adamic_adar_linkpred" -> adamicAdarOracle
  )
}
