package graft

import org.scalatest.funsuite.AnyFunSuite

/** Row-id pin: the registered query and oracle ids equal the committed
  * lists in `graft/query_ids.txt` / `graft/oracle_ids.txt`. Moving rows
  * between modules must not add, drop or rename one; a deliberate
  * change to the surface updates the lists in the same commit. */
class RegistryPinSpec extends AnyFunSuite {

  private def pinned(resource: String): Set[String] = {
    val in = getClass.getResourceAsStream(resource)
    assert(in != null, s"missing test resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  private def assertSame(got: Set[String], want: Set[String]): Unit =
    assert(got == want,
      s"missing: ${(want -- got).toSeq.sorted.mkString(", ")}; " +
        s"unexpected: ${(got -- want).toSeq.sorted.mkString(", ")}")

  test("SparkEntry.queries ids equal the pinned list") {
    assertSame(SparkEntry.queries.keySet, pinned("/graft/query_ids.txt"))
  }

  test("SparkEntry.oracleSql ids equal the pinned list") {
    assertSame(SparkEntry.oracleSql.keySet, pinned("/graft/oracle_ids.txt"))
  }

  test("the dedup and graph families own every one of their rows") {
    val dedupIds = Set(
      "llm_dedup_exact", "llm_dedup_exact_norm", "llm_dedup_near",
      "llm_dedup_near_verified", "llm_dedup_ngram", "llm_dedup_simhash",
      "llm_dedup_simhash_verified", "llm_dedup_minhash_cluster",
      "llm_dedup_cluster", "llm_dedup_cross_source", "llm_dedup_editdist",
      "llm_dedup_family_spectrum", "llm_dedup_incremental",
      "llm_dedup_threshold_sweep", "llm_dedup_tier_report",
      "llm_semdedup", "llm_embed_neardup", "llm_prefix_dedup",
      "llm_line_dedup", "llm_dup_span_fraction", "llm_span_neardup",
      "llm_score_vs_dup", "llm_minhash_calibration",
      "llm_minhash_containment", "llm_lsh_bucket_audit",
      "llm_shingle_df_spectrum")
    assertSame(graft.ops.dedup.Dedup.queries.keySet, dedupIds)
    assert(graft.ops.dedup.Dedup.oracle.keySet.subsetOf(dedupIds))
    assertSame(graft.ops.graph.Graph.queries.keySet,
      SparkEntry.queries.keySet.filter(_.startsWith("graph_")))
    assert(graft.ops.graph.Graph.oracle.keySet.forall(_.startsWith("graph_")))
  }

  test("the retrieval family owns exactly its 26 rows") {
    val retrievalIds = Set(
      "llm_simsearch_topk", "llm_simsearch_knn", "llm_simsearch_hamming",
      "llm_simsearch_ann", "llm_simsearch_ann_verified",
      "llm_simsearch_ivf", "llm_simsearch_ivf_verified",
      "llm_hard_negatives", "llm_mmr_rerank", "llm_bm25", "llm_rrf_fusion",
      "llm_ivf_recall", "llm_ivf_nprobe_sweep", "llm_knn_recall",
      "llm_ann_ndcg", "llm_ann_mrr", "llm_ann_map",
      "llm_kmeans_step", "llm_cluster_purity", "llm_knn_classify",
      "llm_label_margin", "llm_source_centroid", "llm_source_sim",
      "llm_centroid_outliers", "llm_embed_pca_step", "llm_embed_quantize")
    assert(retrievalIds.size == 26)
    assertSame(graft.ops.retrieval.Retrieval.queries.keySet, retrievalIds)
    assert(graft.ops.retrieval.Retrieval.oracle.keySet.subsetOf(retrievalIds))
  }
}
