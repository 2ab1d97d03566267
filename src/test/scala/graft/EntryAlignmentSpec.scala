package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's correctness gate compares each `SparkEntry.queries` result
  * against its `oracleSql` twin. Both maps are views of one
  * `SparkEntry.entries` list whose records carry the plan and the oracle
  * together, so an entry cannot lack its oracle. What can still go wrong
  * is pinned here: a second record of one name (the maps would keep only
  * one), the family grouping, the plan-audit set, and the entry count.
  * (Oracle output TYPES are gated separately: scripts/check.py DESCRIBEs
  * every oracle in DuckDB and fails HUGEINT/DECIMAL outputs — the r17
  * representation-hash postmortem; that needs a DuckDB process, so it
  * lives in the python gate, not here.) */
class EntryAlignmentSpec extends AnyFunSuite {

  test("a duplicate entry name fails the registry loudly") {
    val e = SparkEntry.entries.head
    val err = intercept[IllegalArgumentException](
      SparkEntry.registry(e, e.copy(oracleSql = "SELECT 1")))
    assert(err.getMessage.contains(e.name))
    assert(SparkEntry.queries.size == SparkEntry.entries.size)
  }

  test("entries are grouped by family in Family order, none empty") {
    val ids = SparkEntry.entries.map(_.family.id)
    assert(ids == ids.sorted, "entries are out of family order")
    val empty = Family.values.toSeq.filterNot(SparkEntry.entries.map(_.family).toSet)
    assert(empty.isEmpty, s"families without an entry: $empty")
  }

  test("the audit flag marks the scale-critical plan set") {
    assert(SparkEntry.entries.filter(_.audit).map(_.name).toSet == Set(
      "s1_keyword_leaf", "s3_prefix_scan", "ql_and_order_topk",
      "t1_topk", "emb_topk_lsh", "emb_topk_ivf", "dedup_minhash",
      "dedup_ngram", "correlate_full", "q3_top_orders",
      "bm25_stored", "rrf_stored", "decontaminate_bloom",
      "emb_topk_filtered_batch", "rrf_stored_filtered_batch",
      "ann_masked_serve", "emb_topk_adaptive", "rrf_stored_masked",
      "dsir_stored", "quality_stored", "sample_pareto", "pipeline_curate",
      "mixture_token_budget", "sample_domain_cap",
      "sketch_kmv", "sketch_kmv_setops", "sketch_hll_stored",
      "sketch_cms", "ppl_kn_mod", "pipeline_release",
      "chunk_cdc", "dedup_cdc"))
  }

  test("entry count matches the round tally (update deliberately per entry)") {
    // 281 at r18 + r19's cdc_cut, mm_phash_clusters, mm_phash_removal,
    // mm_phash_keep_best, tsv_load_summaries, decontaminate_fuzzy,
    // decontaminate_fuzzy_stored, pipeline_funnel, ngram_novelty,
    // emb_outliers, ts_seasonal, decontaminate_removal, ivf_drift,
    // pipeline_funnel_by_source, text_langid_confusion, dedup_containment,
    // containment_removal; r20's ngram_novelty_stored,
    // contain_pairs_stream, contain_pairs_compact, shingle_stream_index,
    // shingle_stream_df, shingle_compact
    assert(SparkEntry.queries.size == 304,
      s"entry count moved to ${SparkEntry.queries.size} — update this pin " +
        "alongside the contended-bench FAMILY and the counters baseline")
  }
}
