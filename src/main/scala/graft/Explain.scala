package graft

/** Plan auditor: prints formatted physical plans for selected queries so
  * pushdown / broadcast / whole-stage-codegen shape is reviewable.
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "filter_shipdate_range", "agg_pricing_summary", "join_broadcast_segment",
      "join_multi_nation_revenue", "clean_rows", "dedup_ngram_pairs",
      "sim_topk_brute", "range_join_promos", "join_salted_revenue",
      "pack_sequences", "interleave_sources", "enrich_fuzzy_registry",
      "curate_lm", "sample_weighted", "overlap_join_promos",
      "profile_join_keys", "funnel_stages", "lookup_promo_period",
      "graph_pagerank", "search_bm25", "search_rrf", "index_postings",
      "scd2_order_history", "session_paths", "outlier_mad",
      "vocab_cooc_pairs", "agg_histogram_prices", "profile_table_stats",
      "er_nearest_name", "dedup_containment_pairs", "dedup_winnow_pairs",
      "asof_join_forward", "feature_trailing_distinct", "vocab_pmi",
      "privacy_t_closeness", "graph_modularity",
      "recsys_holdout_hitrate", "graph_robustness")
    val spark = graft.core.Session.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
