package graft

/**
 * Prints formatted physical plans of the flagship queries — the
 * design-for-scale audit trail: parquet column pruning (ReadSchema), filter
 * pushdown (PushedFilters), broadcast vs shuffle joins, WindowGroupLimit,
 * whole-stage codegen spans. Run: `sbt "runMain graft.PlanAudit [sfDir]"`.
 */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val interesting = Seq(
      "simjoin_l2", "simjoin_direct", "simjoin_full", "simjoin_left", "ann_topk", "ann_ivf",
      "dedup_jaccard", "dedup_minhash_lsh", "dedup_embedding_lsh", "dedup_winnow",
      "events_windowed", "events_correlate", "text_quality", "text_xent",
      "events_asof", "events_asof_nearest", "events_asof_bcast", "bm25_topk", "quality_filter_by_source",
      "stratified_sample", "dedup_substring", "semdedup", "ann_pq", "text_xent3",
      "events_in_session", "sessions_overlap", "bpe_pairs", "dedup_substring_clean",
      "ann_pq_trained", "ann_pq_encoded", "dedup_minhash_sig", "dedup_sig_cross",
      "dedup_exact_incr", "dedup_substring_words_clean",
      "chunk_dedup", "knn_mutual_clusters", "emb_project", "bucketed_join",
      "mixture_temperature", "dedup_rate_by_source", "pipeline_curate",
      "dsir_weights", "source_kl", "gopher_flags",
      "ann_pq_rerank", "ann_ivfpq_rerank", "ann_range", "ann_mmr",
      "ann_recall_report", "dedup_soft_weights", "doc_novelty",
      "doc_boilerplate", "corpus_diff", "dedup_exact_incr_bloom",
      "stream_decon_batch",
      "hybrid_rrf", "emb_truncate", "ann_mrl_rerank",
      "tokens_cms_topk", "layout_zorder", "stream_chunk_batch",
      "collocations", "shard_rendezvous", "graph_pagerank",
      "profile_docs", "dedup_lsh_audit",
      "graph_ppr", "events_user_seq",
      "events_funnel", "events_retention", "pack_greedy", "sink_sharded",
      "text_xent_ref", "text_char_entropy", "graph_triangles", "graph_hits",
      "events_transitions", "events_anomaly", "stopword_ratio", "quality_classifier",
      "graph_clustering", "events_rfm", "events_bots", "quality_deciles",
      "events_top_paths", "orders_rolling7", "source_jsonl", "source_compacted",
      "label_exemplars", "drift_psi", "dedup_keep_best", "text_normalize",
      "sample_split_grouped", "drift_ks", "drift_psi_by_source", "bpe_merges",
      "bpe_segments", "bpe_encode", "pipeline_ingest", "ann_ivf_report",
      "events_debounce", "quality_ensemble", "orders_unshipped",
      "graph_pagerank_delta", "layout_pruned", "stream_drift_batch", "mm_phash",
      "dedup_paragraph", "emb_power_iter", "emb_debias", "mm_phash_pairs",
      "text_phrase_hits", "search_and", "events_cusum", "len_outliers",
      "cooccurrence", "corpus_health", "lineitem_pricing", "events_dau_wau",
      "bench_coverage", "simjoin_plan", "orders_by_region", "sessions_duration",
      "dedup_lines_within", "text_rep_lines", "dedup_cdc", "ann_hard_negatives",
      "pipeline_shards", "orders_local_volume", "corpus_upsert",
      // round 11
      "c4_line_filter", "source_minhash_sim", "doc_stitch_pairs",
      "bootstrap_counts", "emb_kmeans", "dedup_substring_self_clean",
      "text_sbo", "quality_qnorm", "mixture_capped", "mixture_fill",
      "ql_topk", "emb_outliers", "orders_returns", "ann_binary",
      "ann_binary_rerank", "ann_binary_recall", "graph_kcore", "source_orc",
      "events_decayed", "events_attribution", "pack_buckets", "text_rake",
      "lineitem_q6", "stream_quota_batch",
      // round 12
      "bm25_wand", "events_attribution_decay", "decontaminate_rollup",
      "promo_share", "orders_top_volume", "orders_nation_trade",
      "stream_decayed_batch", "ann_filtered", "knn_accuracy", "emb_pca2",
      "graph_labelprop", "graph_modularity", "source_entropy",
      "orders_count_dist", "orders_brand_revenue", "events_seasonal",
      "pack_chunk_spans", "emb_drift",
      // round 15
      "knn_graph", "ann_ivf_incr", "ann_ivf_drift", "stream_ivf_assign",
      "ann_ivfpq_incr", "source_avro", "dedup_clusters_incr",
      // round 16
      "ann_pq_drift", "graph_from_table", "source_avro_split",
      "bm25_topk_incr", "url_normalize", "url_domains")
    for (name <- interesting) {
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
