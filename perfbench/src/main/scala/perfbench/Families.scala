package perfbench

/** Every `SparkEntry.queries` key in exactly one of five families, grouped
  * by the module that builds the query:
  *  - overwatch: TopicAnalytics, GroupAnalytics, Governance,
  *    SchemaRegistryOps, Deltas, ConfigOps, ChangeFeed, report;
  *  - relational: Relational, AsofJoin, RangeJoin, SkewJoin, Sampling,
  *    Linkage and the event queries;
  *  - dedup: Dedup, Sketches, IncrementalDedup and decontamination;
  *  - similarity: Similarity, Ivf, Pq, Pca and the embedding queries;
  *  - text: everything else.
  * `check` fails the self-test when a key is missing or extra. */
object Families {
  val table: Seq[(String, Seq[String])] = Seq(
  "overwatch" -> Seq(
    "q_baseline_deltas", "q_cluster_report", "q_cluster_totals",
    "q_describe_stats", "q_dr_commands", "q_governance_groups",
    "q_governance_noncompliant", "q_governance_summary",
    "q_governance_topics", "q_groups_stats", "q_lag_partition",
    "q_lag_percentiles", "q_lag_topic", "q_lag_trend", "q_log_start",
    "q_most_active", "q_partition_deltas", "q_sr_backup_index",
    "q_sr_counts", "q_sr_unused", "q_topic_churn", "q_topic_configs",
    "q_topic_flags", "q_topics_stats", "q_waste_detail", "q_waste_summary"),
  "relational" -> Seq(
    "q_asof_clicks", "q_bootstrap_ci", "q_cohort_revenue",
    "q_consistent_sample", "q_editdist_pairs", "q_event_anomalies",
    "q_event_transitions", "q_events_minute", "q_funnel", "q_key_skew",
    "q_order_gaps", "q_order_priority", "q_order_velocity",
    "q_pricing_summary", "q_props_extract", "q_retention_cohorts",
    "q_revenue_by_nation", "q_revenue_rollup", "q_session_windows",
    "q_sessionize", "q_sliding_windows", "q_small_qty_revenue",
    "q_stratified_sample", "q_top_customers", "q_top_suppliers",
    "q_zorder_cells"),
  "text" -> Seq(
    "q_bigram_rarity", "q_bm25_queryset", "q_bm25_topk",
    "q_boilerplate_rollup", "q_boilerplate_strip", "q_bpe_encode",
    "q_bpe_fertility", "q_bpe_merges", "q_chunk_dedup", "q_corpus_diff",
    "q_corpus_report", "q_curation_funnel", "q_distinct_sketch",
    "q_doc_length_histogram", "q_doc_stats", "q_domain_rollup",
    "q_dsir_mixture", "q_dsir_weights", "q_dup_excision",
    "q_dup_ngram_coverage", "q_dup_spans", "q_eval_sample",
    "q_excision_rollup", "q_fingerprint", "q_gopher_rules",
    "q_heavy_hitters", "q_histogram_quantile", "q_hll_distinct", "q_langid",
    "q_langid_confusion", "q_length_drift", "q_mixture",
    "q_mixture_temperature", "q_multimodal_features", "q_multimodal_sizes",
    "q_pack_sequences", "q_perplexity_buckets", "q_pii_redact", "q_pii_scan",
    "q_quality", "q_quality_by_source", "q_quality_deciles",
    "q_quality_filter", "q_quality_probe", "q_rarity", "q_repetition",
    "q_shards", "q_source_boilerplate", "q_source_divergence",
    "q_split_summary", "q_text_cleaning", "q_tfidf_terms", "q_token_budget",
    "q_token_counts", "q_token_freq", "q_top_tokens_per_lang", "q_url_dedup"),
  "dedup" -> Seq(
    "q_admission_gate", "q_cluster_keep_best", "q_cluster_sizes",
    "q_containment_pairs", "q_contamination", "q_contamination_bench",
    "q_cross_source_dups", "q_decontam_rollup", "q_dedup_clusters",
    "q_dedup_corpus", "q_dedup_exact_docs", "q_dedup_rate_by_source",
    "q_dedup_reconcile", "q_dedup_records", "q_dedup_weights",
    "q_fuzzy_contamination", "q_incremental_dedup", "q_incremental_excision",
    "q_jaccard_pairs", "q_minhash_calibration", "q_minhash_pairs",
    "q_simhash_pairs", "q_source_similarity", "q_winnow_pairs"),
  "similarity" -> Seq(
    "q_ann_recall", "q_centroid_drift", "q_cosine_neardups",
    "q_embedding_clusters", "q_embedding_dedup", "q_embedding_stats",
    "q_hybrid_dedup", "q_knn_exact", "q_knn_ivf", "q_knn_join", "q_knn_lsh",
    "q_knn_lsh_multiprobe", "q_knn_pq", "q_knn_pq_rerank", "q_pca_component",
    "q_pca_deflation", "q_pca_projection", "q_proto_prune",
    "q_quantize_report", "q_rrf_fusion", "q_semdedup", "q_silhouette"))

  val names: Seq[String] = table.map(_._1)

  val familyOf: Map[String, String] =
    table.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  /** Problems with the table against the program's query keys; empty when
    * every key sits in exactly one family. */
  def check(keys: Set[String]): Seq[String] = {
    val listed = table.flatMap(_._2)
    val dups = listed.groupBy(identity).collect { case (q, xs) if xs.size > 1 => q }
    dups.toSeq.sorted.map(q => s"$q is listed in more than one family") ++
      (keys -- listed).toSeq.sorted.map(q => s"$q has no family") ++
      (listed.toSet -- keys).toSeq.sorted.map(q => s"$q is not a query key")
  }
}
