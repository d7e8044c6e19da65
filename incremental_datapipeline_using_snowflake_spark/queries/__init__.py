"""Declared query inventory — the correctness surface (SURVEY.md §2).

Each submodule exposes ``QUERIES: dict[name, (spark_fn, oracle_sql | None)]``
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is the
equivalent ANSI SQL for the DuckDB oracle (None -> rows-only check for
non-SQL-expressible ops).

Determinism discipline (SURVEY.md §7.3 + FIXTURES.md §3):
- every aggregate/computed column aliased identically in Spark and SQL;
- double sums routed through DECIMAL casts in BOTH engines (exact arithmetic,
  immune to parallel-summation order differences);
- kernel outputs rounded as specified (4 dp volatility, 3 dp normalize);
- no raw current_timestamp in compared output.
"""

from __future__ import annotations

from . import artifacts

# Driver-coverage ordering (round 8). The per-round driver oracle run covers
# a time-budgeted prefix of this dict (~50 entries/round), so emission order
# decides which queries get a hard CORRECTNESS row. Union coverage r01-r07 is
# 150/150 driver-green (no query ever left failing); the full inventory is
# locally hash-checked each round (CORRECTNESS_LOCAL_r07.log 155/155).
# Rotation policy is LONGEST-UNCHECKED FIRST (VERDICT r06 ask #2),
# data-driven: _LATEST_DRIVER_ROUND records each query's most recent driver
# CORRECTNESS row (r08 cleared the remaining r05-and-older block: 50 rows
# folded in r09), and ordering is (latest round ascending, sf0.01 cost
# ascending). Queries with NO driver row yet — the r09 additions
# (main_content_extraction, lang_id_trained, corpus_delete_apply) — come
# FIRST (default 4.5 < every checked block), then the stalest checked
# block. Costs are sf0.01 Spark seconds from CORRECTNESS_LOCAL logs —
# cost-ascending within a block maximizes how many rows the budget
# lands. r13 folded the 50 r12 driver rows (from CORRECTNESS_r12.json,
# all green) into this map, so the never-checked-first block is exactly
# the five r13 additions (ann_sq8_topk, ann_ivf_sq8_topk,
# ann_sq8_rerank, sq8_recall, corpus_shard_export), then the stalest
# checked block (r08).
_LATEST_DRIVER_ROUND = { "q1_pricing_summary": 8, "q3_top_revenue": 8, "region_revenue": 8, "join_left_outer": 8, "join_semi": 8, "join_anti": 12, "set_ops": 8, "order_limit": 12, "agg_global_minmax": 12, "watermark_filter": 12, "case_string_funcs": 12, "cast_coercion": 12, "window_family": 8, "rollup_agg": 8, "merge_upsert_rewrite": 8, "pivot_agg": 8, "q6_forecast_revenue": 12, "cube_agg": 8, "subquery_family": 8, "percentile_stats": 12, "distinct_agg": 9, "daily_stats": 9, "weekly_stats": 9, "date_construction": 9, "stream_sample": 11, "event_window_agg": 9, "event_sliding_window": 9, "event_sessions": 9, "event_json_props": 9, "text_profile": 11, "dedup_exact": 10, "dedup_ngram_jaccard": 9, "dedup_minhash_lsh": 11, "dedup_simhash": 12, "ann_bruteforce_topk": 10, "ann_lsh_bucketed": 12, "ann_ivf_topk": 12, "dedup_embedding_cosine": 12, "multimodal_meta": 12, "multimodal_frames": 12, "daily_stats_sql_udfs": 9, "dataset_split": 9, "contamination_check": 12, "kmeans_clusters": 12, "join_full_outer": 8, "window_family2": 8, "unpivot_agg": 8, "grouping_sets_agg": 8, "skew_salted_join": 8, "skew_two_phase_agg": 8, "zorder_layout": 11, "array_functions": 9, "stats_moments": 9, "date_functions": 9, "grouped_scale_pandas": 9, "pandas_udf_normalize": 11, "doc_quality_signals": 9, "ngram_logprob": 9, "corpus_curation": 11, "corpus_mixture": 9, "passage_dedup": 11, "bpe_pair_counts": 9, "q5_local_supplier_volume": 12, "q10_returned_items": 12, "join_right_outer": 8, "table_changes_cdf": 12, "decimal_typed_stats": 12, "cdc_apply_changes": 12, "pandas_udaf_quartiles": 12, "ann_recall_eval": 12, "asof_cogrouped": 12, "stratified_sample_n": 11, "asof_view_purchase": 11, "range_join_windows": 12, "rolling_user_stats": 10, "calendar_gapfill": 12, "doc_chunking": 11, "sequence_packing": 11, "pii_redaction": 11, "tfidf_terms": 12, "bm25_search": 10, "hll_distinct_users": 10, "hll_mergeable_rollup": 10, "quantile_sketch_value": 10, "cms_heavy_hitters": 12, "recursive_cte": 12, "lateral_join": 12, "variant_extract": 9, "udtf_chunk": 10, "collation_ops": 11, "semdedup_keep": 9, "knn_graph": 9, "pagerank_centrality": 12, "multimodal_embed_ann": 12, "ann_pq_topk": 12, "ann_ivfpq_topk": 12, "dedup_incremental": 12, "dedup_clusters": 11, "dedup_keep_summary": 10, "dedup_keep_best": 10, "cms_grouped_hitters": 9, "data_quality_report": 9, "sql_session_variables": 12, "snowflake_dialect_qualify": 12, "q14_promo_revenue": 8, "q22_sales_opportunity": 8, "q15_top_supplier": 8, "q19_disjunctive": 8, "q17_small_quantity": 8, "q7_volume_shipping": 9, "q4_order_priority": 8, "q18_large_orders": 8, "q16_supplier_variety": 8, "fuzzy_name_match": 8, "dml_update_delete": 9, "knn_graph_lsh": 9, "merge_pruned_partitions": 9, "neardup_triangles": 8, "snowflake_dialect_datetime": 9, "doc_classifier_margin": 9, "snowflake_dialect_qualify_nested": 9, "q12_ship_priority": 9, "embedding_gram": 9, "q13_customer_distribution": 9, "q11_important_parts": 9, "q20_promo_suppliers": 9, "weighted_sample_docs": 9, "q9_product_profit": 9, "q8_market_share": 9, "q21_waiting_suppliers": 9, "event_cohort_retention": 9, "q2_min_cost_supplier": 9, "doc_nb_quality": 9, "table_clone_changes": 11, "hll_audience_overlap": 9, "knn_graph_ivf2": 11, "doc_text_knn": 9, "event_funnel": 9, "semdedup_keep_lsh": 11, "ann_index_lifecycle": 11, "dedup_embedding_incremental": 11, "dedup_embedding_incremental_auto": 11, "neardup_clustering_coeff": 11, "ann_index_append": 11, "text_normalization": 12, "dedup_bloom_membership": 12, "url_dedup": 12, "corpus_curate_append": 12, "snowflake_dialect_misc": 11, "epoch_shuffle_order": 12, "leakage_safe_split": 8, "snowflake_dialect_flatten": 8, "hybrid_search_rrf": 8, "hard_negative_mining_ivf": 8, "passage_dedup_maximal": 8, "bpe_train_merges": 8, "decontaminate_passages": 8, "bpe_encode_docs": 8, "hard_negative_mining": 8, "main_content_extraction": 9, "lang_id_trained": 9, "corpus_delete_apply": 9, "ccnet_quality_buckets": 9, "bm25_index_lifecycle": 11, "boilerplate_scrub": 11, "cjk_boilerplate_scrub": 11, "cjk_quality_gates": 11, "cjk_segmentation": 11, "crawl_curate_pipeline": 11, "curriculum_order": 11, "data_schedule": 11, "dedup_emblsh_recall": 11, "dedup_minhash_recall": 11, "dedup_simhash_hamming": 11, "dedup_simhash_recall": 11, "dedup_winnow_recall": 11, "dedup_winnowing": 11, "dsir_selection": 11, "fertility_by_script": 11, "gopher_char_gates": 11, "html_text_extraction": 11, "intra_doc_scrub": 11, "jsonl_ingest": 11, "lang_id_margin": 11, "length_bucket_report": 11, "mixture_temperature_weights": 11, "packing_efficiency": 11, "span_corruption_pairs": 11, "tokenizer_fertility": 11, "corpus_chain_rebase": 12, "dedup_impact_report": 12, "dedup_ngram_recall": 12, "ivf_routed_assign": 12, "sea_segmentation": 12, "ann_index_reindex": 12, "classifier_pr_curve": 12, "ivf_routed_agreement": 12 }

_SF001_COST = { "stream_sample": 4.6, "pandas_udf_normalize": 3.4, "weekly_stats": 2.0, "stats_moments": 1.7, "grouped_scale_pandas": 1.0, "text_profile": 2.8, "ngram_logprob": 2.1, "zorder_layout": 5.2, "passage_dedup": 2.2, "daily_stats": 1.0, "date_construction": 0.7, "event_window_agg": 0.6, "event_sliding_window": 0.6, "event_sessions": 1.0, "event_json_props": 0.6, "daily_stats_sql_udfs": 1.0, "dataset_split": 0.5, "array_functions": 0.5, "date_functions": 0.4, "doc_quality_signals": 1.5, "corpus_curation": 2.6, "corpus_mixture": 0.8, "bpe_pair_counts": 0.6, "snowflake_dialect_datetime": 0.4, "doc_classifier_margin": 0.6, "snowflake_dialect_qualify_nested": 0.5, "q12_ship_priority": 0.8, "embedding_gram": 0.7, "q13_customer_distribution": 0.8, "q11_important_parts": 1.0, "q20_promo_suppliers": 0.7, "weighted_sample_docs": 0.5, "q9_product_profit": 1.2, "q8_market_share": 1.5, "q21_waiting_suppliers": 1.3, "event_cohort_retention": 1.2, "q2_min_cost_supplier": 1.5, "doc_nb_quality": 1.3, "table_clone_changes": 3.2, "hll_audience_overlap": 1.2, "knn_graph_ivf2": 3.5, "doc_text_knn": 1.5, "event_funnel": 1.6, "semdedup_keep_lsh": 3.8, "ann_index_lifecycle": 4.5, "dedup_embedding_incremental": 4.0, "dedup_embedding_incremental_auto": 3.3, "neardup_clustering_coeff": 4.2, "ann_index_append": 5.8, "variant_extract": 0.5, "stratified_sample_n": 0.4, "rolling_user_stats": 0.6, "sequence_packing": 0.5, "multimodal_frames": 0.8, "multimodal_meta": 1.0, "pii_redaction": 0.4, "pandas_udaf_quartiles": 0.9, "hll_distinct_users": 0.6, "udtf_chunk": 0.7, "range_join_windows": 1.0, "quantile_sketch_value": 0.7, "hll_mergeable_rollup": 0.7, "lateral_join": 0.8, "q10_returned_items": 1.0, "tfidf_terms": 1.4, "recursive_cte": 2.1, "q5_local_supplier_volume": 1.6, "table_changes_cdf": 1.8, "multimodal_embed_ann": 2.5, "kmeans_clusters": 2.4, "pagerank_centrality": 3.9, "dedup_exact": 0.6, "dedup_minhash_lsh": 0.1, "dedup_simhash": 1.2, "ann_bruteforce_topk": 0.8, "ann_lsh_bucketed": 1.8, "ann_ivf_topk": 1.9, "dedup_embedding_cosine": 1.9, "contamination_check": 1.1, "cdc_apply_changes": 1.8, "ann_recall_eval": 2.0, "asof_cogrouped": 1.6, "asof_view_purchase": 0.6, "calendar_gapfill": 0.8, "doc_chunking": 0.4, "bm25_search": 0.7, "cms_heavy_hitters": 1.2, "collation_ops": 0.5, "ann_pq_topk": 2.5, "ann_ivfpq_topk": 2.0, "dedup_incremental": 2.3, "dedup_clusters": 0.3, "dedup_keep_summary": 0.7, "dedup_keep_best": 0.6, "watermark_filter": 0.4, "order_limit": 0.2, "q6_forecast_revenue": 0.3, "sql_session_variables": 0.4, "window_family2": 0.6, "join_anti": 0.4, "join_semi": 0.7, "neardup_triangles": 0.5, "q14_promo_revenue": 0.5, "percentile_stats": 0.4, "pivot_agg": 0.5, "set_ops": 0.7, "q15_top_supplier": 0.6, "subquery_family": 0.7, "join_right_outer": 0.5, "q22_sales_opportunity": 0.6, "snowflake_dialect_qualify": 0.4, "join_left_outer": 0.5, "q19_disjunctive": 0.6, "q17_small_quantity": 0.7, "window_family": 0.6, "merge_upsert_rewrite": 0.8, "skew_two_phase_agg": 0.7, "q18_large_orders": 0.7, "join_full_outer": 0.7, "q4_order_priority": 0.6, "q7_volume_shipping": 1.2, "skew_salted_join": 0.8, "q1_pricing_summary": 0.6, "unpivot_agg": 0.6, "rollup_agg": 0.6, "grouping_sets_agg": 0.5, "q16_supplier_variety": 0.8, "q3_top_revenue": 0.7, "merge_pruned_partitions": 2.5, "semdedup_keep": 2.3, "knn_graph": 1.7, "region_revenue": 0.9, "knn_graph_lsh": 2.4, "fuzzy_name_match": 0.6, "agg_global_minmax": 0.4, "case_string_funcs": 0.3, "cast_coercion": 0.3, "cube_agg": 0.6, "distinct_agg": 1.0, "dedup_ngram_jaccard": 1.3, "decimal_typed_stats": 0.4, "cms_grouped_hitters": 1.0, "data_quality_report": 1.0, "dml_update_delete": 1.2, "dedup_bloom_membership": 1.5, "passage_dedup_maximal": 2.5, "snowflake_dialect_misc": 0.5, "bpe_train_merges": 3.0, "corpus_curate_append": 22.0, "decontaminate_passages": 4.0, "url_dedup": 1.0, "bpe_encode_docs": 6.0, "epoch_shuffle_order": 0.8, "hard_negative_mining": 6.0, "text_normalization": 1.0, "snowflake_dialect_flatten": 0.5, "hard_negative_mining_ivf": 2.5, "leakage_safe_split": 0.5, "hybrid_search_rrf": 1.0, "html_text_extraction": 0.6, "lang_id_trained": 2.0, "main_content_extraction": 1.0, "corpus_delete_apply": 20.0, "ccnet_quality_buckets": 1.6, "lang_id_margin": 2.5, "crawl_curate_pipeline": 12.0, "dsir_selection": 3.0, "boilerplate_scrub": 2.5, "mixture_temperature_weights": 0.5, "tokenizer_fertility": 7.0, "jsonl_ingest": 0.8, "dedup_minhash_recall": 1.5, "intra_doc_scrub": 2.5, "data_schedule": 0.5, "dedup_winnowing": 4.0, "dedup_simhash_hamming": 2.5, "bm25_index_lifecycle": 5.0, "curriculum_order": 2.0, "span_corruption_pairs": 1.5, "packing_efficiency": 0.6, "cjk_segmentation": 2.5, "cjk_quality_gates": 3.2, "cjk_boilerplate_scrub": 4.0, "fertility_by_script": 5.7, "dedup_winnow_recall": 3.5, "dedup_simhash_recall": 3.4, "ann_index_reindex": 20.0, "length_bucket_report": 1.0, "gopher_char_gates": 10.0, "dedup_emblsh_recall": 3.0, "sea_segmentation": 2.6, "ivf_routed_assign": 2.5, "dedup_ngram_recall": 1.5, "corpus_chain_rebase": 12.0, "dedup_impact_report": 1.0, "classifier_pr_curve": 1.5, "ivf_routed_agreement": 2.0, "ann_sq8_topk": 2.0, "ann_ivf_sq8_topk": 2.5, "sq8_recall": 2.2, "ann_sq8_rerank": 2.3, "corpus_shard_export": 5.0, "corpus_shard_tokens": 5.0, "ann_index_sq8": 4.0, "corpus_shard_append": 6.0 }


# bench reps snapshot the session artifact cache and evict what a rep
# added, so the next rep re-does the same build work
memo_snapshot = artifacts.snapshot
memo_evict_new = artifacts.evict_new


def release_session_frames(spark) -> None:
    """Free the executor storage the inventory's queries leave behind —
    the SQL cache and ALL persistent RDD blocks (``localCheckpoint``
    storage lives there). A harness that runs the whole inventory in ONE
    default-1g session accumulates these until the heaviest query OOMs.
    The session artifact cache holds no executor storage and stays
    usable. Callers: the heavyweight declared queries, before building
    their plans, and bench.py between query blocks."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    jrdds = sc._jsc.sc().getPersistentRDDs()
    it = jrdds.iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)
    sc._jvm.System.gc()


def all_queries() -> dict:
    from . import (
        curation_q,
        pipeline_queries,
        relational,
        relational2,
        similarity,
        sketches_q,
        spark4,
        streamops,
        temporal_prep,
        textops,
        tpch22,
        tpch_more,
    )

    out: dict = {}
    for mod in (
        relational,
        relational2,
        pipeline_queries,
        streamops,
        textops,
        similarity,
        temporal_prep,
        sketches_q,
        spark4,
        tpch_more,
        tpch22,
        curation_q,
    ):
        out.update(mod.QUERIES)

    def rank(item):
        name, (_fn, _sql) = item
        # never-driver-checked queries (new or missed by every driver run
        # so far) come FIRST — they have no green history at all; then the
        # stalest checked block (r05 after the r07 rotation), cost-ascending
        # within a block to maximize how many rows the time budget lands.
        # (corpus_curate_append's r07 rank pin is gone: it got its r07 row.)
        rd = _LATEST_DRIVER_ROUND.get(name, 4.5)
        return (rd, _SF001_COST.get(name, 99.0), name)

    return dict(sorted(out.items(), key=rank))
