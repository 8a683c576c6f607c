"""Plan-shape regression gate: every budgeted query's physical plan
must not grow NEW shuffles. Exchange count is the single best proxy
for "the plan you'd want at 100x" — broadcast demotions, lost
partial-agg, or a join strategy regression all show up as extra
Exchanges long before they show up in local wall-clock (which the
shared harness host makes noisy). Budgets are the counts measured at
round 3 (sf0.001 build-time plans, pre-AQE — deterministic); a query
may IMPROVE below its budget, never exceed it. When a legitimate
change adds a shuffle, update the budget in the same commit and say
why in its message.
"""

from __future__ import annotations

import pytest

from sparkifydb_datawarehouse_spark import registry

registry.load_all_modules()

EXCHANGE_BUDGETS = {
    "q_activity_heatmap": 3,
    # r6: two-tier LSH dedup gains the per-doc degree cap (VERDICT r5
    # #3) — a directed-edge window + undirected fold, +2 exchanges by
    # design; bounds the verify tier at cap*n edges
    "q_dedup_lsh_verified": 9,
    # r6: cross-doc exact-span coverage — doc-id window (leads), the
    # cross-doc hash semi-join, coverage distinct + per-doc agg.
    # 5 -> 6 when grams gained its localCheckpoint: the cut stops the
    # token-window job from EXECUTING twice (one per consumer) at the
    # cost of one more exchange over 8-byte hash rows — strictly less
    # total work
    "q_text_substring_dedup": 6,
    # r6: the scrub transform — min-doc-per-gram agg + join, coverage
    # anti join, per-doc ordered reassembly
    "q_text_substring_scrub": 5,
    # r6: map-side group assignment; summary agg + sort only
    "q_sample_group_split": 3,
    # r6: SemDeDup recall contract — anchor self-join (broadcast) +
    # final scalar agg; the kmeans fit runs at build time
    "q_dedup_semantic": 2,
    "q_agg_groupby": 2,
    "q_fulfillment_latency": 5,  # +1 r4: histogram agg replaces fact-scale per-priority sort
    "q_agg_robust_stats_approx": 4,
    "q_agg_rollup": 2,
    "q_agg_skew_kurt": 2,
    "q_ab_cuped": 4,
    "q_ab_power": 3,
    "q_anomaly_zscore": 2,
    "q_asof_join": 4,
    "q_abc_classification": 3,
    "q_basket_pairs": 9,
    "q_cohort_conversion": 5,
    "q_cohort_ltv": 6,
    "q_open_orders_daily": 6,
    "q_benford_digits": 5,
    "q_cusum_changepoint": 5,
    # 3 -> 4 in round 7: deliberate rework (VERDICT r6 #3) — +1 tiny
    # exchange for the per-cell τ window over (cell, supplier) bounds
    # rows (supplier-linear), which buys the branch-and-bound prune
    # that cut dim10× from 17.5 s to ~2.5 s; the argmin window-sort
    # over the full pair stream became a map-side-combined min(struct)
    "q_geo_nearest": 4,
    "q_greedy_allocation": 3,
    "q_overdue_customers": 4,
    "q_percentile_bands": 2,
    "q_rfm_segments": 4,
    "q_sample_weighted_noreplace": 0,
    "q_gini_concentration": 9,
    "q_kaplan_meier": 4,
    "q_kfold_metrics": 7,
    "q_price_volume_mix": 3,
    "q_ks_two_sample": 7,
    "q_last_touch_attribution": 3,
    "q_mannwhitney_u": 2,
    "q_new_vs_returning": 4,
    "q_text_bpe_merges": 1,
    "q_text_emerging_terms": 3,
    "q_text_heaps": 4,
    "q_time_in_state": 3,
    "q_text_inverted_index": 2,
    "q_text_zipf": 2,
    "q_welch_ttest": 2,
    "q_cdc_apply": 2,
    "q_cohort_retention": 5,
    "q_corpus_funnel": 9,
    "q_dedup_clusters": 1,
    "q_dedup_exact": 2,  # r4: scan-spread tried and reverted (measured regression; see dedup.py)
    # r8: contract-oracle conversion — the registered query is now the
    # recall/volume audit: exact prefix-filter truth (14, its own
    # budget) + the flag join + broadcast volume agg + final sort. The
    # raw candidate generator (minhash_band_pairs, the production
    # path) keeps its original 5-exchange shape. r9: 17 -> 8 — the
    # exact-truth tier is now the BOUNDED anchor slice (broadcast
    # brute-force posting join, VERDICT r8 #5) and both flags fold
    # into one pass over the candidate set
    "q_dedup_fuzzy_minhash": 8,
    "q_dedup_ngram_jaccard": 7,
    # r8 additions: contract forms over localCheckpointed detail
    # subplans — the visible plan is the flag/anchor tail only
    "q_dedup_lsh_verified_stages": 3,
    # 5 cap rows x (3 counting aggs + broadcast crossJoins) over
    # checkpointed candidate/verified/truth frames — many TINY
    # exchanges by construction, none data-bearing
    "q_dedup_lsh_cap_profile": 45,
    "q_text_bpe_train_distributed": 1,  # one-row createDataFrame tail
    "q_multimodal_decode_webp": 2,  # scan spread + final sort
    "q_multimodal_decode_jpeg_arith": 2,  # scan spread + final sort
    "q_multimodal_decode_jpeg_prog_arith": 2,  # scan spread + final sort
    "q_multimodal_decode_webp_lossy": 2,  # r10: scan spread + final sort; VP8 payloads never shuffle
    "q_multimodal_decode_webp_alpha": 2,  # r10: same shape (ALPH + VP8 still)
    "q_multimodal_decode_webp_anim": 2,  # r10: same shape (ANMF frame sampling)
    "q_dedup_image_phash": 4,  # r10: scan spread + two-phase distinct-agg rewrite (expand) + final sort; payloads die in the first mapInPandas
    "q_multimodal_decode_wav": 2,   # same shape (r8)
    "q_multimodal_decode_gif_frames": 2,  # same shape (r8)
    "q_dedup_representative": 2,
    # r8: contract-oracle conversion — truth is localCheckpointed
    # (the flagged frame has two consumers: recall agg + rows), so
    # the visible plan is the sketch pipeline + flag joins/aggs.
    # r9: 9 -> 8 — anchored truth broadcast into a single candidate
    # pass; the exact-dup theorem check bounded to the anchor slice
    "q_dedup_simhash": 8,
    "q_dq_referential": 15,
    "q_drift_psi": 2,
    "q_embedding_quantize": 5,
    "q_event_trigrams": 2,
    "q_feature_binning": 1,
    "q_file_census": 2,
    # r9 contract conversion: count + count_distinct agg over the
    # shuffle-free id projection
    "q_surrogate_key": 2,
    "q_forecast_eval": 3,
    "q_funnel_latency": 5,
    "q_k_anonymity": 3,
    "q_regression_slope": 3,
    "q_scan_binaryfile": 1,
    "q_winsorized_agg": 4,
    "q_flagship_revenue_by_region": 6,
    "q_global_rownumber": 5,
    "q_graph_pagerank": 1,
    "q_graph_triangles": 22,
    "q_islands_consecutive": 3,
    # 2 -> 10 in round 7: deliberate rework (VERDICT r6 #2) — the single
    # blocked join that was quadratic in block depth became distinct-name
    # groupBy + deletion-neighborhood self-join + distinct + expansion;
    # every new exchange carries the distinct-NAME domain or the output,
    # never the raw pair cross-product (73.6 s -> sub-quadratic at part×10);
    # 10 -> 14 with the merge hints that stop the estimator-fooled
    # auto-broadcast of the ×79-exploded side (OOMed at names×100)
    "q_join_fuzzy_levenshtein": 14,
    "q_join_interval_overlap": 2,
    "q_join_left": 1,  # -1 r4: dropped cosmetic trailing sort
    "q_join_range": 2,
    "q_keyset_pagination": 0,
    # 1 -> 5 in round 6: the query's OUTPUT changed from the raw
    # (vec_id, cluster) assignment (1 exchange: the sort) to the
    # contract-oracle row (VERDICT r5 #6) — a (cluster, dim) moments
    # agg feeding within-SS and total-SS folds + a scalar cross join.
    # The fit itself executes at build time and is not in this plan.
    "q_kmeans_embeddings": 5,
    "q_masked_view": 1,
    "q_merge_upsert": 3,
    "q_pattern_sequence": 2,
    "q_pit_join": 3,
    "q_impute_median": 4,
    "q_price_dispersion": 1,
    "q_profile_columns": 2,
    "q_purchase_cadence": 3,  # +1 r4: histogram agg replaces fact-scale global sort
    "q_supplier_hhi": 2,
    "q_rollup_timebucket": 2,
    "q_aging_report": 6,
    "q_sample_hash": 1,
    "q_skyline_pareto": 4,
    "q_sample_weighted": 2,
    "q_seasonal_index": 4,
    "q_segment_migration": 2,
    "q_sessionize_gap": 2,
    "q_similarity_batch_knn": 3,
    "q_similarity_ivf": 5,
    "q_similarity_topk": 1,
    "q_skew_diagnostics": 2,
    "q_sort_limit": 0,
    "q_sparkify_songplays": 2,
    "q_stream_stream_join": 2,
    "q_supplier_scorecard": 3,
    "q_stream_tumbling": 2,
    "q_table_diff": 3,
    "q_text_chunking": 1,
    "q_text_quality": 1,
    # r11: 2 -> 3 — the gram stream moved map-side (indexed transform;
    # the token-level window shuffle is GONE) and the per-doc
    # count_distinct now pays its own partial/final agg exchange over
    # gram rows. Net measured 1.5x faster at sf0.1 (1.49 -> 0.96 s):
    # one corpus-sized exchange traded for a smaller one.
    "q_text_repetition": 3,
    "q_text_tfidf": 5,
    "q_text_unigram_logprob": 7,
    "q_topk_per_group": 2,
    "q_tpch_q10_returned_items": 4,
    "q_tpch_q13_customer_distribution": 4,
    "q_tpch_q17_small_quantity": 3,
    "q_tpch_q18_large_customers": 5,
    "q_tpch_q1_pricing_summary": 2,
    "q_tpch_q21_waiting_suppliers": 7,
    "q_tpch_q2_min_cost_supplier": 5,
    "q_tpch_q3_shipping_priority": 3,
    "q_tpch_q4_order_priority": 3,
    "q_tpch_q5_local_supplier": 7,
    "q_tpch_q6_forecast_revenue": 1,
    "q_tpch_q7_volume_shipping": 7,
    "q_tpch_q9_product_profit": 5,
    "q_ts_interpolate": 4,
    "q_ts_ohlc": 2,
    "q_udaf_trimmed_mean": 2,
    "q_variant_json": 1,
    "q_histogram_2d": 2,
    "q_window_nth_value": 2,
    "q_window_rank": 2,
    "q_window_time_range": 2,
    # round-3 continuation (counts include ReusedExchange nodes — the
    # string count is a pin, not a distinct-shuffle tally)
    "q_ts_acf": 2,
    "q_ts_drawdown": 3,
    "q_ts_crosscorr": 2,
    "q_multitouch_attribution": 3,  # stack credits: one user_id window pass
    # r11: 12 -> 10 — adjacent pairs moved map-side (indexed transform),
    # the token-level lead-window shuffle is gone (measured 1.7x at sf0.1)
    "q_text_bigram_logprob": 10,
    # r11: KN bigram — adjacent pairs built map-side (no token-level
    # window shuffle); the 13 are n-gram-key aggs + tiny broadcasts
    "q_text_kneser_ney": 13,
    # r11: QOI decode — scan spread + final orderBy, the decode-family
    # floor (payloads never shuffle)
    "q_multimodal_decode_qoi": 2,
    # r11: unigram-LM tokenizer — the EM runs at build time (kmeans/BPE
    # discipline); the visible plan is the 4-row contract tail
    "q_tokenizer_unigram_lm": 1,
    # r11: heavy-hitter ground truth — (type,user) agg + rank window
    # over per-type aggregates + final sort; never raw events
    "q_stream_heavy_hitters": 3,
    # r11: l-diversity — QI groupBy (count_distinct expand) + scalar
    # rollup; output O(QI combos), same shape as q_k_anonymity
    "q_l_diversity": 4,
    # r11: TIFF decode — scan spread + final orderBy (decode floor)
    "q_multimodal_decode_tiff": 2,
    # r11: Avro OCF estate scan — per-file decode + final sort only
    "q_scan_avro": 1,
    # r12: logical-typed Avro estate scan — same shape (per-file
    # decode + final sort; the estate WRITE goes through the two-phase
    # avro_dir sink in a separate job)
    "q_scan_avro_logical": 1,
    # r12: Arrow IPC estate scan — per-file decode + final sort
    "q_scan_arrow_ipc": 1,
    # r12: retrieval metrics — 6 measured: the rank-window hash
    # shuffle (WindowGroupLimit pre-trims to <= k rows per qid per
    # partition, so it ships O(Q*k*partitions), not the corpus), the
    # per-query agg, the n_rel agg, the final range sort, and two
    # BroadcastExchanges of the bounded query set
    "q_rank_metrics": 6,
    # r12: wordpiece — word-histogram agg feeds a checkpointed frame;
    # segment mapInPandas + scalar total broadcast + final TakeOrdered
    "q_tokenizer_wordpiece": 3,
    # r12: snapshot reads — manifest-pruned parquet scan + final sort
    "q_snapshot_read_v1": 1,
    "q_snapshot_read_current": 1,
    # r12: snapshot diff — exceptAll over the 3 non-shared files
    # (2 hash exchanges) + final sort
    "q_snapshot_diff": 3,
    # r12: stats-pruned read — single range-file scan + final sort
    "q_snapshot_pruned_read": 1,
    # r12: fertility — lang-word agg + global word agg + segment join
    # + per-lang agg + final sort (all vocab-bounded after the scan)
    "q_tokenizer_fertility": 6,
    # r12: CDC change feed — exceptAll over the rewritten bucket pair
    # (2 hash exchanges) + final sort; shared buckets never scanned
    "q_snapshot_changes": 3,
    # r12: stream-format Arrow scan — per-file decode + one agg
    # exchange + final sort
    "q_scan_arrow_stream": 2,
    # r13: merge-on-read delete — BroadcastExchange of the key
    # sidecar (anti-join) + final range sort; the 4-file scan itself
    # never shuffles
    "q_snapshot_delete_mor": 2,
    # r13: copy-on-write delete read — plain pruned scan + final sort
    "q_snapshot_delete_cow": 1,
    # r13: schema-evolution aggregate — union of the two schema-group
    # scans is shuffle-free; one agg exchange + final sort
    "q_snapshot_schema_evolution": 2,
    # r13: 2-dim z-order pruned read — single intersecting-file scan
    # + final sort
    "q_snapshot_zorder_read": 1,
    # r13: snapshot-history metadata table — driver-side manifest
    # rows, one tiny sort exchange
    "q_snapshot_history": 1,
    # r13: MERGE read-back — ordinary HEAD read of the merged copy
    # (2 schema-group scans union + final sort; the merge itself runs
    # at fixture-build time through the optimistic protocol)
    "q_snapshot_merge_upsert": 1,
    # r13: OOV rate — lang-word agg + train-word agg + distinct-types
    # exchange + final per-lang agg; all vocab-bounded after the scans
    "q_tokenizer_oov": 4,
    # r11: FLAC decode — scan spread + final orderBy (decode floor)
    "q_multimodal_decode_flac": 2,
    # r11: t-closeness — QI groupBy + broadcast global distribution +
    # scalar rollup (the k-anonymity/l-diversity shape)
    "q_t_closeness": 6,
    # r11: MATTR — map-side sliding-window distinct counts; the only
    # exchange is the final sort
    "q_text_mattr": 1,
    "q_text_gopher_rules": 3,  # +1: deliberate scan spread (SCALING.md (f))
    "q_dedup_containment": 20,  # cap histogram adds tiny reused-exchange branches
    "q_sample_domain_match": 9,
    "q_agg_anova": 2,
    "q_text_pmi_collocations": 11,  # r11: -2, same map-side pair rewrite
    "q_conversion_paths": 2,
    "q_dedup_containment_sketch": 8,
    "q_grouped_regression": 3,
    "q_rate_anomaly": 1,
    # round-4 additions
    # r5: 7 -> 10 method rows (multi-table LSH) + per-row n_cand
    # accounting agg; every subplan reads the checkpointed scored
    # scan/IVF assignment, so the exchanges move tiny agg rows
    "q_ann_recall": 54,  # 10 top-k subplans unioned; QA harness by design
    "q_similarity_pq": 5,
    "q_multimodal_decode_ppm": 2,
    "q_join_inner_multikey_decimal18": 2,
    "q_winsorized_agg": 4,
    "q_dedup_prefix_filter": 14,  # rarity window + pair-gen + 2-stage verify
    "q_agg_count_min": 5,
    "q_join_bloom_prefilter": 7,
    "q_bootstrap_ci": 3,  # +1: deliberate scan spread before the B-fold md5 explode
    "q_diff_in_diff": 2,
    "q_map_in_arrow": 2,
    # r8: contract-oracle conversion adds the per-language exact
    # word-char anchor agg + its join onto the mapInPandas rollup
    "q_text_bpe_apply": 5,
    "q_agg_approx_distinct_calibration": 6,
    "q_join_partition_pruned": 3,
    "q_markov_attribution": 0,  # driver-solve; distributed part is window + tiny agg
    # round-5 additions
    "q_text_bm25": 2,  # stats reduce + top-k; tf/dl are map-only
    "q_search_rrf_fusion": 3,  # two TakeOrdered candidate lists + 2W-row fuse
    "q_text_cdc_chunks": 3,  # chunk groupBy + per-source agg; chunking is map-only
    "q_agg_kmv_overlap": 11,  # hash-only distincts/sort/agg; was 63 as a 4-way union
    # 3 -> 12 in round 7: deliberate rework (VERDICT r6 #2) — blocked
    # all-pairs UDF scan became distinct-name prefix-filter self-join +
    # UDF verify + expansion; exchanges carry name-domain tokens and the
    # output, never block cross-products (53.7 s -> sub-quadratic at part×10);
    # 12 -> 14 with pair-length-dependent prefixes + the merge hints
    # (see fuzzy.py _jw_candidates / _lev_candidates banners)
    "q_join_jaro_winkler": 14,
    "q_sample_dsir": 6,  # grams localCheckpointed once (was 8 with a doubled pipeline); B-row aggs + broadcast
    "q_scan_xml": 1,  # typed XML roundtrip; sort only
    "q_dedup_incremental": 3,  # batch collapse + fingerprint anti-join; hashes shuffle, text doesn't
    "q_multimodal_decode_jpeg": 2,  # scan spread + final sort; payloads never shuffle
    "q_session_window_batch": 2,  # one user_id shuffle into MergingSessions + sort
    "q_sql_pipe": 2,  # pipe syntax parses to the same agg+sort plan as ANSI
    "q_collation_groupby": 2,  # collated group key; agg + sort
    "q_hard_negatives": 2,  # anchors in closure; only per-batch top-k rows shuffle for the rank
    "q_text_readability": 1,  # map-only scores; final sort only
    "q_text_novelty": 4,  # gram-key window count + per-doc agg; 60-bit keys shuffle, text doesn't
    "q_corpus_budget_alloc": 5,  # source agg + scalar total broadcast + sort (20-row frame)
    "q_gdpr_erasure": 8,  # subjects broadcast thrice (erase/scrub/residual); counts shuffle, facts don't
    "q_dp_noisy_counts": 2,  # map-side-combined count + sort; noise is scalar per group
    "q_ml_inference_sql": 2,  # fused scoring is map-only; decile agg + sort
    "q_graph_link_prediction": 8,  # edges localCheckpointed once (was 61 re-embedded); cn join + anti + topk
}


@pytest.mark.parametrize("query_id", sorted(EXCHANGE_BUDGETS))
def test_exchange_budget(spark, sf_dir, query_id):
    plan = (
        registry.QUERIES[query_id](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    got = plan.count("Exchange")
    assert got <= EXCHANGE_BUDGETS[query_id], (
        f"{query_id}: {got} exchanges vs budget {EXCHANGE_BUDGETS[query_id]} — "
        f"a new shuffle appeared; plan head:\n{plan[:1200]}"
    )
