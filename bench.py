#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline conformance queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through the noop sink (full compute + all
columns, no write cost, no driver collect bottleneck), min of
``$SPARK_GRAFT_BENCH_REPEAT`` cold repeats. Timings exclude session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    # scans / sampling
    "scan_parquet_count", "sample_limit", "project_prune",
    "filter_strlen_trim", "filter_predicate", "null_blank_validate",
    # relational core
    "inner_join_agg_sort", "left_join_count_multisort", "three_way_join_agg",
    "anti_join", "semi_join", "group_having_dup", "agg_stats", "rollup_counts",
    "except_all", "intersect_keys", "union_all", "dedup_by_key",
    "upsert_merge", "dim_upsert", "full_outer_join", "cross_join_small",
    "cube_counts", "percentile_stats", "salted_join_agg", "cond_agg_flags",
    "scd2_dim_history",
    "string_agg_groups", "unpivot_metrics", "pivot_counts", "sql_api_join",
    "sql_pipe_agg", "variant_nested_paths",
    "recursive_cte_reachability", "zorder_skipping_events",
    "sql_scripting_order_share",
    "scalar_subquery_q17_shaped", "tpch_q18_shaped",
    # windows / sorts / temporal
    "topk_per_group", "window_rank", "window_running_sum", "window_lag_lead",
    "window_ntile", "sort_limit_topk", "asof_join", "range_join",
    # scalar / semi-structured
    "explode_split", "case_when_mapping", "map_lookup_normalize",
    "substring_first_token", "date_extract", "json_extract",
    "json_struct_parse", "array_ops",
    "regex_extract", "date_functions", "tumbling_window_agg",
    "sliding_window_agg", "session_window_agg", "audit_diff",
    "udaf_weighted_mean", "grouped_map_gaps",
    # LLM-pipeline extensions
    "text_exact_dedup", "token_count", "text_stats", "lang_id",
    "quality_score", "doc_fingerprint", "cosine_topk", "ann_topk_lsh",
    "ann_topk_multiprobe", "ivf_topk",
    "minhash_near_dup", "minhash_cc_dedup", "simhash_near_dup",
    "ngram_jaccard_pairs", "embedding_near_dup",
    # round 3: trained ANN + text-analysis + warehouse time travel
    "ivf_kmeans_topk", "tfidf_top_terms", "token_entropy", "scd2_asof",
    "decontaminate_corpus", "sessionize_events", "weighted_sample_counts",
    "ngram_counts", "histogram_prices", "sample_per_group",
    "key_skew_profile", "null_profile_events", "hll_distinct_rollup",
    "redact_pii_docs",
    "chunk_documents", "pack_training_sequences", "repetition_flags",
    "approx_quantile_check", "semantic_dedup",
    "resample_locf_events", "grouping_sets_counts", "curate_corpus_funnel",
    "normalize_text_docs", "cohort_retention_weekly",
    "conversion_funnel_steps", "time_weighted_avg_users",
    "apply_cdc_snapshot", "rolling_hour_window", "null_safe_join_counts",
    "wow_revenue_growth", "temperature_mix_counts",
    "contamination_report_docs", "triangle_counts_graph",
    "related_docs_topk", "union_schema_drift", "event_transition_matrix",
    "expectation_suite_lineitem",
    # end-to-end pipeline parity (round 2): full ingest→…→analytics DAG
    "pipeline_parity_authors", "pipeline_parity_categories",
    "pipeline_parity_citations",
    # round 3: the daily re-run (cross-batch dedup + id continuation)
    "pipeline_parity_incremental",
    # round 6: authors_parsed clean-split pipeline mode; VARIANT ingest;
    # fixed-vocab OOV coverage; semantic split-leakage
    "pipeline_clean_authors", "variant_props_stats", "vocab_coverage_docs",
    "embedding_leakage_report", "recursive_rollup_docs",
    "resample_interpolate_events", "ks_drift_events", "span_removal_docs",
    "referential_integrity_report", "lateral_topk_orders",
    "prefix_jaccard_docs", "passjoin_suppliers", "weighted_dedup_docs",
    "theil_sen_users", "kappa_lang_agreement", "mann_kendall_users",
    "l_diversity_customer", "assoc_rules_brands",
    "chi_square_lang_source", "ann_recall_report",
    "session_window_dynamic_gap", "quantile_normalize_events",
    "spearman_value_vs_time", "kendall_tau_users",
    "kaplan_meier_conversion", "bloom_membership_report",
    "cusum_changepoint_events", "t_closeness_customer",
    "weighted_quantiles_docs", "seasonal_outliers_events",
    "reconciliation_orders", "param_sql_price_bands",
    "media_phash_near_dup", "sliding_distinct_users",
    "cardinality_profile_orders", "burstiness_users",
    "lang_prf_report", "xcorr_click_purchase", "keyness_terms_sources",
    "source_vocab_overlap", "brand_basket_triples",
    "supplier_er_clusters", "did_report_events", "cuped_report_events",
    "bootstrap_means_events", "adversarial_validation_docs",
    "permutation_test_events", "readability_docs",
    "filter_parity_langs", "rfm_segments_customers",
    "degree_assortativity_graph", "kmv_distinct_users",
    "vocab_growth_docs", "minhash_recall_report",
    "js_divergence_sources", "calibration_bins_events",
    "nelson_aalen_conversion", "cmh_experiment_weeks",
    "freshness_report_events", "hill_tail_orders", "cramers_v_orders",
    "zipf_slope_docs", "ltv_cohort_triangle", "cvm_drift_events",
    "theil_decomposition_orders", "kmv_set_ops_users",
    "theta_set_ops_users",
    "brier_decomposition_events", "mutual_best_match_embeddings",
    "acf_hourly_events", "qte_report_events", "anova_value_event_type",
    "retention_halflife_events", "eb_return_rates_brands",
    "ols_price_lineitem", "covariate_balance_events",
    "cm_selfjoin_size_lineitem", "markov_attribution_events",
    "shapley_attribution_events",
    "tfidf_cosine_pairs_docs",
    "lm_score_docs",
    "periodogram_events",
    "item_cf_brands",
    "seq_patterns_events",
    "hdr_quantiles_prices",
    "isotonic_calibration_events",
    "logrank_test_events",
    "rake_keyphrases_docs",
    "pettitt_changepoint_events",
    "threshold_sweep_events",
    "clustering_coeff_graph",
    "kcore_graph",
    "sprt_report_events",
    "forecast_backtest_events",
    "mde_report_events",
    "interval_union_users",
    "functional_deps_orders",
    "grouped_ols_brands",
    "burrows_delta_sources",
    "ranking_metrics_suppliers",
    "seasonality_strength_events",
    "event_study_events",
    "qini_uplift_events",
    "dim_truncation_report_embeddings",
    "abc_xyz_brands",
    "funnel_within_events",
    "price_volume_bridge_brands",
    "cluster_quality_embeddings",
    "discount_impact_brands",
    "customer360_snapshot",
    "markov_stationary_events",
    "order_aging_buckets",
    "segment_order_quartiles",
    "slo_burn_events",
    "rollup_share_parent",
    "ivf_nprobe_curve_embeddings",
    "tpch_q3_shaped",
    "nearest_error_join",
    "label_noise_knn_embeddings",
    "embedding_norm_profile",
    "key_case_conflicts_part",
    "geo_nearest_warehouse",
    "geo_cell_density",
    "decay_score_users",
    "split_shipment_orders",
    "collation_dedup_suppliers",
    "event_streaks_users",
    "iqr_outlier_counts_events",
    "geo_pairs_within",
    "label_margin_embeddings",
    "hard_negatives_embeddings",
    "duplicate_payments_orders",
    "customer_revenue_percentile",
    "injection_screen_docs",
    "safety_stock_brands",
    "churn_training_set",
    "feature_hash_users",
    "target_encoding_brands",
    "srm_check_events",
    "fiscal_445_revenue",
    "unit_price_drift_parts",
    "median_ci_events",
    "dataset_card_docs",
    "oof_target_encoding_brands",
    "reciprocity_graph",
    "status_consistency_orders",
    "dispersion_orders",
    "pipeline_card_events",
    "hapax_rate_sources",
    "time_decay_attribution_events",
    "cosine_histogram_embeddings",
    "growth_accounting_weekly",
    "assortment_coverage_parts",
    "variety_score_users",
    "wow_contribution_segments",
    "source_overlap_matrix",
    "pchart_returns_weekly",
    "lang_source_residuals",
    "payday_lift_orders",
    "error_bursts_events",
    # round 4: script triage, bounded-memory heavy hitters, incremental
    # dedup index probe
    "script_profile_docs", "token_heavy_hitters",
    "minhash_incremental_pairs", "bm25_search_docs", "hybrid_search_rrf",
    "corpus_report_docs", "line_dedup_docs", "join_health_orders",
    "corr_matrix_lineitem", "length_bucketed_batches",
    "token_rarity_docs", "epoch_shuffle_head", "collocations_docs",
    "winsorized_stats_events", "journey_paths_events",
    "shard_by_tokens_docs", "pq_code_histogram", "split_leakage_report",
    "attribution_report_events", "rate_cap_events",
    "dedup_keep_best_docs", "user_growth_weekly",
    # round 4 main session: span dedup, privacy/outlier audits, PCA
    # moments, source triage
    "duplicate_passages_docs", "dup_span_profile_docs",
    "k_anonymity_customer", "outlier_zscore_events",
    "embedding_cov_block", "source_curation_docs",
    "exact_quantiles_prices", "top_pc_loadings",
    "brand_basket_pairs", "experiment_report_events",
    "edit_neighbors_suppliers",
    "trend_slope_events", "ewma_user_values", "incremental_agg_merge",
    "column_drift_orders", "benford_prices", "pysource_sensor_rollup",
    "sq8_error_report", "interval_concurrency_events",
    "mad_profile_events", "pareto_abc_brands", "concentration_suppliers",
    "containment_pairs_docs", "psi_value_drift",
    "funnel_gap_stats_events", "incremental_join_orders", "skyline_parts",
    "bpe_pair_counts_docs", "negative_samples_embeddings",
    "rendezvous_shard_report", "countmin_token_check",
    "token_budget_mix_docs", "grouped_split_counts",
    "apportioned_sample_docs", "auc_quality_vs_lang",
    # bfs_hops_graph excluded like the other 50-node demo-graph queries
    # (pure per-iteration job overhead, not throughput)
    # dataset-split / sampling (round 2)
    "hash_split_counts", "stratified_sample_counts", "quota_per_domain",
]

# The r01-comparable trend subset: exactly the 67 queries BENCH_r01.json
# recorded (baseline 57.9 s raw / 51.1 s BASELINE.md-final). Printed every
# run as `r01_subset_sec` so the BASELINE.md round-over-round table never
# needs the judge to reconstruct it from bench_detail.json (VERDICT r6
# task 3).
R01_SUBSET = [
    "agg_stats", "ann_topk_lsh", "anti_join", "array_ops", "asof_join",
    "audit_diff", "case_when_mapping", "cond_agg_flags", "cosine_topk",
    "cross_join_small", "cube_counts", "date_extract", "date_functions",
    "dedup_by_key", "dim_upsert", "doc_fingerprint", "embedding_near_dup",
    "except_all", "explode_split", "filter_predicate", "filter_strlen_trim",
    "full_outer_join", "group_having_dup", "grouped_map_gaps",
    "inner_join_agg_sort", "intersect_keys", "json_extract",
    "json_struct_parse", "lang_id", "left_join_count_multisort",
    "map_lookup_normalize", "minhash_cc_dedup", "minhash_near_dup",
    "ngram_jaccard_pairs", "null_blank_validate", "percentile_stats",
    "pivot_counts", "project_prune", "quality_score", "range_join",
    "regex_extract", "rollup_counts", "salted_join_agg", "sample_limit",
    "scan_parquet_count", "semi_join", "session_window_agg",
    "simhash_near_dup", "sliding_window_agg", "sort_limit_topk",
    "sql_api_join", "string_agg_groups", "substring_first_token",
    "text_exact_dedup", "text_stats", "three_way_join_agg", "token_count",
    "topk_per_group", "tumbling_window_agg", "udaf_weighted_mean",
    "union_all", "unpivot_metrics", "upsert_merge", "window_lag_lead",
    "window_ntile", "window_rank", "window_running_sum",
]
# excluded: streaming_* (incl. streaming_rate_tumbling) / stateful_profile
# / foreach_batch_replay_events (Structured Streaming lifecycle — two
# checkpointed availableNow runs per call — not query throughput),
# http_enrich / multimodal_features (stubbed kernels),
# udtf_split_authors (row-at-a-time Python API-coverage demo; its codegen
# twin explode_split IS benched),
# pipeline_parity_*_enriched (same DAG as the three benched pipeline
# queries + bridge updates — correctness surface, not new throughput),
# connected_components_*_graph + pagerank_graph + dedup_cluster_sizes
# (50-node demo graphs whose wall is pure per-iteration job overhead —
# minhash_cc_dedup benches CC throughput),
# fuzzy_join_suppliers (TPC-H's shared-prefix synthetic names collapse the
# blocking into ONE block — a deliberate worst-case correctness fixture,
# so its wall measures the quadratic verify, not the operator's blocked
# shape on real name distributions),
# ivfpq_adc_topk (its incremental work over the benched pq_code_histogram
# is a 10-row ADC search; the wall is re-TRAINING the same coarse cells +
# codebooks — training fixed cost is already charged once via
# pq_code_histogram and ivf_kmeans_topk)


def _load_gate() -> dict:
    """Bench-shot hygiene (VERDICT r10 task 3): past rounds recorded shots
    taken under neighbor load (load_1m up to 65) and needed prose to
    explain 5x swings on untouched queries. Gate: before timing anything,
    wait (bounded) for the 1-minute load average to drop below
    ``$SPARK_GRAFT_LOAD_GATE`` (default 2.0), polling every 15 s for up to
    ``$SPARK_GRAFT_LOAD_WAIT`` seconds (default 300). Never refuses — the
    driver's per-round shot must still land — but the printed line carries
    the gate verdict so a high-load row is machine-flagged, not narrated."""
    gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
    wait_s = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "300"))
    deadline = time.monotonic() + wait_s
    waited = 0.0
    try:
        load = os.getloadavg()[0]
    except OSError:  # pragma: no cover
        return {"threshold": gate, "load_at_start": None, "status": "unknown"}
    while load >= gate and time.monotonic() < deadline:
        print(f"load_gate: load_1m={load:.1f} >= {gate}, waiting...",
              file=sys.stderr)
        time.sleep(15)
        waited += 15
        load = os.getloadavg()[0]
    status = "ok" if load < gate else "high_load"
    return {"threshold": gate, "load_at_start": round(load, 1),
            "waited_sec": round(waited), "status": status}


def _cpu_probe() -> float:
    """Fixed single-thread CPU work unit (~1 s), reported with every shot.

    Round-11 finding: the shared box's per-round hardware varies (r11's
    host measured untouched r10 quiet-floor keys at 1.6-2.1x their
    recorded floors with ZERO steal and load < 1 — slower clocks, not
    neighbor load). `load_1m`/`load_gate` flag contention but cannot see
    a slower host; this probe is the box-speed denominator that lets a
    cross-round bench ratio separate "code got slower" from "box got
    slower". Compare probes before comparing totals."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i * i
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    load_gate = _load_gate()
    cpu_probe = _cpu_probe()

    from data_engineering__spark.conformance import QUERIES
    from data_engineering__spark.session import get_spark
    from tools.bench_keys import free_storage

    spark = get_spark("bench", master=f"local[{cpus}]")
    # warm the JVM/codegen paths once with a trivial action, and pre-spawn
    # the Arrow python workers (same fixed-cost category as JVM warmup —
    # daemon workers persist for the session)
    spark.range(1000).count()
    (spark.range(int(cpus) * 4).repartition(int(cpus))
     .mapInPandas(lambda it: it, "id long").count())

    # min-of-N per query: the box shares hardware (observed 5x swings on
    # untouched queries under neighbor load); the minimum is the engine's
    # actual capability, single-shot is a lottery. N=2 by default. Every
    # repeat is cold: after it, outside the timed region, the cache is
    # cleared and every stored RDD freed, so a repeat never reads blocks an
    # earlier one stored and left behind.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2")))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        best = None
        for _ in range(repeat):
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - start
            best = elapsed if best is None else min(best, elapsed)
            free_storage(spark)
        timings[name] = round(best, 3)

    sf_label = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_value: float | str = float(sf_label)
    except ValueError:
        sf_value = sf_label

    # The driver captures only the TAIL of stdout (observed: last 2000
    # chars) and parses the final JSON line. A ~170-entry queries map blows
    # that budget (BENCH_r03..r05 all recorded "parsed": null), so the full
    # per-query map goes to bench_detail.json next to this script and the
    # printed line carries the summary plus only the slowest queries —
    # compact enough to survive the capture window intact.
    r01_subset = round(sum(timings[k] for k in R01_SUBSET if k in timings), 3)
    # shared box: record the 1-minute load average AT CLOSE so a noisy
    # row in the trend table is self-explaining (neighbor load has
    # produced 5x swings on untouched queries in past rounds)
    try:
        load_1m = round(os.getloadavg()[0], 1)
    except OSError:  # pragma: no cover
        load_1m = None
    detail = {
        "metric": "headline_query_set_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_value,
        "r01_subset_sec": r01_subset,
        "r01_subset_n": sum(1 for k in R01_SUBSET if k in timings),
        "load_1m": load_1m,
        "load_gate": load_gate,
        "cpu_probe_sec": cpu_probe,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh)

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15])
    result = {
        "metric": "headline_query_set_wall_clock",
        "value": detail["value"],
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf_value,
        "r01_subset_sec": r01_subset,
        "load_1m": load_1m,
        "load_gate": load_gate,
        "cpu_probe_sec": cpu_probe,
        "queries": slowest,
        "detail": "bench_detail.json",
    }
    line = json.dumps(result)
    # hard guard: never exceed the driver's capture window
    while len(line) > 1800 and result["queries"]:
        result["queries"].popitem()
        line = json.dumps(result)
    print(line)


if __name__ == "__main__":
    main()
