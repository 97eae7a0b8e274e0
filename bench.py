"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS] (default: this host's usable cores). Prints the
full JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}
followed by a compact tail-capture-proof summary line (same metric/value/
unit/sf, per-query map referenced via bench_out.json).

Each query is forced end-to-end with the `noop` sink (full compute, no
driver-side materialization — the same discipline a 100 TB run needs).

Methodology change (r12, directed by the r11 verdict): session memos and
the CacheManager are cleared before EVERY timed pass, so per-query numbers
include the build cost of any shared relation the query's declared work
consumes (previously the first toucher's warm pass absorbed the build and
best-of-2 reported cache-hit timings for ~22 memo-consumer queries).
Old-methodology totals for the same tree are recorded in
OPTIMIZATION_r12.md for continuity.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
from etl_pipeline_spark.session import default_cpus, get_spark
from etl_pipeline_spark.utils.session_cache import clear_caches

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q9_product_type_profit",
    "q18_large_volume_customers",
    "q21_waiting_supplier",
    "lookup_enrich_customers",
    "agg_metrics_summary",
    "window_rank_running",
    "pagination_page_manifest",
    "naming_sanitize_chain",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "simhash_fingerprints",
    "dedup_simhash_hamming",
    "decontaminate_eval_overlap",
    "repetition_quality",
    "ann_cosine_topk",
    "ann_bucketed_sign_lsh",
    "ann_ivf_topk",
    "text_quality_scores",
    "multimodal_decode_features",
    "events_tumbling_1h",
    "events_sessionize_30m",
    "range_join_click_attribution",
    "resample_ffill_user_6h",
    "cms_partkey_estimates",
    "cms_heavy_hitters",
    "bloom_supplier_prune",
    "hll_orderkey_cardinality",
    "profile_approx_orders",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "unigram_surprisal_quality",
    "regression_detect_metrics",
    "windowed_heavy_hitters",
    "winnow_fingerprint_pairs",
    "dedup_chunk_exact",
    "cdc_merge_orders",
    "embedding_sq8_topk",
    "ann_recall_eval",
    "pagerank_part_supplier",
    "sql_drift_psi_event_values",
    "sql_table_checksum_orders",
    "quantile_sketch_values",
    "quality_filter_gopher",
    "anomaly_mad_events",
    "pack_sequences_budget",
    "temperature_sampled_mix",
    "dedup_lsh_recall_eval",
    "triangle_cosupplier_stats",
    "feature_rolling_events",
    "target_encode_priority",
    "lpa_cosupplier_communities",
    "join_size_estimate",
    "windowed_quantiles",
    "cohort_retention_users",
    "chisq_event_daypart",
    "corr_lineitem_moments",
    "multimodal_ahash_neardup",
    "multimodal_video_frame_dedup",
    "multimodal_audio_features",
    "embedding_outliers_topk",
    "split_leakage_check",
    "novelty_rate_docs",
    "kmeans_embedding_clusters",
    "nb_lang_classifier_eval",
    "bpe_top_merges",
    "tfidf_top_terms",
    "bigram_pmi_top",
    "bigram_perplexity_quality",
    "inverted_index_postings",
    "dedup_canonical_pick",
    "token_budget_allocation",
    "jl_projection_distortion",
    "stratified_kfold_assign",
    "adamic_adar_link_prediction",
    "entity_resolution_customers",
    "interval_merge_sessions",
    "seasonal_baseline_events",
    "bootstrap_revenue_ci",
    "windowed_distinct_users",
    "skew_salted_join",
    "k_anonymity_audit",
    "assoc_rules_events",
    "rfm_customer_segments",
    "pareto_abc_revenue",
    "benford_first_digit",
    "markov_transition_events",
    "quantile_normalize_values",
    "change_point_cusum_events",
    "late_data_accounting",
    "textrank_keywords",
    "theil_sen_price_trend",
    "attribution_credit_events",
    "stickiness_dau_mau",
    "funnel_latency_quantiles",
    "corpus_curation_e2e",
    "dsir_importance_select",
    "ccnet_perplexity_buckets",
    "session_path_topk",
    "ks_test_purchase_view",
    "auc_mann_whitney_embeddings",
    "anova_f_totalprice_priority",
    "mutual_info_status_priority",
    "l_diversity_audit",
    "kaplan_meier_retention",
    "gini_revenue_concentration",
    "zipf_alpha_terms",
    "acf_daily_revenue",
    "ndcg_label_ranking",
    "pattern_vshape_prices",
    "ewma_control_chart_daily",
    "mann_kendall_trend_revenue",
    "purchase_streaks_histogram",
    "cohort_ltv_curve",
    "item_cooccurrence_topk",
    "nelson_aalen_hazard",
    "ztest_conversion_ab",
    "seasonal_decompose_weekday",
    "burstiness_user_interarrival",
    "price_index_laspeyres",
    "modularity_cosupplier",
    "assortativity_cosupplier",
    "session_bounce_rate",
    "hhi_segment_concentration",
    "crossdoc_ngram_dup_mass",
    "diff_in_diff_purchase",
    "cuped_variance_reduction",
    "er_precision_recall",
    "forecast_backtest_mape",
    "t_closeness_audit",
    "seasonal_residual_anomalies",
    "knn_label_accuracy",
    "spearman_corr_daily",
    "gini_split_finder_price",
    "new_vs_returning_revenue",
    "abc_xyz_inventory_matrix",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    cpus = default_cpus()
    spark = get_spark(app_name="etl-pipeline-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_loaded()

    # No silent caps: HEADLINE keeps its historical order (cross-round
    # comparability), then every remaining registered query runs too —
    # the bench covers the FULL registry, and the JSON says so.
    suite = HEADLINE + sorted(n for n in REGISTRY if n not in set(HEADLINE))

    # JVM/codegen warmup on the smallest table so per-query numbers measure
    # the plan, not first-call JIT.
    REGISTRY["q1_pricing_summary"].spark_fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Noise discipline: the first execution of a query pays one-off costs
    # (Janino compile of its expressions, classloading, broadcast-thread
    # spin-up) that scheduling overlap turns into >2x swings on untouched
    # queries. Each query therefore runs twice and reports best-of-2,
    # which measures the plan, not the JIT lottery. Failures go to a
    # separate "errors" map (never a sentinel mixed into the timings) and
    # flip the exit code so a broken query can't read as a speedup.
    #
    # Memo transparency (r12, per the r11 verdict): EVERY pass — not just
    # the first — starts from a cleared session-memo state
    # (clear_caches(spark)) and an empty CacheManager (catalog.clearCache),
    # so a query that declares work over a shared relation (shingles,
    # jaccard pairs, edge sets, ANN index encodes, partsupp proxy …) pays
    # that build inside its own timed pass. Clearing before BOTH passes
    # matters: clearing only the second would let best-of-2 pick the first
    # pass, which can hit relations persisted by the PREVIOUS query's
    # timed pass. What survives across passes is exactly what honest
    # reuse allows: JVM JIT, Janino's generated-class cache, and warm
    # executor threads.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name in suite:
        fn = REGISTRY[name].spark_fn
        best = None
        try:
            for _ in range(2):
                clear_caches(spark)
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        except Exception as exc:  # one broken query must not kill the suite
            print(f"BENCH-ERROR {name}: {exc}", file=sys.stderr)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        timings[name] = round(best, 3)
        total += best

    metric = (
        "headline suite wall clock (noop sink, best-of-2 per query,"
        " session memos + cache cleared before every pass)"
    )
    out = {
        "metric": metric,
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "coverage": {"benched": len(suite), "registered": len(REGISTRY)},
    }
    if errors:
        out["errors"] = errors
    line = json.dumps(out)
    # Truncation-proofing (BENCH_r03's single line overflowed the
    # driver's tail capture): persist the full JSON to bench_out.json
    # FIRST, then print the line with an explicit flush. ALSO write a
    # per-core-count copy (bench_out_c<cpus>.json): the driver benches the
    # same tree at two core counts and the second run used to overwrite
    # the first's per-query map, which destroyed the round-over-round and
    # scaling diffs (PERF_r11 n_common: 0). Per-cpus files survive both
    # runs.
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in ("bench_out.json", f"bench_out_c{cpus}.json"):
        try:
            with open(os.path.join(here, fname), "w") as f:
                f.write(line + "\n")
        except OSError as exc:
            print(f"BENCH-WARN could not write {fname}: {exc}", file=sys.stderr)
    print(line, flush=True)
    # The driver records only the TAIL of stdout; the full 272-query JSON
    # line overflows that window (BENCH_r07/r08 carried "parsed": null).
    # Emit a compact one-line summary LAST so any tail capture ends with a
    # complete, parseable JSON line; bench_out.json keeps the per-query map.
    summary = {
        "metric": metric,
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "coverage": out["coverage"],
        "error_count": len(errors),
        "queries_full": f"bench_out_c{cpus}.json",
    }
    print(json.dumps(summary), flush=True)
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
