#!/usr/bin/env python
"""Headline-query timing: prints ONE JSON line and writes no file.

Runs the HEADLINE keys at $SPARK_GRAFT_SF_DIR (default sf0.1) on a warm
local[$SPARK_GRAFT_CPUS] session. Each run is the key's builder plus a
no-op write, so the whole plan executes without a driver collect. One
untimed first pass, then N_PASSES pass-interleaved timed passes; per key
the median (`queries`), the min (`queries_min`) and the first pass
(`queries_first`) are reported, and `value` is the sum of the medians.

The engine's benchmark is perfbench/ (BENCHMARK.json, protocol in
perfbench/WORKLOADS.md); this script only keeps the
`metric/value/unit/queries/sf` line its callers read.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from week3_2_practice_big_data__spark import REGISTRY, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Interleaved timed passes: the host's throughput drifts over minutes, and
# interleaving spreads that drift evenly across keys instead of loading it
# onto whichever keys run last.
N_PASSES = 5

HEADLINE = [
    # relational core
    "agg_groupby_multi", "join_inner_equi", "join_range_theta",
    "sort_orderby", "win_conv1d_frame",
    # generative pipeline
    "filt_point_in_polygon", "filt_pip_scanline", "win_conv2d_separable",
    "sort_composite_order", "gen_poster_full", "gen_poster_shadow",
    "proj_resample_bilinear", "gen_poster_caption", "gen_poster_aspect",
    # scale patterns
    "join_bucketed_colocated", "join_q3_shipping_priority",
    "join_q5_region_volume", "join_q7_volume_shipping", "ns_ann_knn_join",
    "qry_recursive_cte",
    # LLM data-prep ops
    "ns_dedup_exact", "ns_dedup_minhash", "ns_dedup_ngram_jaccard",
    "ns_dedup_simhash", "ns_dedup_embed_cosine", "ns_dedup_cluster",
    "ns_sim_topk", "ns_sim_ann_lsh", "ns_text_tfidf", "ns_semdedup",
    "ns_text_perplexity", "ns_dedup_substring", "iter_pagerank_tokens",
    # event-time windows, then the keys added later in the order they landed
    # (the order sets the interleaving, so it is kept). stream_unbounded_socket
    # is not benched: its wall is the driver-thread broker feeding the socket.
    "stream_tumbling_agg", "stream_session_window", "win_islands_blocked",
    "win_ntile_blocked", "stream_watermark_late", "stream_custom_state",
    "ns_sample_importance", "ns_decontaminate_bloom", "agg_sketch_cms_heavy",
    "win_event_pattern_cep", "ns_bpe_encode", "ns_dedup_incremental_persist",
    "agg_q6_forecast_revenue", "join_q8_market_share",
    "join_q9_product_profit", "ns_global_shuffle", "ts_max_drawdown",
    "ts_autocorr", "graph_bipartite_jaccard", "ts_cross_corr",
    "graph_resource_alloc", "win_budget_allocation", "dq_distribution_drift",
    "agg_sketch_kmv_intersect", "ns_text_bm25", "graph_clustering_coeff",
    "ml_knn_classify", "ml_decision_stump", "win_attribution",
    "graph_degree_distribution", "ml_lift_gains", "dq_freshness",
    "dq_rowcount_anomaly", "iter_als_rank2", "win_markov_transitions",
    "win_survival_km", "ns_pipeline_e2e", "iter_bfs_sssp", "win_pareto_abc",
    "ns_curriculum_order", "stream_chained_join_agg", "ts_rollup_multires",
    "ml_gbt_boost2", "stream_session_window_native", "ns_mm_pipeline_e2e",
    "udtf_python_native", "iter_kmeans_embed", "ns_vocab_coverage",
    "ns_topic_mixture", "src_python_datasource", "udf_arrow_map",
    "fn_sql_udf", "dq_observe_metrics", "stream_observe_metrics",
    "src_python_datasource_stream", "udf_arrow_grouped",
    "stream_pipeline_e2e", "sink_python_datasource",
    "stream_python_datasource_sink", "qry_pipe_syntax", "fn_variant_type",
    "stream_query_listener", "sink_python_datasource_arrow",
    "src_python_datasource_pushdown", "qry_parameterized_sql",
    "qry_modern_sql_sugar", "qry_session_variables", "qry_sql_scripting",
    "fn_udf_sql_register", "udf_pandas_iter", "stream_sink_foreach_rows",
    "stream_python_datasource_sink_arrow", "src_xml_roundtrip",
    "fn_xml_funcs", "fn_collation", "reshape_transpose",
    "src_statestore_read", "qry_dynamic_sql", "fn_time_type",
    "join_lateral_df", "src_file_metadata", "stream_rocksdb_state",
    "src_statestore_changefeed", "agg_grouping_sets_df", "fn_interval_agg",
    "src_arrow_roundtrip", "agg_crosstab", "set_union_byname_missing",
    "fn_mask_redact", "fn_crypto_aes", "agg_freq_items",
    "agg_approx_quantile", "agg_cov_corr", "agg_sample_by",
    "agg_sketch_theta_ops", "agg_regr_native", "agg_bitmap_native",
    "agg_histogram_numeric", "agg_random_split", "agg_describe_summary",
    "limit_offset_page", "qry_pandas_on_spark",
]


def run_once(spark, key: str) -> float:
    builder = REGISTRY[key].builder
    start = time.perf_counter()
    df = builder(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def main() -> None:
    spark = get_spark("w32bd-bench")
    spark.sparkContext.setLogLevel("ERROR")
    keys = [k for k in HEADLINE if k in REGISTRY]
    try:
        sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    # The untimed first pass warms the JVM, codegen and file listings; the
    # engine's `checkpointed` relations are built here once per session, so
    # `queries_first` shows the cold cost the timed passes no longer pay.
    per_query_first = {key: round(run_once(spark, key), 4) for key in keys}
    samples = {key: [] for key in keys}
    for _ in range(N_PASSES):
        for key in keys:
            samples[key].append(run_once(spark, key))
    per_query = {k: round(statistics.median(v), 4) for k, v in samples.items()}
    # The min is the best observed wall: far steadier than the median for
    # sub-second keys on a shared host.
    per_query_min = {k: round(min(v), 4) for k, v in samples.items()}
    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "n": N_PASSES,
        "queries": per_query,
        "queries_min": per_query_min,
        "queries_first": per_query_first,
        "sf": sf,
    }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
