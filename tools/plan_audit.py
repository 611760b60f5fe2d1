"""Generate PLANS.md — physical-plan evidence for the 100 TB scale story.

For each audited query this prints the facts a cluster operator would
check before pointing the plan at 100 TB: how many shuffle exchanges the
plan has, which joins broadcast, what reached the parquet scan as pushed
filters, and how many columns the scan actually reads.  Run:

    python tools/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from impala_avx2_parquet_scanner_spark import registry  # noqa: E402
from impala_avx2_parquet_scanner_spark.plans import (  # noqa: E402
    exchange_count,
    final_adaptive_plan,
    formatted_plan,
    partition_filters,
    pushed_filters,
    read_schema_columns,
)
from impala_avx2_parquet_scanner_spark.session import get_spark  # noqa: E402

#: Queries whose plans carry the scale argument: the reference's own bench
#: set, the join-heavy TPC-H adaptations, and the pipeline scale paths.
AUDITED = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q8",
    "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q17", "tpch_q18", "tpch_q19",
    "tpch_q15", "tpch_q22", "dedup_minhash_lsh", "ann_ivf_topk", "text_vocab",
    "join_asof_events", "window_topk_per_group", "pipeline_curate",
    "events_attribution", "sql_join", "sample_stratified", "pack_token_budget",
    "shuffle_deterministic", "text_tfidf_topk", "events_funnel",
    "events_cohort_retention", "embedding_centroids", "agg_histogram",
    "scan_profile", "agg_histogram_equidepth", "agg_partial_merge",
    "join_shuffle_hash", "dedup_fuzzy_verify", "events_gap_fill",
    "events_growth_accounting", "scd2_build", "agg_kmv_distinct",
    "text_chunk_overlap", "text_bigram_pmi", "embedding_quantize_int8",
    "join_null_safe", "join_sort_merge", "join_range_binned",
    "sample_split_assign", "decontaminate_overlap", "multimodal_features",
    "text_repetition", "agg_sum_salted", "events_multires_rollup",
    "basket_pair_affinity", "agg_mode_argmax", "events_anomaly_zscore",
    "ann_knn_graph", "text_unigram_logprob", "tpch_q16", "tpch_q21",
    "udtf_split_words", "tpch_q2", "tpch_q9", "tpch_q11", "tpch_q20",
    "agg_count_min", "events_session_window", "sample_fixed_k",
    "dedup_semantic", "text_bm25_topk", "events_ohlc", "graph_pagerank",
    "merge_cdc_snapshot", "agg_winsorize", "dedup_canonical_keep",
    "curate_source_mix", "dedup_repeated_spans", "window_topk_twophase",
    "ann_ivf_kmeans", "fn_decimal", "dedup_winnowing",
    "events_path_transitions", "window_ignore_nulls", "subq_not_in",
    "text_bpe_train", "fn_datearith", "window_gaps_islands",
    "embedding_pq_codes", "ann_pq_adc_topk", "window_trailing_features",
    "join_scd2_pit", "scan_partition_pruned", "scan_nested_pruned",
    "dedup_incremental", "embedding_outliers", "fn_map",
    "join_asof_tolerance", "scan_csv_roundtrip", "scan_orc_roundtrip",
    "sink_sorted_roundtrip", "scan_custom_datasource_pushdown",
    "text_bpe_encode", "multimodal_gif_roundtrip", "scan_avro_roundtrip",
    "multimodal_phash_neardup", "events_interpolate", "graph_triangles",
    "window_ewma", "dedup_containment", "window_count_distinct",
    "events_anomaly_mad", "scan_footer_metadata", "scan_avro_temporal",
    "window_nulls_order", "fn_ieee_specials", "agg_grouping_id",
    "fn_unicode_order", "join_skew_salted", "join_asof_nearest",
    "window_sliding_median", "events_interval_union", "fn_url_parse",
    "agg_hll_native", "events_rfm", "join_bucketed_colocated",
    "agg_kmv_intersect", "dedup_edit_distance", "sql_lateral_topk",
    "fn_variant_path", "agg_weighted_median", "fn_base64_hex",
    "pred_like_advanced", "events_funnel_windowed",
    "events_attribution_multitouch", "agg_entropy_gini",
    # round 5 additions
    "agg_corr_matrix", "dedup_boilerplate_segments", "scan_metadata_cols",
    "multimodal_inventory", "selectivity_sorted_002", "scan_fle_kernels",
    "scan_zorder_pruned", "dedup_ngram_jaccard",
    # round 6 additions
    "scan_fle_roundtrip", "scan_fle_pushdown",
    # round 7-8 additions
    "scan_fle_multicolumn", "scan_fle_stat_pruned", "scan_fle_chunk_pruned",
    "scan_fle_signed", "fn_char_semantics",
    "scan_fle_double", "scan_fle_temporal", "scan_fle_like",
    "scan_fle_negation", "scan_fle_partitioned",
    # round-9 additions
    "scan_fle_dict_fallback", "scan_fle_schema_evolution",
    "scan_fle_partitioned_multi", "scan_fle_compacted",
    "scan_fle_runtime_filter", "scan_fle_zorder",
    # round-10 additions
    "scan_fle_retention", "scan_fle_retention_multi",
    "scan_fle_count_by_partition", "scan_fle_minmax_meta",
    # round-10 session-2 additions
    "scan_fle_sum_meta", "scan_fle_bloom_lookup", "scan_fle_time_travel",
    "scan_fle_merge_upsert", "scan_fle_delete_where",
    "scan_fle_stream_sink", "scan_fle_changes",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", cpus=8)

    print("# PLANS — physical-plan audit (generated by tools/plan_audit.py)")
    print()
    print(f"Scale-readiness evidence at `{sf_dir}`: shuffle exchange count,")
    print("broadcast usage, filters pushed to the parquet scan, and columns")
    print("actually read.  A plan survives a 100× scale-up when its shuffles")
    print("are keyed aggregations/joins (linear, AQE-managed), its dimension")
    print("joins broadcast, and its scans prune both rows and columns.")
    print()
    for name in AUDITED:
        spec = registry.REGISTRY.get(name)
        if spec is None:
            continue
        df = spec.fn(spark, sf_dir)
        plan = formatted_plan(df)
        n_ex = exchange_count(df)
        n_bc = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        filters = pushed_filters(df)
        cols = read_schema_columns(df)
        print(f"## {name}")
        print()
        print(f"- shuffle exchanges: **{n_ex}**; broadcast hash joins: "
              f"**{n_bc}**; sort-merge joins: **{smj}**")
        shown = ", ".join(f"`{f}`" for f in filters[:6])
        more = f" (+{len(filters) - 6} more)" if len(filters) > 6 else ""
        print(f"- pushed filters: {shown or '(none — full scan by design)'}{more}")
        pf = partition_filters(df)
        if pf:
            print(f"- partition filters (metadata pruning): "
                  + ", ".join(f"`{f}`" for f in pf[:4]))
        print(f"- columns read: {len(cols)} ({', '.join(sorted(set(cols))[:12])}"
              f"{'…' if len(set(cols)) > 12 else ''})")
        if name.startswith(("tpch_", "join_")):
            # join family: the static plan can't size unhinted build
            # sides, so also execute and report what AQE actually ran.
            # Each physical operator appears exactly once as a "(id) Op"
            # detail header — count those, not raw substring mentions.
            import re as _re

            fplan = final_adaptive_plan(spec.fn(spark, sf_dir))
            # the formatted AQE explain holds TWO trees (Final then
            # Initial) followed by a shared operator-details list; take
            # only the Final tree so each runtime operator counts once
            if "== Final Plan ==" in fplan:
                fplan = fplan.split("== Final Plan ==", 1)[1]
            fplan = fplan.split("== Initial Plan ==")[0]

            def _n(op: str, _p=fplan) -> int:
                return len(_re.findall(rf"\b{op} ", _p))

            counts = {
                op: _n(op)
                for op in ("BroadcastHashJoin", "SortMergeJoin",
                           "ShuffledHashJoin", "BroadcastNestedLoopJoin")
            }
            line = ", ".join(f"{op} x **{n}**" for op, n in counts.items())
            if not any(counts.values()) and "Join (unknown)" in fplan:
                # AQE stage reuse can leave the final tree as a
                # LogicalQueryStage wrapper whose joins print logically —
                # strategies are then only visible pre-runtime
                line += (
                    " (final tree is a reused LogicalQueryStage — join "
                    "strategies shown in the static section above)"
                )
            print(f"- final adaptive plan (post-execution): {line}")
        print()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
