"""Replays the verification driver's t2 gate over a representative sample
of the registry at sf0.001: row count + column names + order-insensitive
value equality vs DuckDB, with both result sets routed through pandas via
the same canonicalizer as tools/parity.py (which covers the full registry;
the sample keeps the suite fast)."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, ".")

from impala_avx2_parquet_scanner_spark.registry import REGISTRY

from tools.parity import compare_frames


SAMPLE = [
    "tpch_q1",
    "tpch_q6",
    "tpch_q13",
    "tpch_q9",
    "tpch_q20",
    "pred_in",
    "pred_kleene_null",
    "agg_rollup",
    "agg_collect_sorted",
    "agg_approx",
    "join_left_outer",
    "join_semi",
    "window_topk_per_group",
    "set_intersect",
    "fn_datetime",
    "fn_cast",
    "events_sessionize",
    "events_growth_accounting",
    "text_stats",
    "dedup_exact",
    "ann_bruteforce_topk",
    "dedup_semantic",
    "text_bm25_topk",
    "graph_pagerank",
    "join_asof_forward",
    "text_entropy",
    "events_ohlc",
    "basket_pair_affinity",
    "events_anomaly_zscore",
    "agg_kmv_merge",
    "merge_cdc_snapshot",
    "agg_winsorize",
    "dedup_canonical_keep",
    "curate_source_mix",
    "dedup_repeated_spans",
    "window_topk_twophase",
    "ann_ivf_kmeans",
    "dedup_winnowing",
    "subq_not_in",
    "window_ignore_nulls",
    "text_bpe_train",
    "fn_datearith",
    "window_gaps_islands",
    "events_path_transitions",
    "embedding_pq_codes",
    "ann_pq_adc_topk",
    "window_trailing_features",
    "join_scd2_pit",
    "multimodal_frame_dedup",
    "scan_partition_pruned",
    "scan_nested_pruned",
    "dedup_incremental",
    "fn_map",
    "embedding_outliers",
    "join_asof_tolerance",
    "scan_csv_roundtrip",
    "scan_orc_roundtrip",
    "sink_sorted_roundtrip",
    "scan_custom_datasource_pushdown",
    "multimodal_inventory",
    "scan_profile_approx",
    "multimodal_gif_roundtrip",
    "text_bpe_encode",
    "scan_avro_roundtrip",
    # round-5 additions
    "agg_corr_matrix",
    "dedup_boilerplate_segments",
    "scan_metadata_cols",
    "scan_fle_kernels",
    "selectivity_sorted_002",
    "scan_zorder_pruned",
]


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = REGISTRY[name]
    assert spec.oracle, f"{name} has no oracle"
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    duck_pdf = duck.execute(spec.oracle).df()
    assert compare_frames(spark_pdf, duck_pdf) == []


def test_all_registered_queries_have_unique_names():
    assert len(REGISTRY) >= 75


def test_oracle_keys_subset_of_queries():
    from impala_avx2_parquet_scanner_spark.registry import all_oracles, all_queries

    assert set(all_oracles()) <= set(all_queries())


def test_driver_window_is_representative():
    """The driver checks the alphabetically-first 50 exported names; that
    window must be exactly the curated CORE_WINDOW, every entry must carry
    an oracle, and it must span the §2 contract families."""
    from impala_avx2_parquet_scanner_spark.registry import (
        CORE_WINDOW,
        all_oracles,
        all_queries,
        registry_name,
    )

    names = list(all_queries())
    assert names == sorted(names)
    window = names[:50]
    assert {registry_name(n) for n in window} == set(CORE_WINDOW)
    oracles = all_oracles()
    assert all(n in oracles for n in window)
    families = ("pred_", "scan_", "tpch_", "join_", "window_", "fn_", "text_")
    for fam in families:
        assert any(registry_name(n).startswith(fam) for n in window), fam


@pytest.mark.parametrize(
    "name",
    ["tpch_q1", "agg_stats_exact", "tpch_q9", "text_bpe_train", "dedup_winnowing"],
)
def test_results_invariant_under_partitioning(spark, sf_dir, name):
    """The exact-decimal discipline's core promise: results are
    bit-identical at any parallelism.  Re-running under a different
    shuffle-partition count (different partial-aggregation grouping and
    reduce order) must produce the same rows."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spec = REGISTRY[name]

    def run():
        return sorted(map(tuple, spec.fn(spark, sf_dir).collect()))

    try:
        spark.conf.set(key, "3")
        low = run()
        spark.conf.set(key, "32")
        high = run()
    finally:
        spark.conf.set(key, prior)
    assert low == high


def test_driver_entry_contract(spark):
    """__spark_entry__.entry(spark) must run on an already-built session
    and return a non-empty DataFrame with a stable schema — the driver's
    smoke check."""
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"revenue", "n_rows"}


def test_bench_set_contract():
    """bench.py's headline set: every bench-flagged query exists, carries
    an oracle, and covers the reference's published workload (TPC-H
    benchmark queries + the full selectivity sweep incl. 80/100%)."""
    bench = {n: s for n, s in REGISTRY.items() if s.bench}
    assert all(s.oracle for s in bench.values())
    for required in ("tpch_q1", "tpch_q6", "tpch_q12", "tpch_q13", "tpch_q14",
                     "selectivity_002", "selectivity_080", "selectivity_100"):
        assert required in bench, required


def test_bench_detail_file_keeps_the_pin():
    """Only the pinned 32-core run writes `BENCH_FULL.json`; any other
    core count writes its own `BENCH_FULL_c<n>.json`, which the compact
    last line names as its `detail`."""
    import bench

    assert bench.detail_name(32) == "BENCH_FULL.json"
    assert bench.detail_name(8) == "BENCH_FULL_c8.json"
    assert bench.detail_name(4) == "BENCH_FULL_c4.json"
