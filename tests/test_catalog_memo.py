"""Round-10 optimization: catalog table memoization + once-per-session
runtime confs.

The memo must be a pure planning-cost optimization — same logical plan,
same results, no data caching — and must stay correct across the cases
the round-10 change touches: per-session scoping, a table rewritten
mid-session, and the restored (previously overridden) mid-session
shuffle-partition invariance.
"""

from __future__ import annotations

import os

import pytest

import impala_avx2_parquet_scanner_spark as engine
from impala_avx2_parquet_scanner_spark.catalog import _TABLE_MEMO, table

engine.load_all()


def test_table_returns_same_plan_object(spark, sf_dir):
    """Within one session the same (dir, name) yields the same DataFrame
    object — the re-list/re-infer planning cost is paid once."""
    a = table(spark, sf_dir, "region")
    b = table(spark, sf_dir, "region")
    assert a is b


def test_table_memo_is_per_dir(spark, sf_dir, tmp_path):
    """Different directories never share a memo entry."""
    import shutil

    alt = tmp_path / "alt_sf"
    alt.mkdir()
    src = os.path.join(sf_dir, "region.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, str(alt / "region.parquet"))
    else:
        shutil.copy(src, str(alt / "region.parquet"))
    a = table(spark, sf_dir, "region")
    b = table(spark, str(alt), "region")
    assert a is not b
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_table_memo_sees_rewritten_file(spark, sf_dir, tmp_path):
    """A table file rewritten in place mid-session gets a fresh frame
    with the new rows: the memo entry carries the file's (size, mtime)
    stamp, and a stamp that no longer matches is a miss."""
    import shutil

    import pyarrow.parquet as pq

    alt = tmp_path / "sf"
    alt.mkdir()
    dst = alt / "region.parquet"
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"), dst)
    before = table(spark, str(alt), "region")
    n_before = before.count()
    pq.write_table(pq.read_table(dst).slice(0, 2), dst)
    after = table(spark, str(alt), "region")
    assert after is not before
    assert n_before > 2 and after.count() == 2
    assert table(spark, str(alt), "region") is after


def test_spread_memo_follows_no_spread_flag(spark, sf_dir, monkeypatch):
    """Flipping SPARK_GRAFT_NO_SPREAD mid-session takes effect on the
    next spread_table call: the opt-out returns the bare base table, not
    the spread frame memoized before the flip, and clearing the flag
    again reuses that memoized spread frame."""
    from impala_avx2_parquet_scanner_spark.catalog import spread_table

    monkeypatch.delenv("SPARK_GRAFT_NO_SPREAD", raising=False)
    base = table(spark, sf_dir, "documents")
    spread = spread_table(spark, sf_dir, "documents", "doc_id")
    # the single-file fixture is below test parallelism, so it spreads
    assert spread is not base

    monkeypatch.setenv("SPARK_GRAFT_NO_SPREAD", "1")
    assert spread_table(spark, sf_dir, "documents", "doc_id") is base

    monkeypatch.delenv("SPARK_GRAFT_NO_SPREAD")
    assert spread_table(spark, sf_dir, "documents", "doc_id") is spread


def test_memoized_plan_not_data_cached(spark, sf_dir):
    """The memo holds a logical plan, not materialized data: the
    DataFrame must not appear in Spark's cache manager."""
    df = table(spark, sf_dir, "lineitem")
    assert not df.is_cached


def test_runtime_confs_do_not_clobber_mid_session_changes(spark, sf_dir):
    """ensure_runtime_confs applies once per session; a deliberate
    mid-session conf change (here: shuffle partitions, which the old
    code re-forced to 32 on every table() call) survives a table()
    call.  This is what makes test_results_invariant_under_partitioning
    actually exercise two different partition counts."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        table(spark, sf_dir, "region")
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prior)


class _NoMemo(dict):
    """A memo that forgets: every `table` call loads through `_load`."""

    def setdefault(self, key, default=None):
        return {}


@pytest.mark.parametrize("name", ["tpch_q6", "dedup_exact"])
def test_memoized_results_match_uncached(spark, sf_dir, name, monkeypatch):
    """Same rows with the memo as with every table loaded straight
    through `catalog._load`."""
    from impala_avx2_parquet_scanner_spark import catalog
    from impala_avx2_parquet_scanner_spark.registry import REGISTRY

    spec = REGISTRY[name]
    with_memo = sorted(map(tuple, spec.fn(spark, sf_dir).collect()))
    loads = []
    real_load = catalog._load

    def load(*args):
        loads.append(args[2])
        return real_load(*args)

    monkeypatch.setattr(catalog, "_TABLE_MEMO", _NoMemo())
    monkeypatch.setattr(catalog, "_load", load)
    without = sorted(map(tuple, spec.fn(spark, sf_dir).collect()))
    assert loads, "the uncached run never reached catalog._load"
    assert with_memo == without


def test_memo_scoped_weakly():
    """The memo container is a WeakKeyDictionary so a stopped session's
    plans are collectable."""
    import weakref

    assert isinstance(_TABLE_MEMO, weakref.WeakKeyDictionary)
