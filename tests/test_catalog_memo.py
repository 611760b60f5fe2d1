"""The relation memo (`parquet_io.read_parquet`, which `catalog.table`
reads through) + once-per-session runtime confs.

The memo must be a pure planning-cost optimization — same logical plan,
same results, no data caching — and must stay correct across the cases
it touches: per-session scoping, a file rewritten or added mid-session,
paths it cannot stamp, every input that shapes the resolved relation,
and the restored (previously overridden) mid-session shuffle-partition
invariance.
"""

from __future__ import annotations

import os
import shutil

import pytest

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.sources import parquet_io
from impala_avx2_parquet_scanner_spark.sources.parquet_io import read_parquet


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
    with the new rows: `read_parquet`'s memo entry carries the file's
    (size, mtime) stamp, and a stamp that no longer matches is a miss."""
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


def _region_copy(sf_dir, dst) -> str:
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"), dst)
    return str(dst)


def test_read_parquet_returns_same_frame_for_unchanged_input(spark, sf_dir):
    """An unchanged file resolves once: the second read is the same
    DataFrame object, so no listing or schema job runs again."""
    path = os.path.join(sf_dir, "nation.parquet")
    assert read_parquet(spark, path) is read_parquet(spark, path)
    assert read_parquet(spark, [path]) is read_parquet(spark, path)


def test_read_parquet_sees_file_added_to_directory(spark, sf_dir, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    _region_copy(sf_dir, d / "a.parquet")
    before = read_parquet(spark, str(d))
    n = before.count()
    _region_copy(sf_dir, d / "b.parquet")
    after = read_parquet(spark, str(d))
    assert after is not before
    assert after.count() == 2 * n


def test_read_parquet_never_memoizes_a_glob(spark, sf_dir, tmp_path):
    """A glob does not stat, so it has no stamp to validate a memo hit
    with: every call resolves it again and sees files added since."""
    _region_copy(sf_dir, tmp_path / "a.parquet")
    glob = str(tmp_path / "*.parquet")
    first = read_parquet(spark, glob)
    n = first.count()
    assert read_parquet(spark, glob) is not first
    _region_copy(sf_dir, tmp_path / "b.parquet")
    assert read_parquet(spark, glob).count() == 2 * n


@pytest.mark.parametrize("conf,value", [
    ("spark.sql.sources.useV1SourceList", ""),
    ("spark.sql.legacy.parquet.nanosAsLong", "false"),
])
def test_read_parquet_keys_relation_confs(spark, sf_dir, conf, value):
    """A conf Spark reads when it creates the relation gives a different
    frame while it is changed, and the first frame back after it is
    restored."""
    path = os.path.join(sf_dir, "region.parquet")
    base = read_parquet(spark, path)
    prior = spark.conf.get(conf)
    assert prior != value
    try:
        spark.conf.set(conf, value)
        changed = read_parquet(spark, path)
        assert changed is not base
        assert read_parquet(spark, path) is changed
    finally:
        spark.conf.set(conf, prior)
    assert read_parquet(spark, path) is base


def test_read_parquet_keys_schema_and_merge_schema(spark, sf_dir):
    from pyspark.sql.types import LongType, StructField, StructType

    path = os.path.join(sf_dir, "region.parquet")
    base = read_parquet(spark, path)
    narrow = StructType([StructField("r_regionkey", LongType())])
    with_schema = read_parquet(spark, path, schema=narrow)
    merged = read_parquet(spark, path, merge_schema=True)
    assert len({id(base), id(with_schema), id(merged)}) == 3
    assert with_schema.columns == ["r_regionkey"]
    assert read_parquet(spark, path, schema=narrow) is with_schema
    assert read_parquet(spark, path, merge_schema=True) is merged


class _NoMemo(dict):
    """A memo that forgets: every call resolves the relation again."""

    def setdefault(self, key, default=None):
        return {}


def _lineitem_flags(spark, sf_dir):
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "lineitem.parquet")
    return (read_parquet(spark, path).filter(F.col("l_quantity") <= 10)
            .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")))


@pytest.mark.parametrize("name", ["tpch_q6", "dedup_exact", "read_parquet"])
def test_memoized_results_match_uncached(spark, sf_dir, name, monkeypatch):
    """Same rows with the memo as with every relation resolved afresh
    through `parquet_io._resolve`."""
    from impala_avx2_parquet_scanner_spark import catalog
    from impala_avx2_parquet_scanner_spark.registry import REGISTRY

    fn = _lineitem_flags if name == "read_parquet" else REGISTRY[name].fn
    with_memo = sorted(map(tuple, fn(spark, sf_dir).collect()))
    resolves = []
    real_resolve = parquet_io._resolve

    def resolve(*args):
        resolves.append(args[1])
        return real_resolve(*args)

    monkeypatch.setattr(parquet_io, "_RELATIONS", _NoMemo())
    monkeypatch.setattr(catalog, "_DERIVED", _NoMemo())
    monkeypatch.setattr(parquet_io, "_resolve", resolve)
    without = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert resolves, "the uncached run never reached parquet_io._resolve"
    assert with_memo == without


def test_memo_dies_with_its_session(sf_dir):
    """A session the caller dropped is freed together with the frames
    both memos hold for it: after `stop()`, `del` and a collection, a
    weakref to it is dead.  Runs in a fresh interpreter with its own
    session, since the suite's session must live on.  pyspark itself
    keeps the newest session in its `RDD.toDF` patch; the script drops
    that reference first, so only the engine's references remain."""
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    script = textwrap.dedent(f"""
        import gc, sys, weakref
        sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
        from pyspark import RDD
        from pyspark.sql import SparkSession
        from impala_avx2_parquet_scanner_spark.catalog import table
        from impala_avx2_parquet_scanner_spark.sources.parquet_io import (
            read_parquet,
        )
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        path = {os.path.join(sf_dir, "region.parquet")!r}
        assert read_parquet(spark, path) is read_parquet(spark, path)
        assert table(spark, {sf_dir!r}, "events") is table(
            spark, {sf_dir!r}, "events")
        ref = weakref.ref(spark)
        spark.stop()
        del spark
        del RDD.toDF
        gc.collect()
        print("alive" if ref() is not None else "freed")
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "freed"
