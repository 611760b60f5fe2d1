"""MERGE/upsert on the fledir container: correctness against a
pandas-computed expectation, metadata-bounded write amplification
(min/max + bloom tiers), atomicity/lifecycle composition with time
travel, and the loud-failure edges."""
from __future__ import annotations

import os

import numpy as np
import pytest

from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    _history_generations,
    encode_segment_columns,
    register_fledir,
)
from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
    merge_fledir,
)


def _write(spark, path, segments, bloomcols=None, mode="overwrite"):
    import pandas as pd

    register_fledir(spark)
    payloads = [encode_segment_columns(s) for s in segments]

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                i = int(row["seg_id"])
                yield pd.DataFrame(
                    {"seg_id": [i], "payload": [payloads[i]]}
                )

    w = (
        spark.createDataFrame(
            [(i,) for i in range(len(segments))], "seg_id long"
        )
        .repartition(2)
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode(mode)
        .option("path", path)
    )
    if bloomcols:
        w = w.option("bloomcols", bloomcols)
    w.save()
    return path


def _seg(ids: list[int]) -> list[tuple]:
    a = np.array(ids, dtype=np.int64)
    return [
        ("k", a),
        ("tag", np.array([f"t{v % 3}" for v in ids], dtype=object)),
        ("val", a * 10),
    ]


def _rows(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.format("fledir")
        .option("path", path).load().collect()
    )


def test_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "m1")
    _write(spark, path, [_seg([1, 2, 3]), _seg([10, 11, 12])])
    updates = spark.createDataFrame(
        [(2, "UPD", 999), (11, "UPD", 888), (50, "NEW", 500)],
        "k long, tag string, val long",
    )
    rep = merge_fledir(spark, path, updates, key="k")
    assert rep["rows_matched"] == 2
    assert rep["rows_inserted"] == 3
    expect = sorted([
        (1, "t1", 10), (3, "t0", 30), (10, "t1", 100), (12, "t0", 120),
        (2, "UPD", 999), (11, "UPD", 888), (50, "NEW", 500),
    ])
    assert _rows(spark, path) == expect


def test_metadata_bounds_write_amplification(spark, tmp_path):
    """Sorted layout: min/max alone confines the rewrite to the one
    overlapping segment — the other segments' names survive in the
    manifest untouched."""
    path = str(tmp_path / "m2")
    _write(
        spark, path,
        [_seg(list(range(0, 50))), _seg(list(range(100, 150))),
         _seg(list(range(200, 250)))],
    )
    before = {
        n for n, _ in __import__(
            "impala_avx2_parquet_scanner_spark.sources.fle_datasource",
            fromlist=["_manifest_entries"],
        )._manifest_entries(path)
    }
    updates = spark.createDataFrame(
        [(120, "UPD", 7)], "k long, tag string, val long"
    )
    rep = merge_fledir(spark, path, updates, key="k")
    assert rep["segments_rewritten"] == 1
    assert rep["segments_untouched"] == 2
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        _manifest_entries,
    )

    after = {n for n, _ in _manifest_entries(path)}
    assert len(before & after) == 2  # two originals untouched
    got = dict((r[0], (r[1], r[2])) for r in _rows(spark, path))
    assert got[120] == ("UPD", 7) and got[121] == ("t1", 1210)


def test_bloom_tier_bounds_rewrite_on_scattered_layout(spark, tmp_path):
    """Hash-scattered layout: every segment's interval covers the key,
    so only the bloom sidecars can confine the rewrite."""
    path = str(tmp_path / "m3")
    segs = [
        _seg(list(range(i, 600, 4))) for i in range(4)
    ]  # interleaved: all intervals ~[0, 600)
    _write(spark, path, segs, bloomcols="k")
    updates = spark.createDataFrame(
        [(17, "UPD", 1)], "k long, tag string, val long"
    )
    rep = merge_fledir(spark, path, updates, key="k")
    # key 17 lives in segment 1 (17 % 4); blooms must spare ~3 others
    # (FPR can cost at most a rare extra rewrite)
    assert rep["segments_rewritten"] <= 2
    assert rep["rows_matched"] == 1
    got = dict((r[0], (r[1], r[2])) for r in _rows(spark, path))
    assert got[17] == ("UPD", 1)


def test_merge_commits_one_generation_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "m4")
    _write(spark, path, [_seg([1, 2, 3])])
    pre = _rows(spark, path)
    updates = spark.createDataFrame(
        [(2, "UPD", 0)], "k long, tag string, val long"
    )
    merge_fledir(spark, path, updates, key="k")
    assert _history_generations(path) == [1, 2]
    # the pre-merge generation reads bit-exactly through retired files
    g1 = sorted(
        tuple(r)
        for r in spark.read.format("fledir")
        .option("path", path).option("generation", 1)
        .load().collect()
    )
    assert g1 == pre


def test_update_removing_entire_segment_leaves_empty_rewrite(
    spark, tmp_path
):
    path = str(tmp_path / "m5")
    _write(spark, path, [_seg([1, 2]), _seg([100, 101])])
    updates = spark.createDataFrame(
        [(1, "A", 0), (2, "B", 0)], "k long, tag string, val long"
    )
    rep = merge_fledir(spark, path, updates, key="k")
    assert rep["rows_matched"] == 2
    got = _rows(spark, path)
    assert got == sorted([
        (1, "A", 0), (2, "B", 0), (100, "t1", 1000), (101, "t2", 1010),
    ])


def test_string_key_merge(spark, tmp_path):
    path = str(tmp_path / "m6")
    seg = [
        ("name", np.array(["alice", "bob", "carol"], dtype=object)),
        ("score", np.array([1, 2, 3], dtype=np.int64)),
    ]
    _write(spark, path, [seg], bloomcols="name")
    updates = spark.createDataFrame(
        [("bob", 20), ("dan", 40)], "name string, score long"
    )
    merge_fledir(spark, path, updates, key="name", bloomcols="name")
    assert _rows(spark, path) == sorted([
        ("alice", 1), ("bob", 20), ("carol", 3), ("dan", 40),
    ])


def test_merge_loud_failures(spark, tmp_path):
    path = str(tmp_path / "m7")
    _write(spark, path, [_seg([1, 2])])
    ok = spark.createDataFrame(
        [(1, "A", 0)], "k long, tag string, val long"
    )
    dup = spark.createDataFrame(
        [(1, "A", 0), (1, "B", 0)], "k long, tag string, val long"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_fledir(spark, path, dup, key="k")
    wrong = spark.createDataFrame([(1, "A")], "k long, tag string")
    with pytest.raises(ValueError, match="exactly the stored"):
        merge_fledir(spark, path, wrong, key="k")
    with pytest.raises(KeyError):
        merge_fledir(spark, path, ok, key="nope")
    withnull = spark.createDataFrame(
        [(None, "A", 0)], "k long, tag string, val long"
    )
    with pytest.raises(ValueError, match="non-NULL"):
        merge_fledir(spark, path, withnull, key="k")
    with pytest.raises(ValueError, match="merge budget"):
        merge_fledir(spark, path, ok, key="k", max_update_rows=0)
    # partitioned root: updates without the partition keys refuse
    root = str(tmp_path / "proot")
    _write(spark, os.path.join(root, "p=A"), [_seg([1])])
    with pytest.raises(ValueError, match="partition key"):
        merge_fledir(spark, root, ok, key="k")


def test_partitioned_merge_routes_creates_and_spares_leaves(
    spark, tmp_path
):
    """Partitioned-root merge: updates route by partition key to
    per-leaf atomic merges, an unseen partition value CREATES its
    leaf with the table's schema, and untouched leaves' bytes
    survive byte-identically."""
    root = str(tmp_path / "pm")
    for key_, lo in (("A", 0), ("B", 100), ("C", 200)):
        _write(spark, os.path.join(root, f"p={key_}"),
               [_seg([lo, lo + 1, lo + 2])])
    import hashlib

    def leaf_digest(name):
        h = hashlib.md5()
        leaf = os.path.join(root, name)
        for f in sorted(os.listdir(leaf)):
            if f.endswith(".fle"):
                with open(os.path.join(leaf, f), "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    c_before = leaf_digest("p=C")
    updates = spark.createDataFrame(
        [
            ("A", 1, "UPD", 999),     # matched in p=A
            ("B", 500, "NEW", 5),     # new key in existing p=B
            ("D", 7, "DNEW", 70),     # whole new partition p=D
        ],
        "p string, k long, tag string, val long",
    )
    rep = merge_fledir(spark, root, updates, key="k")
    assert rep["leaves_created"] == 1
    assert rep["leaves_untouched"] == 1      # p=C never visited
    assert rep["rows_matched"] == 1
    assert leaf_digest("p=C") == c_before    # bytes untouched
    got = sorted(
        tuple(r)
        for r in spark.read.format("fledir").option("path", root)
        .load().select("p", "k", "tag", "val").collect()
    )
    assert ("A", 1, "UPD", 999) in got
    assert ("B", 500, "NEW", 5) in got
    assert ("D", 7, "DNEW", 70) in got
    assert len(got) == 11  # 9 original - 0 removed + 2 new, 1 replaced
    # the created leaf is a first-class fledir
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_row_count,
    )

    assert fledir_row_count(os.path.join(root, "p=D")) == 1


def test_partitioned_merge_missing_keys_and_null_partition(
    spark, tmp_path
):
    root = str(tmp_path / "pm2")
    _write(spark, os.path.join(root, "p=A"), [_seg([1])])
    nokeys = spark.createDataFrame(
        [(1, "A", 0)], "k long, tag string, val long"
    )
    with pytest.raises(ValueError, match="partition key"):
        merge_fledir(spark, root, nokeys, key="k")
    withnull = spark.createDataFrame(
        [(None, 1, "A", 0)], "p string, k long, tag string, val long"
    )
    with pytest.raises(ValueError, match="non-NULL"):
        merge_fledir(spark, root, withnull, key="k")


def test_merge_probe_converts_each_key_once(spark, tmp_path, monkeypatch):
    """The driver probe of a 50k-key merge over 16 segments converts
    each key into the stats domain once per (kind, scale), not once per
    segment, and still picks exactly the segments whose key range holds
    an update key."""
    import pandas as pd

    from impala_avx2_parquet_scanner_spark.sources import fle_kinds

    path = str(tmp_path / "probe")
    _write(spark, path, [
        _seg(list(range(s * 10_000, s * 10_000 + 1000))) for s in range(16)
    ])
    keys = np.arange(50_000, dtype=np.int64)  # spans segments 0..4
    updates = spark.createDataFrame(pd.DataFrame({
        "k": keys, "tag": ["u"] * keys.size, "val": -1 - keys,
    }))
    kind = type(fle_kinds.for_stats({"min": 0, "max": 1}))
    real = kind.value_of
    calls = []

    def counting(self, v, scale=0):
        calls.append(v)
        return real(self, v, scale)

    monkeypatch.setattr(kind, "value_of", counting)
    rep = merge_fledir(spark, path, updates, key="k")
    monkeypatch.undo()
    assert len(calls) <= keys.size  # one (kind, scale) pair
    assert rep["segments_rewritten"] == 5
    assert rep["segments_untouched"] == 11
    assert rep["rows_matched"] == 5 * 1000
    df = spark.read.format("fledir").option("path", path).load()
    assert df.count() == 16 * 1000 + 45_000
    assert df.filter("k < 50000 AND val >= 0").count() == 0
