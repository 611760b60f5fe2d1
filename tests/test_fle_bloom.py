"""Bloom-filter sidecars on the fledir container: the reference's hash
bitmap-filter probe (hdfs-parquet-scanner.cc:235-246, hash-util.h:44-95)
at rest — build/probe roundtrip, executor-side file skip proven by
corrupting refuted segments, fail-open edges, and sidecar lifecycle
(commit / overwrite sweep / retire / abort)."""
from __future__ import annotations

import os

import numpy as np
import pytest

from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    bloom_sidecar_refutes,
    build_segment_blooms,
    encode_segment_columns,
    parse_segment,
    register_fledir,
)


def _write_dir(spark, path, segments, bloomcols=None):
    import pandas as pd

    register_fledir(spark)

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                i = int(row["seg_id"])
                yield pd.DataFrame(
                    {
                        "seg_id": [i],
                        "payload": [encode_segment_columns(segments[i])],
                    }
                )

    w = (
        spark.createDataFrame(
            [(i,) for i in range(len(segments))], "seg_id long"
        )
        .repartition(2)
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("overwrite")
        .option("path", path)
    )
    if bloomcols:
        w = w.option("bloomcols", bloomcols)
    w.save()
    return path


def _seg(lo: int) -> list[tuple]:
    ids = np.arange(lo, lo + 50, dtype=np.int64)
    return [
        ("rid", ids),
        ("fp", np.array([f"fp-{i}" for i in ids], dtype=object),
         "str_plain"),
        ("qty", ids % 7),
    ]


def test_build_probe_roundtrip_int_and_str(tmp_path):
    seg = parse_segment(encode_segment_columns(_seg(1000)))
    blob = build_segment_blooms(seg, ["rid", "fp"])
    p = str(tmp_path / "x.bf")
    with open(p, "wb") as fh:
        fh.write(blob)
    # every present value: NOT refutable (no false negatives, ever)
    for i in (1000, 1025, 1049):
        assert not bloom_sidecar_refutes(p, [("rid", [i])])
        assert not bloom_sidecar_refutes(p, [("fp", [f"fp-{i}"])])
    # absent values: overwhelmingly refuted (FPR ~1%, check a sweep)
    missed = sum(
        not bloom_sidecar_refutes(p, [("rid", [i])])
        for i in range(500000, 500200)
    )
    assert missed <= 10
    assert bloom_sidecar_refutes(p, [("fp", ["fp-999999"])])
    # IN probe: refuted only when EVERY element is absent
    assert bloom_sidecar_refutes(p, [("rid", [777777, 888888])])
    assert not bloom_sidecar_refutes(p, [("rid", [777777, 1010])])
    # conjunction: any refuted conjunct suffices
    assert bloom_sidecar_refutes(
        p, [("rid", [1010]), ("fp", ["fp-999999"])]
    )


def test_probe_fails_open_on_type_mismatch_unknown_col_and_garbage(
    tmp_path,
):
    seg = parse_segment(encode_segment_columns(_seg(0)))
    p = str(tmp_path / "y.bf")
    with open(p, "wb") as fh:
        fh.write(build_segment_blooms(seg, ["rid"]))
    assert not bloom_sidecar_refutes(p, [("rid", ["not-an-int"])])
    assert not bloom_sidecar_refutes(p, [("rid", [True])])
    assert not bloom_sidecar_refutes(p, [("nope", [1])])
    assert not bloom_sidecar_refutes(p, [("rid", [])])
    garbled = str(tmp_path / "g.bf")
    with open(garbled, "wb") as fh:
        fh.write(b"NOPE" + b"\x00" * 16)
    assert not bloom_sidecar_refutes(garbled, [("rid", [123456])])
    assert not bloom_sidecar_refutes(
        str(tmp_path / "missing.bf"), [("rid", [1])]
    )


def test_unsupported_kind_and_unknown_column_raise():
    seg = parse_segment(encode_segment_columns([
        ("price", np.array([1.5, 2.5]), "f64"),
    ]))
    with pytest.raises(ValueError, match="blooms support"):
        build_segment_blooms(seg, ["price"])
    with pytest.raises(KeyError):
        build_segment_blooms(seg, ["nope"])


def test_all_null_column_bloom_refutes_everything(tmp_path):
    seg = parse_segment(encode_segment_columns([
        ("x", np.array([np.nan, np.nan])),  # all-NULL int column
    ]))
    p = str(tmp_path / "n.bf")
    with open(p, "wb") as fh:
        fh.write(build_segment_blooms(seg, ["x"]))
    # eq never matches NULL: an empty bloom refuting every literal is
    # exactly right
    assert bloom_sidecar_refutes(p, [("x", [0])])


def test_reader_skips_refuted_segments_before_first_byte(
    spark, tmp_path
):
    """The hard proof: corrupt every segment whose sidecar refutes the
    lookup.  If the bloom skip runs before the read, the query still
    answers; if any refuted segment were opened, parse would blow up."""
    from pyspark.sql import functions as F

    path = _write_dir(
        spark, str(tmp_path / "bl"),
        [_seg(0), _seg(1000), _seg(2000), _seg(3000)],
        bloomcols="rid,fp",
    )
    names = sorted(
        f for f in os.listdir(path) if f.endswith(".fle")
    )
    assert sorted(
        f for f in os.listdir(path) if f.endswith(".fle.bf")
    ) == [n + ".bf" for n in names]
    target = 2025  # lives in exactly one segment
    for n in names:
        if bloom_sidecar_refutes(
            os.path.join(path, n + ".bf"), [("rid", [target])]
        ):
            with open(os.path.join(path, n), "wb") as fh:
                fh.write(b"CORRUPTED")
    # explicit read schema: the corrupted first segment also breaks
    # schema INFERENCE (which probes it) — that path is fine and
    # out of scope here
    got = (
        spark.read.format("fledir")
        .schema("rid bigint, fp string, qty bigint")
        .option("path", path).load()
        .filter(F.col("rid") == target)
        .select("rid", "fp", "qty")
        .collect()
    )
    assert [tuple(r) for r in got] == [(2025, "fp-2025", 2025 % 7)]
    # same with the string conjunct driving the skip
    got2 = (
        spark.read.format("fledir")
        .schema("rid bigint, fp string, qty bigint")
        .option("path", path).load()
        .filter(F.col("fp") == "fp-2025")
        .select("rid")
        .collect()
    )
    assert [tuple(r) for r in got2] == [(2025,)]


def test_manifest_tags_bloomed_columns(spark, tmp_path):
    import json

    path = _write_dir(
        spark, str(tmp_path / "tag"), [_seg(0)], bloomcols="rid"
    )
    with open(os.path.join(path, "_DONE")) as fh:
        stats = json.loads(fh.read().splitlines()[0].split("\t", 1)[1])
    assert stats["rid"].get("bf") is True
    assert "bf" not in stats["fp"]


def test_overwrite_sweeps_stale_sidecars(spark, tmp_path):
    path = _write_dir(
        spark, str(tmp_path / "sw"),
        [_seg(0), _seg(100), _seg(200)], bloomcols="rid",
    )
    assert sum(f.endswith(".fle.bf") for f in os.listdir(path)) == 3
    # overwrite WITHOUT blooms: every stale sidecar must go
    _write_dir(spark, path, [_seg(500)])
    left = os.listdir(path)
    assert not any(f.endswith(".bf") for f in left)
    assert sum(f.endswith(".fle") for f in left) == 1


def test_compaction_retires_sidecars_with_their_segments(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        compact_fledir,
    )

    path = _write_dir(
        spark, str(tmp_path / "cp"),
        [_seg(0), _seg(100), _seg(200), _seg(300)], bloomcols="rid",
    )
    before = spark.read.format("fledir").option("path", path).load()
    n_before = before.count()
    sum_before = (
        spark.read.format("fledir").option("path", path).load()
        .agg(F.sum("qty")).collect()[0][0]
    )
    compact_fledir(spark, path, target_rows=1000)
    files = os.listdir(path)
    # merged-away sources are retired and their sidecars are GONE
    # (replay reads retired files by exact name, never via blooms)
    assert not any(
        f.endswith(".fle.bf") and not os.path.exists(
            os.path.join(path, f[:-3])
        )
        for f in files
    )
    after = spark.read.format("fledir").option("path", path).load()
    assert after.count() == n_before
    assert (
        spark.read.format("fledir").option("path", path).load()
        .agg(F.sum("qty")).collect()[0][0]
        == sum_before
    )


def test_append_name_reuse_evicts_stale_sidecar(spark, tmp_path):
    """Append rewriting an existing segment NAME without blooms: the
    old sidecar must die with the rename, or its stale bloom would
    silently refute values present in the new bytes."""
    import pandas as pd
    from pyspark.sql import functions as F

    path = str(tmp_path / "reuse")
    _write_dir(spark, path, [_seg(0)], bloomcols="rid,fp")
    assert os.path.exists(os.path.join(path, "seg_0.fle.bf"))

    payload_new = encode_segment_columns(_seg(9000))

    def encode(batches):
        for pdf in batches:
            for _ in pdf.itertuples():
                yield pd.DataFrame({
                    "seg_id": [0],
                    "payload": [payload_new],
                })

    (
        spark.createDataFrame([(0,)], "seg_id long")
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir").mode("append")
        .option("path", path).save()
    )
    assert not os.path.exists(os.path.join(path, "seg_0.fle.bf"))
    got = (
        spark.read.format("fledir").option("path", path).load()
        .filter(F.col("rid") == 9001).select("rid").collect()
    )
    assert [tuple(r) for r in got] == [(9001,)]


def test_probe_fails_open_on_truncated_and_null_field_sidecars(
    tmp_path,
):
    """Review finding: every malformed-sidecar shape must DECLINE, not
    crash — short files (struct.error) and null header fields
    (TypeError) included."""
    import json
    import struct as _struct

    short = str(tmp_path / "short.bf")
    with open(short, "wb") as fh:
        fh.write(b"FBF1\x04")  # magic + truncated length word
    assert not bloom_sidecar_refutes(short, [("rid", [1])])
    nullf = str(tmp_path / "nullf.bf")
    hdr = json.dumps(
        {"cols": {"rid": {"ht": "i64", "m": 64, "k": 4,
                          "off": None, "len": 8}}}
    ).encode()
    with open(nullf, "wb") as fh:
        fh.write(b"FBF1" + _struct.pack("<I", len(hdr)) + hdr
                 + b"\x00" * 8)
    assert not bloom_sidecar_refutes(nullf, [("rid", [1])])


def test_vector_probe_matches_scalar_reference():
    """`_bloom_any` answers every hash set exactly as the per-hash
    Python-integer probe (double hashing mod m) it replaced."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        _BF_K,
        _bloom_any,
        _bloom_words,
        _splitmix64,
    )

    def maybe(words, m, h):
        h1, h2 = h & (m - 1), (h >> 32) | 1
        return all(
            (int(words[((h1 + i * h2) & (m - 1)) >> 6])
             >> (((h1 + i * h2) & (m - 1)) & 63)) & 1
            for i in range(_BF_K)
        )

    rng = np.random.default_rng(5)
    m = 1 << 10
    words = _bloom_words(_splitmix64(rng.integers(0, 1 << 40, 60)), m)
    for n in (1, 3, 50):
        for _ in range(40):
            hs = _splitmix64(rng.integers(0, 1 << 40, n))
            want = any(maybe(words, m, int(h)) for h in hs)
            assert _bloom_any(words, m, hs, _BF_K) == want
