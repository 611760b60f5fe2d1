"""fledir compaction: lossless decode→re-encode round trip across every
column kind, metadata-only bin planning, and the in-place distributed
rewrite (results identical pre/post, file count reduced, stats tiers
intact, partitioned roots compacted per leaf)."""
from __future__ import annotations

import datetime as dtm
import decimal as decm
import json
import os

import numpy as np
import pytest

from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    _manifest_entries,
    decode_segment_columns,
    encode_segment_columns,
    parse_segment,
    register_fledir,
)
from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
    compact_fledir,
    merge_segments_columns,
    plan_compaction_bins,
    segment_reencode_columns,
)


def _all_kinds_columns(rng: np.random.Generator, n: int) -> list[tuple]:
    """One column per kind, each with NULLs, covering the whole type
    matrix the container encodes."""
    null_at = rng.random(n) < 0.2

    ints = rng.integers(0, 1000, n).astype(object)
    ints[null_at] = None

    signed = rng.integers(-500, 500, n).astype(object)
    signed[null_at] = None

    dbl = rng.normal(0.0, 100.0, n)
    dbl[null_at] = np.nan

    strs = np.array(
        [f"val_{i % 7}" for i in range(n)], dtype=object
    )
    strs[null_at] = None

    plain = np.array([f"url-{i}-{rng.integers(1<<30)}" for i in range(n)],
                     dtype=object)
    plain[null_at] = None

    ts = (
        np.datetime64("1995-06-17T10:00:00", "us")
        + rng.integers(0, 10**9, n).astype("timedelta64[us]")
    )
    ts[null_at] = np.datetime64("NaT")

    dates = np.array(
        [dtm.date(1995, 1, 1) + dtm.timedelta(days=int(d))
         for d in rng.integers(0, 1000, n)],
        dtype=object,
    )
    dates[null_at] = None

    bools = rng.random(n) < 0.5
    bools = bools.astype(object)
    bools[null_at] = None

    decs = np.array(
        [decm.Decimal(int(v)).scaleb(-2)
         for v in rng.integers(-10**6, 10**6, n)],
        dtype=object,
    )
    decs[null_at] = None

    return [
        ("c_int", ints, None),
        ("c_signed", signed, None),
        ("c_dbl", dbl, "f64_nan_null"),
        ("c_dict", strs, None),
        ("c_plain", plain, "str_plain"),
        ("c_ts", ts, "ts"),
        ("c_date", dates, "date"),
        ("c_bool", bools, "bool"),
        ("c_dec", decs, ("dec", 12, 2)),
    ]


def _decoded(payload: bytes) -> dict:
    seg = parse_segment(payload)
    cols = decode_segment_columns(seg)
    return {
        c.name: (cols[c.name][0], cols[c.name][1], c.kind)
        for c in seg.columns
    }


def _assert_equal_decoded(a: dict, b: dict) -> None:
    assert set(a) == set(b)
    for name in a:
        va, ka, kind_a = a[name]
        vb, kb, kind_b = b[name]
        assert kind_a == kind_b, name
        np.testing.assert_array_equal(ka, kb, err_msg=name)
        np.testing.assert_array_equal(
            np.asarray(va)[ka], np.asarray(vb)[kb], err_msg=name
        )


def test_reencode_round_trip_all_kinds():
    rng = np.random.default_rng(7)
    cols = _all_kinds_columns(rng, 257)  # non-multiple of 64: tail lanes
    p1 = encode_segment_columns(cols)
    seg = parse_segment(p1)
    p2 = encode_segment_columns(segment_reencode_columns(seg))
    _assert_equal_decoded(_decoded(p1), _decoded(p2))
    # stats footer present on the re-encoded segment too
    assert parse_segment(p2).chunk_stats is not None


def test_merge_concatenates_in_order():
    rng = np.random.default_rng(11)
    a = _all_kinds_columns(rng, 130)
    b = _all_kinds_columns(rng, 65)
    pa_ = encode_segment_columns(a)
    pb = encode_segment_columns(b)
    merged = merge_segments_columns(
        [parse_segment(pa_), parse_segment(pb)]
    )
    pm = encode_segment_columns(merged)
    assert parse_segment(pm).n == 195
    da, db, dm = _decoded(pa_), _decoded(pb), _decoded(pm)
    for name in dm:
        vals, valid, kind = dm[name]
        ref_vals = np.concatenate(
            [np.asarray(da[name][0]), np.asarray(db[name][0])]
        )
        ref_valid = np.concatenate([da[name][1], db[name][1]])
        assert kind == da[name][2] == db[name][2], name
        np.testing.assert_array_equal(valid, ref_valid, err_msg=name)
        np.testing.assert_array_equal(
            np.asarray(vals)[valid], ref_vals[ref_valid], err_msg=name
        )


def test_merge_int_offset_union_and_string_fallback_redecision():
    # int planes in one segment, offset in another → merged offset kind
    p1 = encode_segment_columns([("x", np.arange(10, dtype=np.int64))])
    p2 = encode_segment_columns(
        [("x", np.arange(-5, 5, dtype=np.int64))]
    )
    merged = merge_segments_columns(
        [parse_segment(p1), parse_segment(p2)]
    )
    seg = parse_segment(encode_segment_columns(merged))
    vals, valid, _ = _decoded(encode_segment_columns(merged))["x"]
    assert list(vals[:10]) == list(range(10))
    assert list(vals[10:]) == list(range(-5, 5))
    assert valid.all()
    assert seg.n == 20


def test_merge_schema_mismatch_raises():
    p1 = encode_segment_columns([("x", np.arange(4, dtype=np.int64))])
    p2 = encode_segment_columns([("y", np.arange(4, dtype=np.int64))])
    with pytest.raises(ValueError, match="disagree on column names"):
        merge_segments_columns([parse_segment(p1), parse_segment(p2)])


def _write_tiny_dir(spark, tmpdir: str, n_segments: int = 24,
                    rows_per: int = 50) -> str:
    """Many tiny committed segments through the writer half."""
    import pandas as pd

    register_fledir(spark)
    path = os.path.join(tmpdir, "tiny_fle")

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                i = int(row["seg_id"])
                base = i * rows_per
                qty = np.arange(base, base + rows_per, dtype=np.int64)
                flag = np.array(
                    ["A" if v % 3 else "R" for v in qty], dtype=object
                )
                payload = encode_segment_columns(
                    [("l_quantity", qty), ("l_returnflag", flag)]
                )
                yield pd.DataFrame(
                    {"seg_id": [i], "payload": [payload]}
                )

    (
        spark.createDataFrame(
            [(i,) for i in range(n_segments)], "seg_id long"
        )
        .repartition(8)
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    return path


def _scan_sorted(spark, path):
    df = (
        spark.read.format("fledir").option("path", path).load()
        .orderBy("l_quantity")
    )
    return [(r["l_quantity"], r["l_returnflag"]) for r in df.collect()]


def test_compact_flat_dir_preserves_data_and_stats(spark, tmp_path):
    path = _write_tiny_dir(spark, str(tmp_path))
    before_rows = _scan_sorted(spark, path)
    before_files = len(_manifest_entries(path))
    assert before_files == 24

    report = compact_fledir(spark, path, target_rows=300)
    assert report["compacted"] is True
    after_files = len(_manifest_entries(path))
    assert after_files == report["files_after"] < before_files
    # every merged segment stays within the target
    for name, s in _manifest_entries(path):
        assert json.loads(s)["__rows__"] <= 300
        # chunk-stats footer present → mid-file pruning tier intact
        with open(os.path.join(path, name), "rb") as fh:
            assert parse_segment(fh.read()).chunk_stats is not None
    assert _scan_sorted(spark, path) == before_rows
    # pushdown on the compacted layout still answers correctly
    n = (
        spark.read.format("fledir").option("path", path).load()
        .filter("l_quantity >= 1100")
        .count()
    )
    assert n == sum(1 for q, _ in before_rows if q >= 1100)
    # second compaction is a no-op
    again = compact_fledir(spark, path, target_rows=300)
    assert again["compacted"] is False
    assert len(_manifest_entries(path)) == after_files


def test_compact_bins_metadata_only(spark, tmp_path):
    path = _write_tiny_dir(spark, str(tmp_path), n_segments=10,
                           rows_per=64)
    bins = plan_compaction_bins(path, target_rows=200)
    # 64-row segments, 200-row target → 3 per bin
    assert [len(b) for b in bins] == [3, 3, 3, 1]
    # manifest order inside each bin (sorted segment names)
    flat = [n for b in bins for n in b]
    assert flat == sorted(flat)
    # stats-less (legacy) entries count their rows from the segment
    # header, whose magic is checked
    from impala_avx2_parquet_scanner_spark.sources import sealed_dir

    done = os.path.join(path, "_DONE")
    entries = _manifest_entries(path)
    sealed_dir.write_manifest(
        done, [(n, "" if i % 2 else s) for i, (n, s) in enumerate(entries)]
    )
    assert plan_compaction_bins(path, target_rows=200) == bins
    with open(os.path.join(path, entries[1][0]), "r+b") as fh:
        fh.write(b"JUNK")
    with pytest.raises(ValueError, match="bad segment magic"):
        plan_compaction_bins(path, target_rows=200)


def test_compact_partitioned_root_per_leaf(spark, tmp_path):
    import pandas as pd

    register_fledir(spark)
    root = os.path.join(str(tmp_path), "part_fle")
    for key in ("A", "R"):
        leaf = os.path.join(root, f"flag={key}")

        def encode(batches, key=key):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    i = int(row["seg_id"])
                    qty = np.arange(i * 20, i * 20 + 20, dtype=np.int64)
                    payload = encode_segment_columns(
                        [("l_quantity", qty)]
                    )
                    yield pd.DataFrame(
                        {"seg_id": [i], "payload": [payload]}
                    )

        (
            spark.createDataFrame([(i,) for i in range(6)], "seg_id long")
            .repartition(3)
            .mapInPandas(encode, schema="seg_id long, payload binary")
            .write.format("fledir")
            .mode("overwrite")
            .option("path", leaf)
            .save()
        )

    def rows(path):
        df = (
            spark.read.format("fledir").option("path", path).load()
            .orderBy("flag", "l_quantity")
        )
        return [(r["flag"], r["l_quantity"]) for r in df.collect()]

    before = rows(root)
    report = compact_fledir(spark, root, target_rows=1000)
    assert report["leaves"] == 2
    assert report["compacted"] is True
    assert report["files_after"] == 2  # one merged segment per leaf
    assert rows(root) == before
    # partition pruning still works on the compacted layout
    n = (
        spark.read.format("fledir").option("path", root).load()
        .filter("flag = 'A' AND l_quantity < 40")
        .count()
    )
    assert n == sum(1 for f, q in before if f == "A" and q < 40)


def test_compact_sort_by_restores_monotone_chunk_stats(spark, tmp_path):
    """Unsorted tiny segments + sort_by compaction → each merged
    segment is internally sorted, its per-chunk BSTA stats are
    monotone non-overlapping, and the data survives byte-exactly."""
    import pandas as pd

    register_fledir(spark)
    path = os.path.join(str(tmp_path), "sorted_fle")
    rng = np.random.default_rng(13)

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                i = int(row["seg_id"])
                qty = rng.integers(0, 100_000, 200).astype(np.int64)
                payload = encode_segment_columns([("q", qty)])
                yield pd.DataFrame({"seg_id": [i], "payload": [payload]})

    (
        spark.createDataFrame([(i,) for i in range(12)], "seg_id long")
        .repartition(1)  # one task: the rng draws stay deterministic
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    before = sorted(
        r["q"] for r in
        spark.read.format("fledir").option("path", path).load().collect()
    )
    report = compact_fledir(spark, path, target_rows=1200, sort_by="q")
    assert report["compacted"]
    after = sorted(
        r["q"] for r in
        spark.read.format("fledir").option("path", path).load().collect()
    )
    assert after == before
    for name, _ in _manifest_entries(path):
        with open(os.path.join(path, name), "rb") as fh:
            seg = parse_segment(fh.read())
        vals, valid, _ = _decoded_one(seg)
        assert list(vals) == sorted(vals)  # merged segment is sorted
        mins, maxs = seg.chunk_stats[0]
        # sorted layout → chunk intervals are monotone, non-overlapping
        for j in range(1, mins.size):
            assert mins[j] >= maxs[j - 1]


def _decoded_one(seg):
    c = seg.columns[0]
    vals, valid = decode_segment_columns(seg, columns=[c.name])[c.name]
    return vals, valid, c.kind


def test_sort_merged_nulls_last():
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        sort_merged_columns,
    )

    cols = [
        ("k", np.array([3, None, 1, None, 2], dtype=object), "int"),
        ("v", np.array(["c", "x", "a", "y", "b"], dtype=object), None),
    ]
    s = sort_merged_columns(cols, "k")
    assert list(s[0][1][:3]) == [1, 2, 3]
    assert all(x is None for x in s[0][1][3:])
    assert list(s[1][1]) == ["a", "b", "c", "x", "y"]
    with pytest.raises(ValueError, match="sort_by"):
        sort_merged_columns(cols, "nope")


def test_stream_survives_compaction_exactly_once(spark, tmp_path):
    """The stream's offset is the processed file-name set; compaction
    rewrites names.  The lineage sidecar must make the merged files
    ABSORBED (offset-advanced, zero rows re-emitted), while genuinely
    new segments appended after compaction still flow."""
    import pandas as pd

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
        _read_lineage,
    )

    path = _write_tiny_dir(spark, str(tmp_path), n_segments=12,
                           rows_per=50)
    r = FleStreamReader({"path": path})
    rows1, off1 = r.read(r.initialOffset())
    assert len(list(rows1)) == 600

    report = compact_fledir(spark, path, target_rows=300)
    assert report["compacted"]
    lineage = _read_lineage(path)
    assert lineage  # promoted by the overwrite commit
    # merged names are generation-fresh: never reuse a replaced name
    merged = [n for n, _ in _manifest_entries(path)]
    assert all(int(n.split("_")[1].split(".")[0]) >= 1_000_000
               for n in merged)

    rows2, off2 = r.read(off1)
    assert list(rows2) == []  # absorbed, not re-emitted
    assert set(merged) <= set(off2["names"])

    # append NEW data: flows as usual
    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                qty = np.arange(9000, 9020, dtype=np.int64)
                flag = np.array(["A"] * 20, dtype=object)
                payload = encode_segment_columns(
                    [("l_quantity", qty), ("l_returnflag", flag)]
                )
                yield pd.DataFrame(
                    {"seg_id": [int(row["seg_id"])], "payload": [payload]}
                )

    (
        spark.createDataFrame([(5_000_000,)], "seg_id long")
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("append")
        .option("path", path)
        .save()
    )
    rows3, off3 = r.read(off2)
    assert len(list(rows3)) == 20

    # a SECOND compaction chains the lineage: a stream holding gen-1
    # merged names (off3) absorbs the gen-2 merge of them
    report2 = compact_fledir(spark, path, target_rows=100_000)
    assert report2["compacted"]
    rows4, off4 = r.read(off3)
    assert list(rows4) == []


def test_stream_partial_compaction_overlap_refuses(spark, tmp_path):
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
    )

    path = _write_tiny_dir(spark, str(tmp_path), n_segments=4,
                           rows_per=50)
    names = sorted(n for n, _ in _manifest_entries(path))
    # a mid-feed checkpoint: only the first two segments processed
    partial = {"names": names[:2]}
    compact_fledir(spark, path, target_rows=100_000)  # all 4 → 1
    r = FleStreamReader({"path": path})
    with pytest.raises(ValueError, match="exactly-once replay"):
        r.read(partial)


def test_plain_overwrite_drops_stale_lineage(spark, tmp_path):
    """A full table rewrite (not compaction) must clear the lineage —
    stale merged→sources entries could mark fresh data as streamed."""
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        _LINEAGE_NAME,
        _read_lineage,
    )

    path = _write_tiny_dir(spark, str(tmp_path), n_segments=6,
                           rows_per=50)
    compact_fledir(spark, path, target_rows=300)
    assert _read_lineage(path)
    # plain overwrite with fresh data
    _write_tiny_dir(spark, str(tmp_path), n_segments=3, rows_per=10)
    assert not _os.path.exists(_os.path.join(path, _LINEAGE_NAME))
    assert _read_lineage(path) == {}


def test_crashed_compaction_pending_never_promoted_by_plain_overwrite(
    spark, tmp_path
):
    """A crashed compaction leaves `_LINEAGE.pending`; a later PLAIN
    overwrite must delete it, not promote it — fresh table contents
    must never inherit a stale merged→sources map."""
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        _LINEAGE_NAME,
        _read_lineage,
        _write_lineage_pending,
    )

    path = _write_tiny_dir(spark, str(tmp_path), n_segments=4,
                           rows_per=10)
    # simulate the crashed compaction's staged sidecar
    _write_lineage_pending(
        path, {"seg_1000000.fle": ["seg_0.fle", "seg_1.fle"]}
    )
    _write_tiny_dir(spark, str(tmp_path), n_segments=2, rows_per=10)
    assert not _os.path.exists(
        _os.path.join(path, _LINEAGE_NAME + ".pending")
    )
    assert _read_lineage(path) == {}


def _write_two_col_dir(spark, path: str, n_segments: int = 16,
                       rows_per: int = 400, seed: int = 29) -> str:
    import pandas as pd

    register_fledir(spark)
    rng = np.random.default_rng(seed)
    payloads = []
    for _ in range(n_segments):
        a = rng.integers(0, 100_000, rows_per).astype(np.int64)
        b = rng.integers(0, 100_000, rows_per).astype(np.int64)
        payloads.append(encode_segment_columns([("a", a), ("b", b)]))

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                i = int(row["seg_id"])
                yield pd.DataFrame(
                    {"seg_id": [i], "payload": [payloads[i]]}
                )

    (
        spark.createDataFrame(
            [(i,) for i in range(n_segments)], "seg_id long"
        )
        .repartition(1)
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    return path


def test_compact_zorder_by_gives_chunk_tier_2d_locality(
    spark, tmp_path
):
    """Z-order compaction is a WITHIN-SEGMENT reorder: it cannot
    tighten file-level manifest stats (each merged file still spans
    its inputs' 2-D range) but it must give the BSTA CHUNK tier 2-D
    locality — summed per-chunk code spans shrink several-fold on BOTH
    columns vs the same compaction without the reorder."""

    def chunk_spans(path):
        out = {"a": 0, "b": 0}
        for name, _ in _manifest_entries(path):
            with open(os.path.join(path, name), "rb") as fh:
                seg = parse_segment(fh.read())
            for ci, c in enumerate(seg.columns):
                mins, maxs = seg.chunk_stats[ci]
                live = mins <= maxs  # skip empty intervals
                out[c.name] += int((maxs[live] - mins[live]).sum())
        return out

    # 32k rows → one 500-block merged file → ~32 BSTA chunks: enough
    # curve resolution that each chunk's 2-D box is clearly sub-domain
    plain = _write_two_col_dir(spark, str(tmp_path / "plain"),
                               rows_per=2000)
    compact_fledir(spark, plain, target_rows=40_000)
    zordered = _write_two_col_dir(spark, str(tmp_path / "z"),
                                  rows_per=2000)
    before = sorted(
        tuple(r) for r in
        spark.read.format("fledir").option("path", zordered).load()
        .collect()
    )
    report = compact_fledir(spark, zordered, target_rows=40_000,
                            zorder_by=("a", "b"))
    assert report["compacted"] and report["files_after"] == 1
    # data survives byte-exactly
    after = sorted(
        tuple(r) for r in
        spark.read.format("fledir").option("path", zordered).load()
        .collect()
    )
    assert after == before
    sp_plain, sp_z = chunk_spans(plain), chunk_spans(zordered)
    assert sp_z["a"] < 0.5 * sp_plain["a"]
    assert sp_z["b"] < 0.5 * sp_plain["b"]
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_fledir(spark, zordered, target_rows=800, sort_by="a",
                       zorder_by=("a", "b"))
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        zorder_merged_columns,
    )

    with pytest.raises(ValueError, match="zorder_by column"):
        zorder_merged_columns(
            [("a", np.arange(4, dtype=np.int64), "int")], "a", "nope"
        )


def test_expire_partitions_retention(spark, tmp_path):
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        discover_fledir_partitions,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        expire_fledir_partitions,
    )
    import pandas as pd

    register_fledir(spark)
    root = str(tmp_path / "ret")
    for day, n in ((20260801, 5), (20260802, 7), (20260803, 9)):
        leaf = os.path.join(root, f"day={day}")

        def encode(batches, n=n):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    qty = np.arange(n, dtype=np.int64)
                    yield pd.DataFrame({
                        "seg_id": [int(row["seg_id"])],
                        "payload": [
                            encode_segment_columns([("q", qty)])
                        ],
                    })

        (
            spark.createDataFrame([(0,)], "seg_id long")
            .mapInPandas(encode, schema="seg_id long, payload binary")
            .write.format("fledir")
            .mode("overwrite")
            .option("path", leaf)
            .save()
        )

    report = expire_fledir_partitions(root, 20260802)
    assert report == {
        "partitions_dropped": 1,
        "partitions_kept": 2,
        "rows_dropped": 5,
    }
    # the expired leaf is gone from discovery AND from disk
    _, leaves = discover_fledir_partitions(root)
    assert [v for v, _ in leaves] == [(20260802,), (20260803,)]
    assert not os.path.exists(os.path.join(root, "day=20260801"))
    df = spark.read.format("fledir").option("path", root).load()
    assert df.count() == 16
    # flat dir refuses; mismatched cutoff type refuses
    flat = str(tmp_path / "flat")
    (
        spark.createDataFrame([(0,)], "seg_id long")
        .mapInPandas(
            lambda it: (
                __import__("pandas").DataFrame({
                    "seg_id": [0],
                    "payload": [encode_segment_columns(
                        [("q", np.arange(3, dtype=np.int64))]
                    )],
                }) for _ in it
            ),
            schema="seg_id long, payload binary",
        )
        .write.format("fledir")
        .mode("overwrite")
        .option("path", flat)
        .save()
    )
    with pytest.raises(ValueError, match="not hive-partitioned"):
        expire_fledir_partitions(flat, 1)
    with pytest.raises(TypeError, match="does not compare"):
        expire_fledir_partitions(root, "2026-08-02")


def test_replay_skips_absorbed_and_reads_retired(spark, tmp_path):
    """The two review findings on the replay path: (1) a restarted
    stream replaying a planned batch must NOT re-emit absorbed merged
    files; (2) a replay whose offsets predate the compaction reads the
    RETIRED source bytes instead of crashing on deleted files."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        vacuum_fledir,
    )

    path = _write_tiny_dir(spark, str(tmp_path), n_segments=6,
                           rows_per=50)
    r = FleStreamReader({"path": path})
    names = sorted(n for n, _ in _manifest_entries(path))
    # batch 1 planned and committed: first 6 names
    off1 = {"names": names}
    rows1 = list(r.readBetweenOffsets(r.initialOffset(), off1))
    assert len(rows1) == 300

    report = compact_fledir(spark, path, target_rows=10_000)
    assert report["files_retired"] == 6
    # retired bytes still on disk, invisible to a fresh batch scan
    retired = [f for f in os.listdir(path) if f.endswith(".retired")]
    assert len(retired) == 6
    n = spark.read.format("fledir").option("path", path).load().count()
    assert n == 300

    # batch 2 read() absorbs the merged file...
    rows2, off2 = r.read(off1)
    assert list(rows2) == []
    # ...and the REPLAY of batch 2 must also emit zero rows (finding 1:
    # the naive end-start diff re-emitted all 300)
    assert list(r.readBetweenOffsets(off1, off2)) == []

    # replay of batch 1 after the compaction deleted nothing: the
    # retired files serve it (finding 2: FileNotFoundError before)
    assert len(list(r.readBetweenOffsets(r.initialOffset(), off1))) \
        == 300

    # vacuum reclaims; replay of historic offsets then fails loudly
    assert vacuum_fledir(path)["files_removed"] == 6
    assert not [f for f in os.listdir(path) if f.endswith(".retired")]
    with pytest.raises(ValueError, match="changed after the scan was planned"):
        list(r.readBetweenOffsets(r.initialOffset(), off1))


def test_incremental_compaction_leaves_target_size_files_alone(
    spark, tmp_path
):
    """O(new data) maintenance: a bin that is a single already-big file
    is carried by manifest entry, never re-read or rewritten."""
    path = _write_tiny_dir(spark, str(tmp_path), n_segments=12,
                           rows_per=50)
    compact_fledir(spark, path, target_rows=300)  # 12 → 2 merged
    merged = sorted(n for n, _ in _manifest_entries(path))
    inodes = {
        n: os.stat(os.path.join(path, n)).st_ino for n in merged
    }
    # append 4 new tiny segments
    _append_tiny(spark, path, start=100, n_segments=4, rows_per=50)
    report = compact_fledir(spark, path, target_rows=300)
    assert report["compacted"]
    # only the 4 new tiny files were merged; the 2 big ones untouched
    assert report["files_retired"] == 4
    for n, ino in inodes.items():
        assert os.stat(os.path.join(path, n)).st_ino == ino
    df = spark.read.format("fledir").option("path", path).load()
    assert df.count() == 800


def _append_tiny(spark, path, start, n_segments, rows_per):
    import pandas as pd

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                i = int(row["seg_id"])
                qty = np.arange(i * rows_per, (i + 1) * rows_per,
                                dtype=np.int64)
                flag = np.array(
                    ["A" if v % 3 else "R" for v in qty], dtype=object
                )
                yield pd.DataFrame({
                    "seg_id": [i],
                    "payload": [encode_segment_columns(
                        [("l_quantity", qty), ("l_returnflag", flag)]
                    )],
                })

    (
        spark.createDataFrame(
            [(start + i,) for i in range(n_segments)], "seg_id long"
        )
        .repartition(2)
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("append")
        .option("path", path)
        .save()
    )


def test_merge_all_null_segment_defers_to_typed_sibling():
    """Review finding: an all-NULL object segment re-infers as DICT and
    previously made _merge_hint raise against a typed sibling."""
    typed = encode_segment_columns([
        ("b", np.array([True, None, False], dtype=object), "bool"),
        ("t", np.array(
            ["1995-01-01T00:00:00"] * 3, dtype="datetime64[us]"), "ts"),
    ])
    all_null = encode_segment_columns([
        ("b", np.array([None, None], dtype=object)),
        ("t", np.array([None, None], dtype=object)),
    ])
    merged = merge_segments_columns(
        [parse_segment(typed), parse_segment(all_null)]
    )
    seg = parse_segment(encode_segment_columns(merged))
    assert seg.n == 5
    db = _decoded(encode_segment_columns(merged))
    vals, valid, _ = db["b"]
    assert list(valid) == [True, False, True, False, False]
    assert bool(vals[0]) is True and bool(vals[2]) is False
    tvals, tvalid, _ = db["t"]
    assert list(tvalid) == [True, True, True, False, False]


def test_retirenames_refused_with_overwrite(spark, tmp_path):
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        commit_fledir,
    )

    with pytest.raises(ValueError, match="append-mode contract"):
        commit_fledir(
            str(tmp_path), [], overwrite=True, retire={"seg_0.fle"}
        )
    assert os.listdir(tmp_path) == []


def test_append_evicts_stale_lineage_key(spark, tmp_path):
    """ADVICE r9: lineage entries persist after their merged file is
    vacuumed, and writer segment names (pid*100000+i) can legally
    collide with a long-gone compaction's million-aligned merged name.
    An append commit must evict the stale key, otherwise the stream
    classifies the genuinely NEW file as an already-processed merge
    and silently drops its rows."""
    import pandas as pd

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
        _read_lineage,
    )

    path = _write_tiny_dir(spark, str(tmp_path), n_segments=2,
                           rows_per=10)
    names = sorted(n for n, _ in _manifest_entries(path))
    # simulate the vacuumed compaction's leftover: a lineage entry
    # whose merged name no longer exists on disk but whose sources the
    # stream has fully processed
    with open(os.path.join(path, "_LINEAGE"), "w") as fh:
        fh.write("seg_1000000.fle\t" + ",".join(names))
    r = FleStreamReader({"path": path})
    _, off = r.read(r.initialOffset())  # both live segments processed

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                payload = encode_segment_columns([
                    ("l_quantity",
                     np.arange(500, 520, dtype=np.int64)),
                    ("l_returnflag", np.array(["A"] * 20, dtype=object)),
                ])
                yield pd.DataFrame(
                    {"seg_id": [int(row["seg_id"])],
                     "payload": [payload]}
                )

    (
        spark.createDataFrame([(1_000_000,)], "seg_id long")
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("append")
        .option("path", path)
        .save()
    )
    # the commit evicted the stale key...
    assert "seg_1000000.fle" not in _read_lineage(path)
    # ...so the stream EMITS the new file's rows instead of absorbing
    rows, _ = r.read(off)
    assert len(list(rows)) == 20


def test_lineage_coverage_iterative_deep_chain():
    """ADVICE r9: coverage chains one lineage generation per
    compaction; a recursive check dies at Python's recursion limit on
    a long-lived checkpoint.  The iterative worklist must resolve a
    chain far deeper than the limit, and a cyclic (corrupt) map must
    resolve to uncovered instead of looping."""
    import sys

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        _lineage_covered,
    )

    n = sys.getrecursionlimit() * 5
    lineage = {f"m_{i}.fle": [f"m_{i-1}.fle"] for i in range(1, n)}
    lineage["m_0.fle"] = ["orig.fle"]
    assert _lineage_covered(
        f"m_{n-1}.fle", {"orig.fle"}, lineage, {}
    )
    # an uncovered root stays uncovered through the same deep chain
    assert not _lineage_covered(
        f"m_{n-1}.fle", {"something_else.fle"}, lineage, {}
    )
    # fan-in: covered only when EVERY source is covered
    fan = {"m.fle": ["a.fle", "b.fle"]}
    assert _lineage_covered("m.fle", {"a.fle", "b.fle"}, fan, {})
    assert not _lineage_covered("m.fle", {"a.fle"}, fan, {})
    # cyclic corrupt sidecar: terminates, uncovered
    cyc = {"a.fle": ["b.fle"], "b.fle": ["a.fle"]}
    assert not _lineage_covered("a.fle", set(), cyc, {})


def _write_two_level_root(spark, root):
    """status=S/day=D leaves with distinct row counts."""
    import pandas as pd

    register_fledir(spark)
    layout = (
        ("F", 20260801, 3), ("F", 20260802, 5),
        ("O", 20260801, 7), ("O", 20260802, 11),
    )
    for st, day, n in layout:
        leaf = os.path.join(root, f"status={st}", f"day={day}")

        def encode(batches, n=n):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    yield pd.DataFrame({
                        "seg_id": [int(row["seg_id"])],
                        "payload": [encode_segment_columns(
                            [("q", np.arange(n, dtype=np.int64))]
                        )],
                    })

        (
            spark.createDataFrame([(0,)], "seg_id long")
            .mapInPandas(encode, schema="seg_id long, payload binary")
            .write.format("fledir")
            .mode("overwrite")
            .option("path", leaf)
            .save()
        )
    return layout


def test_expire_on_second_partition_key_distributed(spark, tmp_path):
    """VERDICT r9 #4/#5: retention must address ANY key level of a
    multi-key layout, and the per-leaf retire work must run as a
    distributed Spark job when a session is supplied."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        discover_fledir_partitions,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        expire_fledir_partitions,
    )

    root = str(tmp_path / "ret2")
    _write_two_level_root(spark, root)
    # expire on the SECOND key, distributed: day < 20260802 under
    # every status
    report = expire_fledir_partitions(
        root, 20260802, key="day", spark=spark
    )
    assert report == {
        "partitions_dropped": 2,
        "partitions_kept": 2,
        "rows_dropped": 10,  # 3 (F) + 7 (O)
    }
    _, leaves = discover_fledir_partitions(root)
    assert sorted(v for v, _ in leaves) == [
        ("F", 20260802), ("O", 20260802),
    ]
    df = spark.read.format("fledir").option("path", root).load()
    assert df.count() == 16  # 5 + 11
    # unknown key refuses with the layout's key list
    with pytest.raises(ValueError, match="not a partition key"):
        expire_fledir_partitions(root, 1, key="hour")


def test_expire_leading_key_of_two_level_layout(spark, tmp_path):
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        expire_fledir_partitions,
    )

    root = str(tmp_path / "ret3")
    _write_two_level_root(spark, root)
    # default (leading) key: status < 'O' drops both F leaves
    report = expire_fledir_partitions(root, "O")
    assert report["partitions_dropped"] == 2
    assert report["rows_dropped"] == 8  # 3 + 5
    assert not os.path.exists(os.path.join(root, "status=F"))


def test_expire_bool_cutoff_type_guard(spark, tmp_path):
    """VERDICT r9 'what's wrong' #2: isinstance(True, int) must not
    let a boolean cutoff silently compare against int keys."""
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        expire_fledir_partitions,
    )

    root = str(tmp_path / "ret4")
    _write_two_level_root(spark, root)
    with pytest.raises(TypeError, match="does not compare"):
        expire_fledir_partitions(root, True, key="day")


def test_vacuum_distributed_matches_driver_loop(spark, tmp_path):
    """VERDICT r9 #5: vacuum's per-leaf .retired reclamation runs as a
    Spark job when a session is supplied — same result as the driver
    loop."""
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        vacuum_fledir,
    )

    root = str(tmp_path / "vac")
    _write_two_level_root(spark, root)
    # retire two fake segment files per leaf
    n_leaves = 0
    for st in ("F", "O"):
        for day in (20260801, 20260802):
            leaf = os.path.join(root, f"status={st}", f"day={day}")
            for k in range(2):
                with open(os.path.join(
                    leaf, f"seg_9{k}.fle.retired"
                ), "wb") as fh:
                    fh.write(b"x")
            n_leaves += 1
    report = vacuum_fledir(root, spark=spark)
    assert report["files_removed"] == 2 * n_leaves
    # idempotent, and the driver-loop path agrees on the empty state
    assert vacuum_fledir(root)["files_removed"] == 0


# ---------------------------------------- merge-hint lattice fuzz


def _lattice_segment(num_profile, str_profile, rows, seed):
    """One segment whose two columns exercise a merge-lattice corner:
    numeric int-vs-offset-vs-all-NULL, string dict-vs-plain-vs-all-NULL
    (hintless all-NULL columns store as the empty-inference default and
    must not vote on the merged hint)."""
    rng = np.random.default_rng(seed)
    if num_profile == "nonneg":
        q = rng.integers(0, 50, rows).astype(np.int64)
        num = (q, None)
    elif num_profile == "signed":
        q = rng.integers(-50, 50, rows).astype(np.int64)
        q[0] = -1  # force at least one negative → offset planes
        num = (q, None)
    elif num_profile == "nulls":
        o = np.array(
            [None if rng.random() < 0.4 else int(v)
             for v in rng.integers(-20, 20, rows)],
            dtype=object,
        )
        num = (o, None)
    else:  # all_null
        num = (np.full(rows, None, dtype=object), None)
    if str_profile == "dict":
        s = rng.choice(np.array(["A", "B", "C"], dtype=object), rows)
        st_ = (s.astype(object), None)
    elif str_profile == "plain":
        s = np.array(
            [None if rng.random() < 0.2 else f"u-{rng.integers(1e6)}"
             for _ in range(rows)],
            dtype=object,
        )
        st_ = (s, "str_plain")
    elif str_profile == "nulls":
        s = np.array(
            [None if rng.random() < 0.5 else "A" for _ in range(rows)],
            dtype=object,
        )
        st_ = (s, None)
    else:  # all_null
        st_ = (np.full(rows, None, dtype=object), None)
    cols = [("q", *num), ("s", *st_)]
    expected_q = [
        None if v is None else int(v) for v in np.asarray(num[0])
    ]
    expected_s = list(st_[0])
    return encode_segment_columns(cols), expected_q, expected_s


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _PROFILE_NUM = st.sampled_from(
        ["nonneg", "signed", "nulls", "all_null"]
    )
    _PROFILE_STR = st.sampled_from(["dict", "plain", "nulls", "all_null"])
    _SEGMENTS = st.lists(
        st.tuples(
            _PROFILE_NUM, _PROFILE_STR, st.integers(1, 40),
            st.integers(0, 2**31 - 1),
        ),
        min_size=2, max_size=5,
    )

    @given(_SEGMENTS)
    @settings(max_examples=150, deadline=None)
    def test_merge_hint_lattice_fuzz_roundtrip(specs):
        """VERDICT r9 #8: fuzz mixed-kind / all-NULL / evolved segment
        sets through merge→re-encode→decode and compare every lane
        against the raw concatenation.  The {int,offset}→offset and
        all-NULL-no-vote rules must hold on every composition."""
        from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
            decode_segment_columns,
        )
        from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
            merge_segments_columns,
        )

        payloads, exp_q, exp_s = [], [], []
        for num_p, str_p, rows, seed in specs:
            p, eq, es = _lattice_segment(num_p, str_p, rows, seed)
            payloads.append(p)
            exp_q += eq
            exp_s += es
        segs = [parse_segment(p) for p in payloads]
        try:
            merged = merge_segments_columns(segs)
        except ValueError as exc:
            # the only legal refusal is a genuine kind conflict
            assert "incompatible kinds" in str(exc)
            return
        out = decode_segment_columns(
            parse_segment(encode_segment_columns(merged))
        )
        got_q = [
            int(w) if v else None for w, v in zip(*out["q"])
        ]
        assert got_q == exp_q
        got_s = [w if v else None for w, v in zip(*out["s"])]
        assert got_s == exp_s

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_stream_partitioned_root_compact_expire_exactly_once(
    spark, tmp_path
):
    """VERDICT r9 #6 — the three-way composition: a checkpointed
    stream over a HIVE-PARTITIONED fledir root that is Z-order
    compacted AND retention-expired mid-stream.  Exactly-once must
    hold across the whole cycle: merged files absorb, a leaf appended
    mid-stream starts flowing (with its key columns materialized),
    fully-streamed expired leaves stop being listed, planned batches
    replay bit-exact, and nothing is ever emitted twice or lost."""
    import pandas as pd

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        expire_fledir_partitions,
    )

    register_fledir(spark)
    root = str(tmp_path / "sroot")

    def write_leaf(status, day, seg_ids, base):
        leaf = os.path.join(root, f"status={status}", f"day={day}")

        def encode(batches, base=base):
            for pdf in batches:
                for _, row in pdf.iterrows():
                    i = int(row["seg_id"])
                    x = np.arange(
                        base + i * 10, base + i * 10 + 5,
                        dtype=np.int64,
                    )
                    y = (x * 7) % 101
                    yield pd.DataFrame({
                        "seg_id": [i],
                        "payload": [encode_segment_columns(
                            [("x", x), ("y", y)]
                        )],
                    })

        mode = (
            "append"
            if os.path.exists(os.path.join(leaf, "_DONE"))
            else "overwrite"
        )
        (
            spark.createDataFrame(
                [(i,) for i in seg_ids], "seg_id long"
            )
            .mapInPandas(encode, schema="seg_id long, payload binary")
            .write.format("fledir")
            .mode(mode)
            .option("path", leaf)
            .save()
        )
        return {
            (int(base + i * 10 + k), int((base + i * 10 + k) * 7 % 101),
             status, day)
            for i in seg_ids for k in range(5)
        }

    committed = set()
    committed |= write_leaf("F", 1, range(3), 0)
    committed |= write_leaf("F", 2, range(3), 1000)
    committed |= write_leaf("O", 1, range(3), 2000)

    r = FleStreamReader({"path": root})
    rows1, off1 = r.read(r.initialOffset())
    emitted = set(map(tuple, rows1))
    assert emitted == committed  # key columns materialized per leaf

    # Z-order compact the whole root per leaf, mid-stream
    rep = compact_fledir(
        spark, root, target_rows=10**6, zorder_by=("x", "y")
    )
    assert rep["compacted"] and rep["leaves"] == 3
    rows2, off2 = r.read(off1)
    assert list(rows2) == []  # merged files absorbed, zero re-emission

    # a NEW leaf appended mid-stream starts flowing
    new_rows = write_leaf("O", 2, [7], 3000)
    committed |= new_rows
    rows3, off3 = r.read(off2)
    rows3 = set(map(tuple, rows3))
    assert rows3 == new_rows
    emitted |= rows3

    # planned batches replay bit-exact against the compacted layout
    assert list(r.readBetweenOffsets(off1, off2)) == []
    assert set(
        map(tuple, r.readBetweenOffsets(off2, off3))
    ) == new_rows

    # retention-expire the fully-streamed day=1 leaves (second key,
    # distributed)
    report = expire_fledir_partitions(root, 2, key="day", spark=spark)
    assert report["partitions_dropped"] == 2
    rows4, off4 = r.read(off3)
    assert list(rows4) == []  # nothing new, nothing re-emitted

    # exactly-once over the whole cycle
    assert emitted == committed

    # batch read of the surviving table == the day=2 survivors
    df = spark.read.format("fledir").option("path", root).load()
    got = {
        (row["x"], row["y"], row["status"], row["day"])
        for row in df.collect()
    }
    assert got == {t for t in committed if t[3] == 2}


def test_one_segment_naming_rule_and_one_rewrite_job():
    """Tripwire over the package's AST: segment ids are parsed and
    minted only next to `fresh_seg_base` (no other module has a
    `seg_(\\d+)` regex or `// 1_000_000` id arithmetic), no call passes
    `seg_base=`, no package function writes through
    `.write.format("fledir")`, and one function of `fle_datasource.py`
    calls `sealed_dir.commit`."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / (
        "impala_avx2_parquet_scanner_spark"
    )
    home = pkg / "sources" / "fle_datasource.py"
    offenders = []
    committers = set()
    for p in sorted(pkg.rglob("*.py")):
        tree = ast.parse(p.read_text())
        where = p.relative_to(pkg.parent)
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(fn):
                    owner.setdefault(id(n), fn.name)
        for n in ast.walk(tree):
            line = getattr(n, "lineno", 0)
            if p != home and (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "seg_(\\d+)" in n.value
            ):
                offenders.append(f"{where}:{line} seg_(\\d+) regex")
            if p != home and (
                isinstance(n, ast.BinOp)
                and isinstance(n.op, ast.FloorDiv)
                and isinstance(n.right, ast.Constant)
                and n.right.value == 1_000_000
            ):
                offenders.append(f"{where}:{line} // 1_000_000")
            if not isinstance(n, ast.Call):
                continue
            if any(k.arg == "seg_base" for k in n.keywords):
                offenders.append(f"{where}:{line} seg_base=")
            f = n.func
            if (
                p == home
                and isinstance(f, ast.Attribute)
                and f.attr == "commit"
                and isinstance(f.value, ast.Name)
                and f.value.id == "sealed_dir"
            ):
                committers.add(owner.get(id(n)))
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "format"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "write"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and n.args[0].value == "fledir"
            ):
                offenders.append(
                    f"{where}:{line} .write.format('fledir') in "
                    f"{owner.get(id(n))}"
                )
    assert not offenders, offenders
    assert committers == {"commit_fledir"}, committers
