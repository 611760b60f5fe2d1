"""Hive-style partitioned fledir (round 8): ``col=value/``
subdirectories, each its own committed fledir — the reference's
HdfsPartitionDescriptor model (descriptors.h:178-262).  Partition-key
conjuncts prune whole directories on the driver; the key column is
materialized from the directory name, never stored in segments.
"""

from __future__ import annotations

import json
import os

import numpy as np

from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    FleDirReader,
    discover_fledir_partitions,
    encode_segment_columns,
    infer_fledir_schema,
    parse_segment,
    segment_stats,
)


def _write_leaf(root, leaf: str, segs) -> None:
    """One committed leaf (`root` itself when `leaf` is empty) holding
    each column list of `segs` as its own segment."""
    sub = root / leaf if leaf else root
    sub.mkdir(parents=True)
    lines = []
    for i, cols in enumerate(segs):
        payload = encode_segment_columns(cols)
        (sub / f"seg_{i}.fle").write_bytes(payload)
        st = json.dumps(segment_stats(parse_segment(payload)))
        lines.append(f"seg_{i}.fle\t{st}")
    (sub / "_DONE").write_text("\n".join(lines))


def _write_partition(root, leaf: str, cols) -> None:
    _write_leaf(root, leaf, [cols])


def _mk_string_partitioned(tmp_path):
    root = tmp_path / "pdir"
    for flag, qty in (("A", [1, 2, 3]), ("N", [10, 11]), ("R", [20])):
        _write_partition(
            root, f"l_returnflag={flag}",
            [("l_quantity", np.array(qty, dtype=np.int64))],
        )
    return os.fspath(root)


def test_discovery_and_schema_inference(tmp_path):
    root = _mk_string_partitioned(tmp_path)
    part = discover_fledir_partitions(root)
    assert part is not None
    pcols, pairs = part
    assert pcols == ["l_returnflag"]
    assert [v for v, _ in pairs] == [("A",), ("N",), ("R",)]
    assert infer_fledir_schema(root) == (
        "l_quantity bigint, l_returnflag string"
    )
    # int-typed keys infer bigint
    root2 = tmp_path / "ydir"
    for y in (1995, 1996):
        _write_partition(
            root2.parent / "ydir", f"year={y}",
            [("q", np.array([y], dtype=np.int64))],
        )
    part2 = discover_fledir_partitions(os.fspath(root2))
    assert part2 == (["year"], [
        ((1995,), os.fspath(root2 / "year=1995")),
        ((1996,), os.fspath(root2 / "year=1996")),
    ])
    assert infer_fledir_schema(os.fspath(root2)) == (
        "q bigint, year bigint"
    )
    # a digit spelling that does NOT round-trip as int stays string:
    # codes '01'/'02' must not collapse to 1/2 (ADVICE r8)
    root3 = tmp_path / "mdir"
    for m in ("01", "02"):
        _write_partition(
            root3, f"month={m}", [("q", np.array([1], dtype=np.int64))]
        )
    part3 = discover_fledir_partitions(os.fspath(root3))
    assert part3 is not None and [v for v, _ in part3[1]] == [
        ("01",), ("02",),
    ]
    assert infer_fledir_schema(os.fspath(root3)) == (
        "q bigint, month string"
    )


def test_partition_pruning_on_driver(tmp_path):
    root = _mk_string_partitioned(tmp_path)
    r = FleDirReader({"path": root})
    assert r._literal_pushable("l_returnflag", "eq", "A")
    assert r._literal_pushable("l_returnflag", "in", ("A", "R"))
    assert r._literal_pushable("l_returnflag", "startswith", "A")
    assert not r._literal_pushable("l_returnflag", "eq", 5)

    r.pushed = [("l_returnflag", "in", ("A", "R"))]
    parts = r.partitions()
    paths = [p for part in parts for p in part.paths]
    assert paths and all(
        "l_returnflag=A" in p or "l_returnflag=R" in p for p in paths
    )
    vals = [v for part in parts for v in part.part_values]
    assert set(vals) == {("A",), ("R",)}

    # negated key conjunct prunes too
    r.pushed = [("l_returnflag", "not_eq", "N")]
    paths = [p for part in r.partitions() for p in part.paths]
    assert paths and not any("l_returnflag=N" in p for p in paths)

    # key conjunct + data-stat conjunct compose: only A holds qty <= 3
    r.pushed = [("l_returnflag", "not_eq", "R"), ("l_quantity", "le", 3)]
    paths = [p for part in r.partitions() for p in part.paths]
    assert paths and all("l_returnflag=A" in p for p in paths)


def test_read_materializes_constant_key(tmp_path):
    import pyarrow as pa  # noqa: F401

    root = _mk_string_partitioned(tmp_path)
    r = FleDirReader({"path": root})
    r.pushed = [("l_returnflag", "eq", "N"), ("l_quantity", "gt", 10)]
    rows = []
    for part in r.partitions():
        for batch in r.read(part):
            rows += list(zip(*[c.to_pylist() for c in batch.columns]))
    assert rows == [(11, "N")]

    # projection of ONLY the partition column still yields rows
    r2 = FleDirReader({"path": root}, wanted=["l_returnflag"])
    r2.pushed = [("l_quantity", "le", 2)]
    got = []
    for part in r2.partitions():
        for batch in r2.read(part):
            assert batch.num_columns == 1
            got += batch.columns[0].to_pylist()
    assert got == ["A", "A"]


def test_int_key_fractional_literal_pruning(tmp_path):
    root = tmp_path / "ydir"
    for y in (1995, 1996, 1997):
        _write_partition(
            root, f"year={y}", [("q", np.array([y], dtype=np.int64))]
        )
    r = FleDirReader({"path": os.fspath(root)})
    # fractional literals compare EXACTLY against int keys in Python
    assert r._literal_pushable("year", "lt", 1996.5)
    r.pushed = [("year", "lt", 1996.5)]
    paths = [p for part in r.partitions() for p in part.paths]
    assert paths and all(
        "year=1995" in p or "year=1996" in p for p in paths
    )
    r.pushed = [("year", "eq", 1996.5)]
    parts = r.partitions()
    assert all(not p.paths for p in parts)  # matches nothing


def _mk_two_key(tmp_path):
    """year=Y/month=M nested layout (num_clustering_cols plural,
    descriptors.h:154-162)."""
    root = tmp_path / "nested"
    for y in (1995, 1996):
        for m in ("01", "02"):
            _write_partition(
                root, f"year={y}/month={m}",
                [("q", np.array([y * 100 + int(m)], dtype=np.int64))],
            )
    return os.fspath(root)


def test_multi_key_discovery_and_pruning(tmp_path):
    root = _mk_two_key(tmp_path)
    part = discover_fledir_partitions(root)
    assert part is not None
    assert part[0] == ["year", "month"]
    assert [v for v, _ in part[1]] == [
        (1995, "01"), (1995, "02"), (1996, "01"), (1996, "02"),
    ]
    assert infer_fledir_schema(root) == (
        "q bigint, year bigint, month string"
    )

    r = FleDirReader({"path": root})
    assert r._literal_pushable("year", "eq", 1995)
    assert r._literal_pushable("month", "eq", "02")
    # BOTH key conjuncts consumed on the driver: exactly one leaf scans
    r.pushed = [("year", "eq", 1995), ("month", "eq", "02")]
    paths = [p for part_ in r.partitions() for p in part_.paths]
    assert len(paths) == 1 and "year=1995/month=02" in paths[0].replace(
        os.sep, "/"
    )
    rows = []
    for part_ in r.partitions():
        for b in r.read(part_):
            rows += list(zip(*[c.to_pylist() for c in b.columns]))
    assert rows == [(199502, 1995, "02")]


def test_key_typing_is_global_across_branches(tmp_path):
    """year=1995/month=7 + year=1996/month=07: per-BRANCH typing gave
    the month column mixed int/str values (silent mispruning, schema
    lies, unsortable tuples — found by review).  One non-round-trip
    spelling anywhere must string-type the whole level."""
    root = tmp_path / "xbranch"
    _write_partition(
        root, "year=1995/month=7",
        [("q", np.array([1], dtype=np.int64))],
    )
    _write_partition(
        root, "year=1996/month=07",
        [("q", np.array([2], dtype=np.int64))],
    )
    part = discover_fledir_partitions(os.fspath(root))
    assert part is not None and part[0] == ["year", "month"]
    assert [v for v, _ in part[1]] == [(1995, "7"), (1996, "07")]
    assert infer_fledir_schema(os.fspath(root)) == (
        "q bigint, year bigint, month string"
    )
    r = FleDirReader({"path": os.fspath(root)})
    r.pushed = [("month", "eq", "07")]
    rows = []
    for part_ in r.partitions():
        for b in r.read(part_):
            rows += list(zip(*[c.to_pylist() for c in b.columns]))
    assert rows == [(2, 1996, "07")]


def test_uncommitted_sibling_does_not_flip_key_type(tmp_path):
    """An uncommitted (no _DONE) sibling directory is invisible to
    readers and must not vote on the key's type — a writer mid-commit
    of year=backup previously flipped a committed int key to string
    (found by review)."""
    root = tmp_path / "uncommit"
    for y in (1995, 1996):
        _write_partition(
            root, f"year={y}", [("q", np.array([y], dtype=np.int64))]
        )
    (root / "year=backup").mkdir()  # uncommitted: no _DONE
    part = discover_fledir_partitions(os.fspath(root))
    assert part is not None
    assert [v for v, _ in part[1]] == [(1995,), (1996,)]
    assert infer_fledir_schema(os.fspath(root)) == (
        "q bigint, year bigint"
    )


def test_declared_narrow_int_key_type_wins(spark, tmp_path):
    """A read schema declaring the key `int` must get an int32 Arrow
    constant — Spark reads the vector through the declared accessor
    and an int64 array crashes the scan (found by review)."""
    from impala_avx2_parquet_scanner_spark.session import (
        ensure_runtime_confs,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )

    ensure_runtime_confs(spark)
    register_fledir(spark)
    root = tmp_path / "narrow"
    for y in (1995, 1996):
        _write_partition(
            root, f"year={y}", [("q", np.array([y], dtype=np.int64))]
        )
    df = (
        spark.read.format("fledir")
        .schema("q bigint, year int")
        .option("path", os.fspath(root))
        .load()
    )
    assert dict(df.dtypes)["year"] == "int"
    assert sorted(map(tuple, df.collect())) == [
        (1995, 1995), (1996, 1996),
    ]


def test_mixed_keys_raise_with_layout_rule(tmp_path):
    root = tmp_path / "mixed"
    for d in ("year=1995", "month=01"):
        _write_partition(
            root, d, [("q", np.array([1], dtype=np.int64))]
        )
    import pytest

    with pytest.raises(ValueError, match="mixes partition keys"):
        discover_fledir_partitions(os.fspath(root))


def test_read_schema_coerces_partition_key_type(tmp_path):
    """A user read schema declaring the key `string` gets string
    constants even when every directory value happens to parse as int
    (ADVICE r8: honor the declared key type)."""
    from pyspark.sql.types import LongType, StringType

    root = tmp_path / "ydir2"
    for y in (1995, 1996):
        _write_partition(
            root, f"year={y}", [("q", np.array([y], dtype=np.int64))]
        )
    r = FleDirReader(
        {"path": os.fspath(root)}, wanted=["q", "year"],
        field_types={"q": LongType(), "year": StringType()},
    )
    assert r.partitioned is not None
    assert [v for v, _ in r.partitioned[1]] == [("1995",), ("1996",)]
    rows = []
    for part_ in r.partitions():
        for b in r.read(part_):
            assert str(b.schema.field("year").type) == "string"
            rows += list(zip(*[c.to_pylist() for c in b.columns]))
    assert sorted(rows) == [(1995, "1995"), (1996, "1996")]


def test_metadata_only_row_count(tmp_path):
    import pytest

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleDirWriter,
        fledir_row_count,
    )

    # partitioned: counts sum across subdirectory manifests
    root = _mk_string_partitioned(tmp_path)
    assert fledir_row_count(root) == 6  # 3 + 2 + 1

    # flat dir written via the WRITER protocol carries __rows__ in the
    # manifest — assert the count needs no segment read by truncating
    # every segment to its 14-byte header
    flat = tmp_path / "flat"
    flat.mkdir()
    w = FleDirWriter({"path": os.fspath(flat)}, overwrite=True)

    class Row:
        def __init__(self, seg_id, payload):
            self.seg_id, self.payload = seg_id, payload

    payload = encode_segment_columns(
        [("q", np.arange(100, dtype=np.int64))]
    )
    msg = w.write(iter([Row(0, payload), Row(1, payload)]))
    w.commit([msg])
    for f in flat.iterdir():
        if f.name.endswith(".fle"):
            f.write_bytes(f.read_bytes()[:14])
    assert fledir_row_count(os.fspath(flat)) == 200

    # pre-count-key manifests fall back to the 14-byte header read
    legacy = tmp_path / "legacy"
    legacy.mkdir()
    (legacy / "seg_0.fle").write_bytes(payload)
    st = json.dumps(segment_stats(parse_segment(payload)))  # no __rows__
    (legacy / "_DONE").write_text(f"seg_0.fle\t{st}")
    assert fledir_row_count(os.fspath(legacy)) == 100

    # the manifest key is reserved
    with pytest.raises(ValueError, match="reserved"):
        encode_segment_columns(
            [("__rows__", np.arange(3, dtype=np.int64))]
        )


def test_stream_reader_partitioned_root_merged_feed(tmp_path):
    """Round 10: a hive-partitioned root streams as a merged per-leaf
    feed — leaf-qualified offset names, partition keys materialized as
    trailing typed cells (previously this layout was refused)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
    )

    root = _mk_string_partitioned(tmp_path)
    r = FleStreamReader({"path": root})
    rows, off = r.read(r.initialOffset())
    rows = list(rows)
    assert rows and all(len(t) >= 2 for t in rows)
    # every offset name is leaf-qualified; every row carries its key
    assert all("/" in n for n in off["names"])
    keys = {t[-1] for t in rows}
    assert keys == {v[0] for v, _ in __import__(
        "impala_avx2_parquet_scanner_spark.sources.fle_datasource",
        fromlist=["discover_fledir_partitions"],
    ).discover_fledir_partitions(root)[1]}
    # a single partition directory still streams as a flat feed
    flat = FleStreamReader({"path": os.path.join(root, "l_returnflag=A")})
    frows, foff = flat.read(flat.initialOffset())
    assert all("/" not in n for n in foff["names"])


def test_reordered_read_schema_maps_by_position(tmp_path):
    """Spark maps Arrow batch columns POSITIONALLY against the read
    schema, so batches must follow the user-supplied order — segment
    order would silently transpose same-typed columns (found by
    review; regression pin)."""
    import pytest

    # flat dir with two same-typed columns
    flat = tmp_path / "flat2"
    flat.mkdir()
    payload = encode_segment_columns([
        ("a", np.array(["a1", "a2"], dtype=object)),
        ("b", np.array(["b1", "b2"], dtype=object)),
    ])
    (flat / "seg_0.fle").write_bytes(payload)
    (flat / "_DONE").write_text(
        "seg_0.fle\t"
        + json.dumps(segment_stats(parse_segment(payload)))
    )
    r = FleDirReader({"path": os.fspath(flat)}, wanted=["b", "a"])
    batch = next(iter(r.read(r.partitions()[0])))
    assert batch.schema.names == ["b", "a"]
    assert batch.columns[0].to_pylist() == ["b1", "b2"]
    assert batch.columns[1].to_pylist() == ["a1", "a2"]

    # partitioned: the key column lands at its REQUESTED position
    proot = _mk_string_partitioned(tmp_path)
    r2 = FleDirReader(
        {"path": proot}, wanted=["l_returnflag", "l_quantity"]
    )
    r2.pushed = [("l_returnflag", "eq", "N")]
    rows = []
    for part in r2.partitions():
        for b in r2.read(part):
            assert b.schema.names == ["l_returnflag", "l_quantity"]
            rows += list(zip(*[c.to_pylist() for c in b.columns]))
    assert sorted(rows) == [("N", 10), ("N", 11)]

    # unknown read-schema names fail loudly instead of transposing
    r3 = FleDirReader({"path": os.fspath(flat)}, wanted=["a", "zz"])
    with pytest.raises(ValueError, match="zz"):
        next(iter(r3.read(r3.partitions()[0])))


def test_isin_with_null_element_stays_residual(spark, tmp_path):
    """IN-lists carrying a NULL element have their own three-valued
    semantics and no code-space peer — the conjunct must stay residual
    (it previously pushed on int columns and crashed every scan task;
    found by review; regression pin)."""
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )
    from impala_avx2_parquet_scanner_spark.session import (
        ensure_runtime_confs,
    )

    ensure_runtime_confs(spark)
    register_fledir(spark)
    flat = tmp_path / "nullin"
    flat.mkdir()
    payload = encode_segment_columns(
        [("q", np.arange(10, dtype=np.int64))]
    )
    (flat / "seg_0.fle").write_bytes(payload)
    (flat / "_DONE").write_text(
        "seg_0.fle\t"
        + json.dumps(segment_stats(parse_segment(payload)))
    )
    df = (
        spark.read.format("fledir")
        .option("path", os.fspath(flat))
        .load()
        .filter(F.col("q").isin(1, None, 3))
    )
    assert sorted(r.q for r in df.collect()) == [1, 3]
    # unit level: pushability rejects the NULL element outright
    r = FleDirReader({"path": os.fspath(flat)})
    assert not r._literal_pushable("q", "in", (1, None, 3))
    assert r._literal_pushable("q", "in", (1, 3))


def test_spark_e2e_partitioned(spark, sf_dir):
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.catalog import table
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_partitioned_dir,
    )

    path = materialize_fle_partitioned_dir(spark, sf_dir)
    df = spark.read.format("fledir").option("path", path).load()
    assert df.columns == ["l_linestatus", "l_quantity", "l_returnflag"]
    base = table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("l_quantity"),
        "l_returnflag",
    )
    cond = (F.col("l_returnflag") != "N") & (F.col("l_quantity") < 5)
    got = sorted(map(tuple, df.filter(cond).collect()))
    want = sorted(map(tuple, base.filter(cond).collect()))
    assert got == want and got


def test_stream_empty_root_notices_partition_layout(tmp_path):
    """A stream started on an EMPTY root must notice col=value leaves
    that appear later (the partitioned probe is per-micro-batch, not
    frozen at construction)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
    )

    root = tmp_path / "late_root"
    root.mkdir()
    r = FleStreamReader({"path": os.fspath(root)})
    rows0, off0 = r.read(r.initialOffset())
    assert list(rows0) == [] and off0 == {"names": []}
    # leaves arrive after the stream started
    _write_partition(
        root, "flag=A", [("q", np.array([1, 2], dtype=np.int64))]
    )
    _write_partition(
        root, "flag=B", [("q", np.array([7], dtype=np.int64))]
    )
    rows1, off1 = r.read(off0)
    got = sorted(map(tuple, rows1))
    assert got == [(1, "A"), (2, "A"), (7, "B")]
    assert all("/" in n for n in off1["names"])
    # replay of the planned batch is bit-exact
    assert sorted(
        map(tuple, r.readBetweenOffsets(off0, off1))
    ) == got


def test_flat_table_is_a_layout_without_keys(spark, tmp_path):
    """The same rows written flat, as a one-key root with one leaf and
    as a one-key root with two leaves answer every read, metadata
    aggregate, stream and DML alike (the key column aside): a flat
    fledir is the layout with no keys and one leaf."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleStreamReader,
        fledir_min_max,
        fledir_row_count,
        fledir_sum,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        compact_fledir,
        delete_fledir,
        merge_fledir,
    )

    segs = [
        [
            ("q", np.arange(15 * i, 15 * (i + 1), dtype=np.int64)),
            ("tag", np.array(["x", "y", "z"] * 5, dtype=object)),
        ]
        for i in range(4)
    ]
    flat, one, two = (tmp_path / n for n in ("flat", "one", "two"))
    _write_leaf(flat, "", segs)
    _write_leaf(one, "k=a", segs)
    _write_leaf(two, "k=a", segs[:2])
    _write_leaf(two, "k=b", segs[2:])
    tables = [os.fspath(t) for t in (flat, one, two)]

    def scan(path, filters=()):
        r = FleDirReader({"path": path}, wanted=["q", "tag"])
        assert list(r.pushFilters(list(filters))) == []  # all pushed
        return sorted(
            row for part in r.partitions() for b in r.read(part)
            for row in zip(*(c.to_pylist() for c in b.columns))
        )

    def same(answer):
        got = [answer(path) for path in tables]
        assert got[0] == got[1] == got[2], got
        return got[0]

    window = same(lambda p: scan(
        p, [GreaterThanOrEqual(("q",), 20), LessThan(("q",), 45)]
    ))
    assert [q for q, _ in window] == list(range(20, 45))
    assert same(fledir_row_count) == 60
    assert same(lambda p: fledir_min_max(p, ["q"])) == {"q": (0, 59)}
    assert same(lambda p: fledir_sum(p, ["q"])) == {"q": (1770, 60)}

    def streamed(path):
        r = FleStreamReader({"path": path})
        rows, _ = r.read(r.initialOffset())
        # a keyed layout's key value trails each row
        return sorted(t[:2] for t in rows)

    assert same(streamed) == scan(tables[0])

    for path in tables:
        compact_fledir(spark, path, target_rows=1000)
    assert same(scan) == [(q, "xyz"[q % 3]) for q in range(60)]

    deleted = same(lambda p: delete_fledir(
        spark, p, [("q", "ge", 50), ("tag", "eq", "x")]
    )["rows_deleted"])
    assert deleted == 3  # q = 51, 54, 57
    after_delete = same(scan)
    assert len(after_delete) == 57

    def merged(path):
        keyed = path != tables[0]
        rows = [(3, "u", "a"), (100, "n", "b" if path == tables[2] else "a")]
        frame = spark.createDataFrame(
            [r if keyed else r[:2] for r in rows],
            "q long, tag string" + (", k string" if keyed else ""),
        )
        rep = merge_fledir(spark, path, frame, key="q")
        return rep["rows_matched"], rep["rows_inserted"]

    assert same(merged) == (1, 2)
    assert same(scan) == sorted(
        [t for t in after_delete if t[0] != 3] + [(3, "u"), (100, "n")]
    )
