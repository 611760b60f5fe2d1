"""The fledir column kinds (`sources/fle_kinds.py`).

Golden pins on the container format: one segment holding all nine
column kinds, each with a NULL lane, must keep its segment bytes,
manifest stats JSON, bloom sidecar bytes and inferred Spark schema
exactly, and must re-encode from its own decode byte for byte.  A
change to any of these is a format change (and an `ASSET_VERSION`
bump), never a refactor.  A tripwire keeps every per-kind rule in
`fle_kinds.py`: no other module names a kind constant or compares a
column's kind."""

from __future__ import annotations

import ast
import decimal
import hashlib
import json
from pathlib import Path

import numpy as np

from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    FleDirReader,
    FleDirWriter,
    FleStreamReader,
    build_segment_blooms,
    encode_segment_columns,
    infer_fledir_schema,
    parse_segment,
    segment_stats,
)
from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
    fledir_changes,
    segment_reencode_columns,
)

N = 70


def _lane(i: int, every: int, value):
    return None if i % every == 0 else value


def _columns() -> list[tuple]:
    ts0 = np.datetime64("2020-01-01T00:00:00", "us")
    ts = np.array(
        [ts0 + np.timedelta64(i * 3_600_000_123, "us") for i in range(N)]
    )
    ts[::13] = np.datetime64("NaT")
    days = np.array(
        [np.datetime64(18_000 + 2 * i, "D") for i in range(N)]
    )
    days[::17] = np.datetime64("NaT")
    f64 = np.array([(i - 20) * 0.25 for i in range(N)])
    f64[::9] = np.nan
    obj = lambda xs: np.array(xs, dtype=object)  # noqa: E731
    return [
        ("i", obj([_lane(i, 7, 3 * i) for i in range(N)]), "int"),
        ("o", obj([_lane(i, 11, i - 35) for i in range(N)]), "offset"),
        ("f", f64, "f64_nan_null"),
        ("t", ts, "ts"),
        ("d", days, "date"),
        ("b", obj([_lane(i, 19, i % 3 == 0) for i in range(N)]), "bool"),
        (
            "m",
            obj([
                _lane(i, 23, decimal.Decimal(7 * i - 100).scaleb(-2))
                for i in range(N)
            ]),
            ("dec", 10, 2),
        ),
        (
            "s",
            obj([
                _lane(i, 29, ["alpha", "beta", "gamma", "delta"][i % 4])
                for i in range(N)
            ]),
            "dict",
        ),
        ("p", obj([_lane(i, 31, f"row-{i:03d}") for i in range(N)]),
         "str_plain"),
    ]


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


SEGMENT_SHA256 = (
    "7bea5dedfb4daffa1b35ef14bfa10aae35dba4fb606d4f4330a6007982a99236"
)
#: compared as JSON text, so key order (the manifest bytes) is pinned too
STATS = {
    "i": {"min": 3, "max": 207, "has_null": True, "nv": 60, "sum": 6300},
    "o": {"min": -34, "max": 34, "has_null": True, "nv": 63, "sum": -21},
    "f": {"min": -4.75, "max": 12.25, "has_null": True, "nv": 62,
          "t": "f64"},
    "t": {"min": 1577840400000123, "max": 1578085200008487,
          "has_null": True, "nv": 64, "t": "ts"},
    "d": {"min": 18002, "max": 18138, "has_null": True, "nv": 65,
          "t": "date"},
    "b": {"min": 0, "max": 1, "has_null": True, "nv": 66, "t": "bool"},
    "m": {"min": -93, "max": 376, "has_null": True, "nv": 66, "t": "dec",
          "s": 2, "sum": 9339},
    "s": {"min": "alpha", "max": "gamma", "has_null": True, "nv": 67},
    "p": {"min": "row-001", "max": "row-069", "has_null": True, "nv": 67},
}
BLOOM_SHA256 = (
    "1661e3ef7ba690f9488e4d10196e96a83a548844b1ed6dadf83fc9f464203514"
)
DDL = (
    "i bigint, o bigint, f double, t timestamp, d date, b boolean, "
    "m decimal(10,2), s string, p string"
)


def test_segment_bytes_are_pinned():
    payload = encode_segment_columns(_columns())
    assert _sha(payload) == SEGMENT_SHA256


def test_manifest_stats_are_pinned():
    seg = parse_segment(encode_segment_columns(_columns()))
    assert json.dumps(segment_stats(seg)) == json.dumps(STATS)


def test_bloom_sidecar_is_pinned():
    seg = parse_segment(encode_segment_columns(_columns()))
    assert _sha(build_segment_blooms(seg, ["i", "o", "s", "p"])) == (
        BLOOM_SHA256
    )


def _commit(path: str, columns: list[tuple], seg_id: int = 0,
            overwrite: bool = True) -> None:
    class _Row:
        pass

    row = _Row()
    row.seg_id, row.payload = seg_id, encode_segment_columns(columns)
    w = FleDirWriter({"path": path}, overwrite=overwrite)
    w.commit([w.write([row])])


def _batch_rows(path: str) -> list[tuple]:
    r = FleDirReader({"path": path})
    return [
        tuple(d.values())
        for p in r.partitions() for b in r.read(p) for d in b.to_pylist()
    ]


def test_inferred_schema_is_pinned(tmp_path):
    _commit(str(tmp_path), _columns())
    assert infer_fledir_schema(str(tmp_path)) == DDL


def test_reencode_is_byte_identical():
    payload = encode_segment_columns(_columns())
    again = encode_segment_columns(
        segment_reencode_columns(parse_segment(payload))
    )
    assert again == payload


def test_stream_rows_match_batch_rows(tmp_path):
    """The stream reader's Python cells and the batch reader's Arrow
    values agree on every kind, NULLs included."""
    _commit(str(tmp_path), _columns())
    stream = FleStreamReader({"path": str(tmp_path)})
    rows, _ = stream.read(stream.initialOffset())
    assert list(rows) == _batch_rows(str(tmp_path))


def test_change_feed_matches_batch_reader(spark, tmp_path):
    """An append span's change feed holds exactly the rows the batch
    reader returns for the appended segment, on every kind."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )

    register_fledir(spark)
    table, alone = str(tmp_path / "table"), str(tmp_path / "alone")
    _commit(table, [(n, v[:1], h) for n, v, h in _columns()])
    _commit(table, _columns(), seg_id=1, overwrite=False)
    _commit(alone, _columns())
    feed = fledir_changes(spark, table, 1, 2).collect()
    assert {r["_change_type"] for r in feed} == {"insert"}
    want = spark.read.format("fledir").option("path", alone).load()
    assert sorted((tuple(r)[:-1] for r in feed), key=repr) == sorted(
        (tuple(r) for r in want.collect()), key=repr
    )


def test_fixture_has_a_null_lane_per_kind():
    seg = parse_segment(encode_segment_columns(_columns()))
    assert sorted({c.kind for c in seg.columns}) == list(range(9))
    assert all(c.nullable for c in seg.columns)


def _kind_decisions(tree: ast.AST) -> list[tuple[int, str]]:
    """Kind constants named, and `.kind` attributes compared (a numpy
    `dtype.kind` is not a column kind)."""
    out = [
        (n.lineno, n.id) for n in ast.walk(tree)
        if isinstance(n, ast.Name) and n.id.startswith("_KIND_")
    ]
    out += [
        (n.lineno, f".{n.attr}") for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr.startswith("_KIND_")
    ]
    out += [
        (n.lineno, a.name) for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names if a.name.startswith("_KIND_")
    ]
    out += [
        (n.lineno, "compares .kind") for n in ast.walk(tree)
        if isinstance(n, ast.Compare)
        and any(
            isinstance(x, ast.Attribute) and x.attr == "kind"
            and not (isinstance(x.value, ast.Attribute)
                     and x.value.attr == "dtype")
            for x in [n.left, *n.comparators]
        )
    ]
    return out


def test_column_kinds_live_in_one_module():
    """Only fle_kinds.py names `_KIND_*` constants or compares a
    column's `.kind`: every other module asks the kind record."""
    pkg = Path(__file__).resolve().parent.parent / (
        "impala_avx2_parquet_scanner_spark"
    )
    home = pkg / "sources" / "fle_kinds.py"
    offenders = [
        f"{p.relative_to(pkg.parent)}:{line} {what}"
        for p in sorted(pkg.rglob("*.py")) if p != home
        for line, what in _kind_decisions(ast.parse(p.read_text()))
    ]
    assert not offenders, (
        "column-kind decisions belong to sources/fle_kinds.py: "
        f"{offenders}"
    )
