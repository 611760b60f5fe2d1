"""Round 9: the PLAIN byte-array string kind (the reference writer's
cap-triggered dictionary fallback, hdfs-parquet-table-writer.cc:59 +
fallback flush 466-620) and opt-in fledir schema evolution (the
missing-column template-tuple NULL, hdfs-parquet-scanner.cc:1437-1445).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from impala_avx2_parquet_scanner_spark.sources.fle_kinds import (
    _KIND_DICT,
    _KIND_STR_PLAIN,
    MAX_DICTIONARY_ENTRIES,
)
from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    FleDirReader,
    decode_segment_columns,
    encode_segment_columns,
    parse_segment,
    segment_stats,
)


def _commit(dirpath, payload, name="seg_0.fle"):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "wb") as fh:
        fh.write(payload)
    entry = f"{name}\t" + json.dumps(
        segment_stats(parse_segment(payload))
    )
    done = os.path.join(dirpath, "_DONE")
    prev = ""
    if os.path.exists(done):
        with open(done) as fh:
            prev = fh.read() + "\n"
    with open(done, "w") as fh:
        fh.write(prev + entry)


# ------------------------------------------------------ plain kind


def test_plain_roundtrip_nulls_and_unicode():
    vals = np.array(["alpha", None, "béta", "", "z" * 70000], dtype=object)
    payload = encode_segment_columns([("s", vals, "str_plain")])
    seg = parse_segment(payload)
    c = seg.column("s")
    assert c.kind == _KIND_STR_PLAIN and c.nullable
    got, valid = decode_segment_columns(seg)["s"]
    assert list(valid) == [True, False, True, True, True]
    assert got[0] == "alpha" and got[2] == "béta" and got[3] == ""
    assert got[4] == "z" * 70000  # no u16 per-entry cap on plain


def test_cap_triggered_fallback_and_proportional_bytes():
    """>2^16-1 distinct values: the dictionary kind cannot index them
    (u16 codes) — the writer falls back to PLAIN automatically, and the
    segment stays ~proportional to the raw data instead of
    dictionary-doubled."""
    n = MAX_DICTIONARY_ENTRIES + 1000
    vals = np.array([f"url-{i:07d}" for i in range(n)], dtype=object)
    payload = encode_segment_columns([("u", vals)])
    seg = parse_segment(payload)
    assert seg.column("u").kind == _KIND_STR_PLAIN
    raw = sum(len(v) for v in vals)
    # raw bytes + 4-byte offsets + headers — nowhere near 2x raw
    assert len(payload) < 1.6 * raw
    got, valid = decode_segment_columns(seg)["u"]
    assert valid.all() and (got == vals).all()
    # the explicit 'dict' hint refuses instead of silently falling back
    with pytest.raises(ValueError, match="caps at"):
        encode_segment_columns([("u", vals, "dict")])
    # below the cap the dictionary kind stays (order-preserving codes)
    small = encode_segment_columns(
        [("f", np.array(["A", "B", "A"], dtype=object))]
    )
    assert parse_segment(small).column("f").kind == _KIND_DICT


def test_plain_predicates_stay_residual_nulls_push(tmp_path):
    d = os.fspath(tmp_path / "plaindir")
    vals = np.array(["aa", None, "bb", "cc", None, "dd"], dtype=object)
    _commit(d, encode_segment_columns([
        ("s", vals, "str_plain"),
        ("q", np.arange(6, dtype=np.int64)),
    ]))
    r = FleDirReader({"path": d})
    # value comparisons on the plain kind are NOT pushable
    for op, lit in (
        ("eq", "bb"), ("lt", "cc"), ("in", ("aa", "bb")),
        ("startswith", "a"), ("contains", "b"), ("endswith", "d"),
    ):
        assert not r._literal_pushable("s", op, lit)
    # the validity-word predicates push and evaluate correctly
    assert r._literal_pushable("s", "is_null", None)
    assert r._literal_pushable("s", "is_not_null", None)
    r.pushed = [("s", "is_null", None)]
    rows = []
    for part in r.partitions():
        for b in r.read(part):
            rows += list(zip(*[c.to_pylist() for c in b.columns]))
    assert sorted(q for _, q in rows) == [1, 4]
    # masks from OTHER columns subset the plain column's lanes
    r2 = FleDirReader({"path": d})
    r2.pushed = [("q", "ge", 3)]
    rows = []
    for part in r2.partitions():
        for b in r2.read(part):
            rows += list(zip(*[c.to_pylist() for c in b.columns]))
    assert sorted(rows, key=lambda t: t[1]) == [
        ("cc", 3), (None, 4), ("dd", 5),
    ]


def test_plain_manifest_stats_prune_files(tmp_path):
    """min/max of plain columns still land in the manifest, so the
    driver's file-level refutation works for PUSHED conjuncts on other
    columns AND the stats stay truthful for the plain one."""
    d = os.fspath(tmp_path / "statdir")
    _commit(d, encode_segment_columns([
        ("s", np.array(["aa", "ab"], dtype=object), "str_plain"),
        ("q", np.array([1, 2], dtype=np.int64)),
    ]), name="seg_0.fle")
    _commit(d, encode_segment_columns([
        ("s", np.array(["zy", "zz"], dtype=object), "str_plain"),
        ("q", np.array([8, 9], dtype=np.int64)),
    ]), name="seg_1.fle")
    with open(os.path.join(d, "_DONE")) as fh:
        stats = [
            json.loads(ln.split("\t", 1)[1]) for ln in fh.read().splitlines()
        ]
    assert stats[0]["s"] == {
        "min": "aa", "max": "ab", "has_null": False, "nv": 2,
    }
    assert stats[1]["s"]["min"] == "zy"
    r = FleDirReader({"path": d})
    r.pushed = [("q", "ge", 5)]
    paths = [p for part in r.partitions() for p in part.paths]
    assert len(paths) == 1 and paths[0].endswith("seg_1.fle")


def test_plain_spark_e2e(spark, tmp_path):
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.session import (
        ensure_runtime_confs,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )

    ensure_runtime_confs(spark)
    register_fledir(spark)
    d = os.fspath(tmp_path / "sparkplain")
    vals = np.array(
        [None if i % 7 == 0 else f"doc body {i:05d}" for i in range(200)],
        dtype=object,
    )
    _commit(d, encode_segment_columns([
        ("body", vals, "str_plain"),
        ("q", np.arange(200, dtype=np.int64)),
    ]))
    df = (
        spark.read.format("fledir").option("path", d).load()
        .filter(F.col("body").contains("017") & (F.col("q") < 180))
    )
    got = sorted(r.body for r in df.collect())
    want = sorted(
        v for i, v in enumerate(vals)
        if v is not None and "017" in v and i < 180
    )
    assert got == want and got


# ------------------------------------------------ schema evolution


def _mk_flat(tmp_path):
    d = os.fspath(tmp_path / "evo")
    _commit(d, encode_segment_columns([
        ("q", np.arange(4, dtype=np.int64)),
        ("f", np.array(["A", "B", "A", "B"], dtype=object)),
    ]))
    return d


def test_evolution_null_fills_absent_column(tmp_path):
    from pyspark.sql.types import DoubleType, LongType, StringType

    d = _mk_flat(tmp_path)
    ft = {"q": LongType(), "extra": DoubleType(), "f": StringType()}
    r = FleDirReader(
        {"path": d, "schemaevolution": "true"},
        wanted=["q", "extra", "f"], field_types=ft,
    )
    assert r.evolved == {"extra"}
    # predicates on the evolved column stay residual
    assert not r._literal_pushable("extra", "eq", 1.5)
    assert not r._literal_pushable("extra", "is_null", None)
    rows = []
    for part in r.partitions():
        for b in r.read(part):
            assert str(b.schema.field("extra").type) == "double"
            rows += list(zip(*[c.to_pylist() for c in b.columns]))
    assert rows == [(0, None, "A"), (1, None, "B"),
                    (2, None, "A"), (3, None, "B")]


def test_evolution_off_stays_strict(tmp_path):
    d = _mk_flat(tmp_path)
    r = FleDirReader({"path": d}, wanted=["q", "extra"])
    with pytest.raises(ValueError, match="schemaEvolution"):
        for part in r.partitions():
            list(r.read(part))


def test_evolution_rejects_heterogeneous_segments(tmp_path):
    """A column stored in SOME segments only is heterogeneity, not
    evolution — fail loudly from the manifests, before any scan."""
    d = os.fspath(tmp_path / "hetero")
    _commit(d, encode_segment_columns(
        [("q", np.arange(2, dtype=np.int64))]
    ), name="seg_0.fle")
    _commit(d, encode_segment_columns([
        ("q", np.arange(2, dtype=np.int64)),
        ("late", np.array([1.5, 2.5]), "f64"),
    ]), name="seg_1.fle")
    with pytest.raises(ValueError, match="some segments but not all"):
        FleDirReader(
            {"path": d, "schemaevolution": "true"},
            wanted=["q", "late"],
        )


def test_evolution_spark_e2e(spark, tmp_path):
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.session import (
        ensure_runtime_confs,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )

    ensure_runtime_confs(spark)
    register_fledir(spark)
    d = _mk_flat(tmp_path)
    df = (
        spark.read.format("fledir")
        .schema("q bigint, extra double, f string")
        .option("path", d)
        .option("schemaEvolution", "true")
        .load()
        .select(
            "f",
            F.coalesce(F.col("extra"), F.col("q").cast("double"))
            .alias("v"),
        )
    )
    assert sorted(map(tuple, df.collect())) == [
        ("A", 0.0), ("A", 2.0), ("B", 1.0), ("B", 3.0),
    ]


# ------------------------------------------- mixed dict/plain kinds


def test_mixed_dict_plain_segments_pushed_predicates(tmp_path):
    """ADVICE r9 (medium): the dictionary-cap fallback can leave one
    column dict-kind in some segments and plain-kind in others of the
    same directory.  Pushability is probed on the FIRST segment (dict
    here), so every pushed value conjunct must still evaluate correctly
    on the plain segments — via the decoded-value Arrow kernels — not
    crash the scan."""
    d = os.fspath(tmp_path / "mixeddir")
    _commit(d, encode_segment_columns([
        ("s", np.array(["aa", "bb", None, "cc"], dtype=object)),  # dict
        ("q", np.arange(4, dtype=np.int64)),
    ]), name="seg_0.fle")
    _commit(d, encode_segment_columns([
        ("s", np.array(["bb", None, "ab", "zz"], dtype=object),
         "str_plain"),
        ("q", np.arange(4, 8, dtype=np.int64)),
    ]), name="seg_1.fle")

    def run(pushed):
        r = FleDirReader({"path": d})
        r.pushed = list(pushed)
        rows = []
        for part in r.partitions():
            for b in r.read(part):
                rows += list(zip(*[c.to_pylist() for c in b.columns]))
        return sorted(q for _, q in rows)

    # probe (first segment, dict) says these push
    probe = FleDirReader({"path": d})
    for op, lit in (
        ("eq", "bb"), ("lt", "bb"), ("in", ("aa", "zz")),
        ("startswith", "a"), ("contains", "b"), ("endswith", "b"),
    ):
        assert probe._literal_pushable("s", op, lit), (op, lit)

    assert run([("s", "eq", "bb")]) == [1, 4]
    assert run([("s", "lt", "bb")]) == [0, 6]
    assert run([("s", "in", ("aa", "zz"))]) == [0, 7]
    assert run([("s", "startswith", "a")]) == [0, 6]
    assert run([("s", "contains", "b")]) == [1, 4, 6]
    assert run([("s", "endswith", "b")]) == [1, 4, 6]
    # negation complements against valid lanes only (NULLs stay out)
    assert run([("s", "not_eq", "bb")]) == [0, 3, 6, 7]
    assert run([("s", "not_in", ("aa", "zz"))]) == [1, 3, 4, 6]
    # null-safe equality on the mixed column
    assert run([("s", "eqns", "bb")]) == [1, 4]
    assert run([("s", "not_eqns", "bb")]) == [0, 2, 3, 5, 6, 7]
    # conjunction across the mixed column and an int column
    assert run([("s", "ge", "bb"), ("q", "le", 5)]) == [1, 3, 4]
