"""The fledir TYPE MATRIX (round 8): double / timestamp / date /
boolean / decimal columns reduced to the same u64 plane kernels by
per-kind order-preserving maps — the reference scanner's full type
dispatch (hdfs-parquet-scanner.cc:670-720) carried by the container.

Covers: the sortable-bits double bijection (monotonicity, -0.0
normalization, ±inf, denormals, NaN-as-NULL), epoch-integer temporal
kinds, exact unscaled decimals with floor/ceil literal bounds, typed
manifest stats refutation, chunk-stats coherence, type-directed
pushability, and pushdown fuzz per kind against direct evaluation.
"""

from __future__ import annotations

import datetime as dt
import decimal as dec
import operator as _op

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    FleDirReader,
    decode_segment_columns,
    encode_segment_columns,
    parse_segment,
    segment_stats,
)
from impala_avx2_parquet_scanner_spark.sources.fle_kinds import (
    _dec_code_bound,
    _f64_code_array,
    _f64_from_code_array,
)

_OPS = {"ge": _op.ge, "gt": _op.gt, "le": _op.le, "lt": _op.lt,
        "eq": _op.eq}


def _mask_keep(seg, pushed):
    r = FleDirReader({"path": "x"})
    r.pushed = pushed
    mask = r._segment_mask(seg)
    return decode_segment_columns(seg, mask=mask)


# ---------------------------------------------------------------- f64

def test_f64_roundtrip_edges():
    vals = np.array([1.5, -2.25, 0.0, -0.0, np.nan, np.inf, -np.inf,
                     5e-324, -5e-324, 1e308, -1e308, 3.141592653589793])
    # the plain "f64" hint REFUSES NaN (it cannot tell a datum from a
    # NULL marker — ADVICE r8); NaN-means-NULL is an explicit opt-in
    import pytest

    with pytest.raises(ValueError, match="f64_nan_null"):
        encode_segment_columns([("x", vals, "f64")])
    seg = parse_segment(
        encode_segment_columns([("x", vals, "f64_nan_null")])
    )
    out, valid = decode_segment_columns(seg)["x"]
    assert valid.tolist() == [True] * 4 + [False] + [True] * 7
    # -0.0 normalizes to +0.0 (SQL equality); everything else exact
    expect = [1.5, -2.25, 0.0, 0.0, None, np.inf, -np.inf,
              5e-324, -5e-324, 1e308, -1e308, 3.141592653589793]
    for i, e in enumerate(expect):
        if e is None:
            continue
        assert out[i] == e and not (e == 0.0 and np.signbit(out[i]))


def test_f64_map_is_monotone_bijection():
    rng = np.random.default_rng(11)
    a = np.concatenate([
        rng.standard_normal(500) * 10.0 ** rng.integers(-300, 300, 500),
        np.array([0.0, np.inf, -np.inf, 5e-324, -5e-324]),
    ])
    a = a[np.isfinite(a) | np.isinf(a)]
    s = np.sort(a)
    codes = _f64_code_array(s)
    assert np.all(codes[:-1] <= codes[1:])
    # strictly increasing where values differ
    diff = s[:-1] < s[1:]
    assert np.all(codes[:-1][diff] < codes[1:][diff])
    back = _f64_from_code_array(_f64_code_array(a))
    nz = a != 0.0
    assert np.array_equal(back[nz], a[nz])


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=True, width=64),
        ),
        min_size=1,
        max_size=200,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(["ge", "gt", "le", "lt", "eq"]),
            st.floats(allow_nan=False, allow_infinity=True, width=64),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_f64_pushdown_fuzz_matches_direct_eval(values, comparisons):
    """Any conjunction of double comparisons (fractional literals,
    ±inf, full exponent range) over a random double column must keep
    exactly the rows direct evaluation keeps — the sortable-bits
    literal map, base shift, kernels, chunk stats, and validity
    semantics all under random data.  -0.0 normalizes on BOTH sides
    (encode and direct eval agree because -0.0 == 0.0 in Python)."""
    arr = np.array(
        [np.nan if v is None else v for v in values], dtype=np.float64
    )
    seg = parse_segment(
        encode_segment_columns([("v", arr, "f64_nan_null")])
    )
    kept, kvalid = _mask_keep(
        seg, [("v", op, lit) for op, lit in comparisons]
    )["v"]
    assert kvalid.all()
    want = [
        v for v in values
        if v is not None
        and all(_OPS[op](v, lit) for op, lit in comparisons)
    ]
    assert sorted(map(float, kept)) == sorted(map(float, want))


def test_decimal_requires_hint_and_finite_values():
    """ADVICE r8: hint-less Decimal inference would derive the scale
    PER SEGMENT (one column, different scales across a directory) —
    the encoder requires the explicit ('dec', p, s) hint; and
    non-finite Decimals get a targeted error instead of a raw
    TypeError from as_tuple()."""
    import pytest

    col = np.array([dec.Decimal("1.50"), dec.Decimal("2.25")], dtype=object)
    with pytest.raises(ValueError, match="explicit .'dec'"):
        encode_segment_columns([("m", col)])
    bad = np.array([dec.Decimal("1.50"), dec.Decimal("NaN")], dtype=object)
    with pytest.raises(ValueError, match="non-finite"):
        encode_segment_columns([("m", bad, ("dec", 12, 2))])
    inf = np.array([dec.Decimal("Infinity")], dtype=object)
    with pytest.raises(ValueError, match="non-finite"):
        encode_segment_columns([("m", inf, ("dec", 12, 2))])


def test_f64_chunk_stats_coherent_with_file_stats():
    rng = np.random.default_rng(5)
    vals = np.sort(rng.uniform(-1e6, 1e6, 4096))
    seg = parse_segment(encode_segment_columns([("p", vals, "f64")]))
    fs = segment_stats(seg)["p"]
    assert fs["t"] == "f64"
    assert fs["min"] == vals.min() and fs["max"] == vals.max()
    mins, maxs = seg.chunk_stats[0]
    got_min = _f64_from_code_array(
        np.asarray([int(mins.min()) + seg.columns[0].base], dtype=np.uint64)
    )[0]
    got_max = _f64_from_code_array(
        np.asarray([int(maxs.max()) + seg.columns[0].base], dtype=np.uint64)
    )[0]
    assert got_min == fs["min"] and got_max == fs["max"]


# ---------------------------------------------- temporal / bool / dec

def test_ts_date_bool_dec_roundtrip():
    ts = np.array(
        ["1995-06-17T10:30:00.123456", "1992-01-01T00:00:00", "NaT",
         "2049-12-31T23:59:59.999999"],
        dtype="datetime64[us]",
    )
    d = np.array(
        [dt.date(1995, 6, 17), dt.date(1970, 1, 1), None,
         dt.date(1969, 12, 31)],
        dtype=object,
    )
    b = np.array([True, False, True, False])
    m = np.array(
        [dec.Decimal("123.45"), dec.Decimal("-0.01"), None,
         dec.Decimal("9999999999.99")],
        dtype=object,
    )
    seg = parse_segment(encode_segment_columns(
        [("t", ts), ("d", d), ("b", b), ("m", m, ("dec", 12, 2))]
    ))
    cols = decode_segment_columns(seg)
    t_vals, t_valid = cols["t"]
    assert t_valid.tolist() == [True, True, False, True]
    assert (
        t_vals[0] == ts[0].astype("datetime64[us]").astype(np.int64)
    )
    d_vals, d_valid = cols["d"]
    assert d_valid.tolist() == [True, True, False, True]
    assert d_vals[0] == 9298 and d_vals[1] == 0 and d_vals[3] == -1
    b_vals, _ = cols["b"]
    assert b_vals.tolist() == [True, False, True, False]
    assert seg.column("b").width == 1  # bit-packed boolean
    m_vals, m_valid = cols["m"]
    assert m_valid.tolist() == [True, True, False, True]
    assert m_vals[0] == 12345 and m_vals[1] == -1
    assert m_vals[3] == 999999999999
    c = seg.column("m")
    assert (c.precision, c.scale) == (12, 2)


def test_ts_and_date_pushdown_matches_direct_eval():
    rng = np.random.default_rng(9)
    base = np.datetime64("1995-01-01T00:00:00", "us")
    ts = (base + rng.integers(0, 10**8, 300).astype("timedelta64[s]"))
    seg = parse_segment(encode_segment_columns([("t", ts)]))
    lit = dt.datetime(1996, 6, 17, 12, 0, 0)
    kept, _ = _mask_keep(seg, [("t", "ge", lit)])["t"]
    want = (ts.astype("datetime64[us]").astype(np.int64)
            >= np.datetime64(lit, "us").astype(np.int64)).sum()
    assert kept.size == want

    days = np.array(
        [dt.date(1995, 1, 1) + dt.timedelta(days=int(x))
         for x in rng.integers(-400, 400, 300)],
        dtype=object,
    )
    seg = parse_segment(encode_segment_columns([("d", days)]))
    dlit = dt.date(1995, 3, 1)
    kept, _ = _mask_keep(seg, [("d", "lt", dlit)])["d"]
    assert kept.size == sum(1 for v in days if v < dlit)


def test_bool_pushdown_and_width():
    b = np.array([True, False] * 100)
    seg = parse_segment(encode_segment_columns([("b", b)]))
    kept, _ = _mask_keep(seg, [("b", "eq", True)])["b"]
    assert kept.size == 100 and all(kept)
    kept, _ = _mask_keep(seg, [("b", "eq", False)])["b"]
    assert kept.size == 100 and not any(kept)


def test_dec_code_bound_exact_floor_ceil():
    # scale 2: literal with MORE fractional digits than the column
    assert _dec_code_bound("eq", dec.Decimal("10.005"), 2) is False
    assert _dec_code_bound("eq", dec.Decimal("10.00"), 2) == ("eq", 1000)
    # x < 10.005  ⇔  unscaled < ceil(1000.5) = 1001
    assert _dec_code_bound("lt", dec.Decimal("10.005"), 2) == ("lt", 1001)
    # x <= 10.005 ⇔  unscaled <= floor(1000.5) = 1000
    assert _dec_code_bound("le", dec.Decimal("10.005"), 2) == ("le", 1000)
    assert _dec_code_bound("gt", dec.Decimal("10.005"), 2) == ("gt", 1000)
    assert _dec_code_bound("ge", dec.Decimal("10.005"), 2) == ("ge", 1001)
    # integral literals: all ops pass through unchanged
    assert _dec_code_bound("lt", dec.Decimal("10.00"), 2) == ("lt", 1000)
    assert _dec_code_bound("ge", 10, 2) == ("ge", 1000)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.integers(min_value=-(10**10), max_value=10**10),
        ),
        min_size=1,
        max_size=150,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(["ge", "gt", "le", "lt", "eq"]),
            st.integers(min_value=-(10**11), max_value=10**11),
            st.integers(min_value=0, max_value=4),  # literal extra scale
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_dec_pushdown_fuzz_matches_direct_eval(unscaled, comparisons):
    """Decimal(.,2) column vs literals of RANDOM finer scale: the
    floor/ceil unscaled translation must agree with exact Decimal
    comparison for every op, including non-representable literals."""
    col = np.array(
        [None if u is None else dec.Decimal(u).scaleb(-2)
         for u in unscaled],
        dtype=object,
    )
    seg = parse_segment(encode_segment_columns(
        [("m", col, ("dec", 20, 2))]
    ))
    lits = [
        (op, dec.Decimal(raw).scaleb(-(2 + extra)))
        for op, raw, extra in comparisons
    ]
    kept, kvalid = _mask_keep(
        seg, [("m", op, lit) for op, lit in lits]
    )["m"]
    assert kvalid.all()
    want = [
        dec.Decimal(u).scaleb(-2) for u in unscaled
        if u is not None
        and all(_OPS[op](dec.Decimal(u).scaleb(-2), lit)
                for op, lit in lits)
    ]
    got = sorted(dec.Decimal(int(k)).scaleb(-2) for k in kept)
    assert got == sorted(want)


def test_dec_encode_rejects_finer_scale_values():
    col = np.array([dec.Decimal("1.005")], dtype=object)
    with pytest.raises(ValueError, match="does not fit scale"):
        encode_segment_columns([("m", col, ("dec", 12, 2))])


# -------------------------------------------- typed stats refutation

def test_typed_manifest_stats_refute():
    ts = np.array(["1995-01-01", "1995-06-30"], dtype="datetime64[us]")
    d = np.array([dt.date(1995, 1, 1), dt.date(1995, 6, 30)],
                 dtype=object)
    p = np.array([901.5, 2000.25])
    m = np.array([dec.Decimal("10.00"), dec.Decimal("20.00")],
                 dtype=object)
    seg = parse_segment(encode_segment_columns(
        [("t", ts), ("d", d), ("p", p, "f64"), ("m", m, ("dec", 12, 2))]
    ))
    stats = segment_stats(seg)
    r = FleDirReader({"path": "x"})

    r.pushed = [("t", "ge", dt.datetime(1996, 1, 1))]
    assert r._stats_refute(stats)
    r.pushed = [("t", "ge", dt.datetime(1995, 3, 1))]
    assert not r._stats_refute(stats)

    r.pushed = [("d", "lt", dt.date(1995, 1, 1))]
    assert r._stats_refute(stats)
    r.pushed = [("d", "le", dt.date(1995, 1, 1))]
    assert not r._stats_refute(stats)

    r.pushed = [("p", "gt", 2000.25)]
    assert r._stats_refute(stats)
    r.pushed = [("p", "gt", 2000.2)]
    assert not r._stats_refute(stats)

    # decimal refutation compares EXACTLY in the unscaled domain
    r.pushed = [("m", "gt", dec.Decimal("20.005"))]
    assert r._stats_refute(stats)
    r.pushed = [("m", "gt", dec.Decimal("19.995"))]
    assert not r._stats_refute(stats)
    # typed stats survive a JSON round-trip (the manifest path)
    import json

    stats2 = json.loads(json.dumps(stats))
    r.pushed = [("t", "ge", dt.datetime(1996, 1, 1))]
    assert r._stats_refute(stats2)


# ------------------------------------------ type-directed pushability

def test_pushability_is_type_directed(tmp_path):
    import json
    import os

    ts = np.array(["1995-01-01"], dtype="datetime64[us]")
    payload = encode_segment_columns([
        ("p", np.array([1.5]), "f64"),
        ("t", ts),
        ("d", np.array([dt.date(1995, 1, 1)], dtype=object)),
        ("b", np.array([True])),
        ("m", np.array([dec.Decimal("1.00")], dtype=object),
         ("dec", 12, 2)),
        ("q", np.array([7], dtype=np.int64)),
    ])
    (tmp_path / "seg_0.fle").write_bytes(payload)
    st_json = json.dumps(segment_stats(parse_segment(payload)))
    (tmp_path / "_DONE").write_text(f"seg_0.fle\t{st_json}")
    r = FleDirReader({"path": os.fspath(tmp_path)})

    # fractional literals: pushable on the double, NOT on the int
    assert r._literal_pushable("p", "lt", 10.5)
    assert not r._literal_pushable("q", "lt", 10.5)
    assert r._literal_pushable("q", "lt", 10)
    # NaN stays residual on doubles (Spark's NaN ordering differs)
    assert not r._literal_pushable("p", "eq", float("nan"))
    assert r._literal_pushable("p", "le", float("inf"))
    # datetime on ts; date (but not datetime) on date
    assert r._literal_pushable("t", "ge", dt.datetime(1995, 1, 1))
    assert not r._literal_pushable("t", "ge", dt.date(1995, 1, 1))
    assert r._literal_pushable("d", "lt", dt.date(1995, 1, 1))
    assert not r._literal_pushable("d", "lt", dt.datetime(1995, 1, 1))
    # bool only on bool
    assert r._literal_pushable("b", "eq", True)
    assert not r._literal_pushable("b", "eq", 1.5)
    # decimals: any finite numeric literal translates exactly
    assert r._literal_pushable("m", "lt", dec.Decimal("10.00005"))
    assert r._literal_pushable("m", "lt", 10.37)
    assert not r._literal_pushable("m", "lt", dec.Decimal("NaN"))


# -------------------------- string predicates on dictionary columns

def test_string_predicates_on_dictionary_matches_direct_eval():
    rng = np.random.default_rng(21)
    words = ["Brand#1", "Brand#12", "Brand#2", "cold bolt", "cold rod",
             "large bolt", "small widget", "wide widget", "xolt"]
    col = np.array(
        [None if rng.random() < 0.1 else words[rng.integers(len(words))]
         for _ in range(400)],
        dtype=object,
    )
    seg = parse_segment(encode_segment_columns([("s", col)]))
    cases = [
        ("startswith", "Brand#1"), ("startswith", "cold"),
        ("startswith", ""), ("startswith", "zzz"),
        ("endswith", "t"), ("endswith", "bolt"), ("endswith", ""),
        ("contains", "ol"), ("contains", "widget"), ("contains", "#"),
        ("contains", "nope"),
    ]
    py = {"startswith": str.startswith, "endswith": str.endswith,
          "contains": lambda s, p: p in s}
    for op, lit in cases:
        kept, kvalid = _mask_keep(seg, [("s", op, lit)])["s"]
        assert kvalid.all()  # NULL never matches a LIKE
        want = sorted(v for v in col if v is not None and py[op](v, lit))
        assert sorted(kept) == want, (op, lit)
    # conjunction across ops
    kept, _ = _mask_keep(
        seg, [("s", "startswith", "cold"), ("s", "endswith", "t")]
    )["s"]
    assert sorted(set(kept)) == ["cold bolt"]


def test_startswith_is_contiguous_code_range_and_prefix_refutes():
    col = np.array(
        ["apple", "apricot", "banana", "cherry", "applet"], dtype=object
    )
    seg = parse_segment(encode_segment_columns([("s", col)]))
    kept, _ = _mask_keep(seg, [("s", "startswith", "app")])["s"]
    assert sorted(kept) == ["apple", "applet"]

    stats = segment_stats(seg)
    r = FleDirReader({"path": "x"})
    # max 'cherry' < 'da' → refute; prefix of min above literal → refute
    r.pushed = [("s", "startswith", "da")]
    assert r._stats_refute(stats)
    r.pushed = [("s", "startswith", "aa")]
    assert r._stats_refute(stats)  # min 'apple'[:2]='ap' > 'aa'
    r.pushed = [("s", "startswith", "ap")]
    assert not r._stats_refute(stats)
    # suffix/infix predicates never refute from range stats
    r.pushed = [("s", "endswith", "zzz")]
    assert not r._stats_refute(stats)


def test_string_pushability_requires_dict_column(tmp_path):
    import json
    import os

    payload = encode_segment_columns([
        ("s", np.array(["a", "b"], dtype=object)),
        ("q", np.array([1, 2], dtype=np.int64)),
    ])
    (tmp_path / "seg_0.fle").write_bytes(payload)
    (tmp_path / "_DONE").write_text(
        "seg_0.fle\t"
        + json.dumps(segment_stats(parse_segment(payload)))
    )
    r = FleDirReader({"path": os.fspath(tmp_path)})
    assert r._literal_pushable("s", "startswith", "a")
    assert r._literal_pushable("s", "contains", "a")
    assert not r._literal_pushable("q", "startswith", "a")
    assert not r._literal_pushable("s", "startswith", 5)


# ------------------------------------- NOT / null-safe-equality push

@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(), st.integers(min_value=-50, max_value=50)
        ),
        min_size=1,
        max_size=150,
    ),
    st.lists(
        st.tuples(
            st.sampled_from([
                "eq", "lt", "le", "gt", "ge", "eqns",
                "not_eq", "not_lt", "not_le", "not_gt", "not_ge",
                "not_eqns", "is_null", "is_not_null",
                "not_is_null", "not_is_not_null",
            ]),
            st.one_of(
                st.none(), st.integers(min_value=-60, max_value=60)
            ),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_negation_and_nullsafe_fuzz_matches_sql_semantics(values, conjs):
    """NOT over every pushable conjunct + <=> under SQL three-valued
    logic: a NULL operand fails BOTH a comparison and its negation,
    while <=> (never NULL) negates over all rows.  Random columns and
    random (possibly NULL-literal) conjunctions must keep exactly the
    rows a direct Python evaluation of the SQL semantics keeps."""
    conjs = [
        (op, lit if "eqns" in op or lit is not None else 0)
        for op, lit in conjs
    ]
    arr = np.array(values, dtype=object)
    seg = parse_segment(encode_segment_columns([("v", arr)]))
    kept_cols = _mask_keep(seg, [("v", op, lit) for op, lit in conjs])
    kept, kvalid = kept_cols["v"]

    def sql_keep(v):
        for op, lit in conjs:
            neg = op.startswith("not_")
            base = op[4:] if neg else op
            if base == "is_null":
                r = v is None
            elif base == "is_not_null":
                r = v is not None
            elif base == "eqns":
                r = (v is None and lit is None) or (
                    v is not None and lit is not None and v == lit
                )
            else:  # comparison: NULL operand → NULL → excluded,
                if v is None:  # negated or not
                    return False
                r = _OPS[base](v, lit)
            if neg:
                r = not r
            if not r:
                return False
        return True

    want = [v for v in values if sql_keep(v)]
    got = [None if not kvalid[j] else int(kept[j])
           for j in range(len(kept))]
    assert sorted(got, key=lambda x: (x is None, x)) == sorted(
        want, key=lambda x: (x is None, x)
    )


def test_not_startswith_and_not_in_on_dictionary():
    col = np.array(
        ["apple", "apricot", "banana", None, "cherry"], dtype=object
    )
    seg = parse_segment(encode_segment_columns([("s", col)]))
    kept, kvalid = _mask_keep(seg, [("s", "not_startswith", "ap")])["s"]
    assert kvalid.all()  # NULL fails NOT LIKE too
    assert sorted(kept) == ["banana", "cherry"]
    kept, _ = _mask_keep(
        seg, [("s", "not_in", ("banana", "apple", "durian"))]
    )["s"]
    assert sorted(kept) == ["apricot", "cherry"]


def test_nullsafe_refutation_and_pushability(tmp_path):
    import json
    import os

    vals = np.array([1.0, 2.0, np.nan], dtype=np.float64)  # nullable
    payload = encode_segment_columns([("q", vals)])
    (tmp_path / "seg_0.fle").write_bytes(payload)
    stats = segment_stats(parse_segment(payload))
    (tmp_path / "_DONE").write_text(
        "seg_0.fle\t" + json.dumps(stats)
    )
    r = FleDirReader({"path": os.fspath(tmp_path)})
    assert r._literal_pushable("q", "eqns", None)
    assert r._literal_pushable("q", "eqns", 2)
    # <=> NULL does NOT refute (has_null True); would on a no-null file
    r.pushed = [("q", "eqns", None)]
    assert not r._stats_refute(stats)
    no_null = segment_stats(parse_segment(
        encode_segment_columns([("q", np.array([1, 2], dtype=np.int64))])
    ))
    assert r._stats_refute(no_null)
    # NOT(x <=> v) keeps NULL rows: never refuted by an all-NULL file
    all_null = segment_stats(parse_segment(
        encode_segment_columns(
            [("q", np.array([np.nan, np.nan], dtype=np.float64))]
        )
    ))
    r.pushed = [("q", "not_eqns", 5)]
    assert not r._stats_refute(all_null)
    # ...but a negated plain comparison IS refuted by all-NULL
    r.pushed = [("q", "not_lt", 5)]
    assert r._stats_refute(all_null)


def test_spark_pushes_not_and_nullsafe(spark, sf_dir):
    """`!=`, NOT LIKE, and <=> push end-to-end: results match the
    parquet-derived frame and the optimized plan keeps no residual
    Filter (every conjunct consumed by the scan)."""
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.catalog import table
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_part_dir,
    )

    path = materialize_fle_part_dir(spark, sf_dir)
    base = table(spark, sf_dir, "part").select(
        "p_brand", "p_name", "p_type", "p_size"
    )
    cond = (
        (F.col("p_type") != "PROMO")
        & ~F.col("p_name").startswith("cold")
        & F.col("p_brand").eqNullSafe("Brand#13")
    )
    df = spark.read.format("fledir").option("path", path).load()
    q = df.filter(cond)
    got = sorted((r.p_name, r.p_size) for r in q.collect())
    want = sorted((r.p_name, r.p_size) for r in base.filter(cond).collect())
    assert got == want and got
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan


# -------------------------------------------------- spark end-to-end

def test_typed_dir_spark_roundtrip_and_pushdown(spark, sf_dir):
    """The full type matrix through the DataSource on real lineitem
    data: schema inference (double/timestamp/date/boolean/decimal),
    full-table agreement with the parquet-derived frame, and a
    5-conjunct pushdown across every kind at once."""
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.catalog import table
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_typed_dir,
    )

    path = materialize_fle_typed_dir(spark, sf_dir)
    df = spark.read.format("fledir").option("path", path).load()
    types = dict(df.dtypes)
    assert types == {
        "l_returnflag": "string", "price": "double",
        "ship_ts": "timestamp", "ship_date": "date",
        "returned": "boolean", "price_dec": "decimal(12,2)",
    }

    base = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_shipdate").alias("ship_ts"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        (F.col("l_returnflag") == "R").alias("returned"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"),
    )
    cond = (
        (F.col("price") > 901.5)
        & (F.col("ship_ts") >= F.lit("1995-06-17").cast("timestamp"))
        & (F.col("ship_date") < F.lit("1997-01-01").cast("date"))
        & F.col("returned")
        & (F.col("price_dec") < dec.Decimal("30000.50"))
    )
    agg = lambda d: d.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("price").cast("decimal(12,2)")), 2).alias("s"),
        F.min("ship_ts").alias("mn_ts"),
        F.max("ship_date").alias("mx_d"),
        F.sum("price_dec").alias("s_dec"),
    )
    got = agg(df.filter(cond)).collect()[0]
    want = agg(base.filter(cond)).collect()[0]
    assert got == want
    # unfiltered row parity on a FRESH load (Spark 4.1 caches the last
    # planned scan per relation — see the fle_datasource docstring)
    fresh = spark.read.format("fledir").option("path", path).load()
    assert fresh.count() == base.count()


def test_randomized_spark_pushdown_differential(spark, sf_dir):
    """END-TO-END randomized differential: 20 seeded random typed
    conjunctions run through REAL Spark against the fledir container
    AND against the identical parquet-derived frame.  This exercises
    the whole DSv2 integration — Catalyst's filter translation, the
    type-directed pushability split, kernel evaluation, and residual
    re-checking — not just the unit-level mask path."""
    import random

    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.catalog import table
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_typed_dir,
    )

    path = materialize_fle_typed_dir(spark, sf_dir)
    # a FRESH load() per trial below — the Spark 4.1 planned-scan cache
    # (module docstring) makes reusing one relation across differently-
    # filtered actions unsafe
    base = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_shipdate").alias("ship_ts"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        (F.col("l_returnflag") == "R").alias("returned"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"),
    )
    rng = random.Random(42)

    def rand_conjunct():
        kind = rng.choice(
            ["price", "ship_ts", "ship_date", "returned", "price_dec",
             "l_returnflag"]
        )
        cmp_ops = ["<", "<=", ">", ">=", "=="]
        if kind == "price":
            lit = round(rng.uniform(800.0, 110000.0), rng.randint(0, 4))
            op = rng.choice(cmp_ops)
        elif kind == "ship_ts":
            lit = F.lit(
                f"199{rng.randint(2, 8)}-0{rng.randint(1, 9)}-"
                f"{rng.randint(10, 28)}"
            ).cast("timestamp")
            op = rng.choice(cmp_ops[:4])
        elif kind == "ship_date":
            lit = F.lit(
                f"199{rng.randint(2, 8)}-0{rng.randint(1, 9)}-"
                f"{rng.randint(10, 28)}"
            ).cast("date")
            op = rng.choice(cmp_ops[:4])
        elif kind == "returned":
            lit, op = rng.choice([True, False]), "=="
        elif kind == "price_dec":
            lit = dec.Decimal(rng.randint(80000, 11000000)).scaleb(
                -rng.randint(2, 4)
            )
            op = rng.choice(cmp_ops)
        else:
            c = F.col(kind)
            shape = rng.choice(["eq", "in", "like", "eqns"])
            if shape == "eq":
                e = c == rng.choice("ANR")
            elif shape == "in":
                e = c.isin(*rng.sample("ANR", rng.randint(1, 2)))
            elif shape == "like":
                e = c.startswith(rng.choice("ANRZ"))
            else:
                e = c.eqNullSafe(rng.choice("ANR"))
            return ~e if rng.random() < 0.3 else e
        c = F.col(kind)
        import operator as _o

        e = {"<": _o.lt, "<=": _o.le, ">": _o.gt, ">=": _o.ge,
             "==": _o.eq}[op](c, lit)
        return ~e if rng.random() < 0.3 else e

    for trial in range(20):
        cond = rand_conjunct()
        for _ in range(rng.randint(0, 2)):
            cond = cond & rand_conjunct()
        agg = lambda d: d.agg(  # noqa: E731
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("price").cast("decimal(14,2)")), 2
            ).alias("s"),
        )
        got = agg(
            spark.read.format("fledir").option("path", path).load()
            .filter(cond)
        ).collect()[0]
        want = agg(base.filter(cond)).collect()[0]
        assert got == want, (trial, str(cond), got, want)


def test_randomized_partitioned_typed_differential(spark, sf_dir, tmp_path):
    """Round-9 composition of the end-to-end differential with the hive
    layout: a ``l_returnflag=X/`` PARTITIONED container whose leaves
    hold the full type matrix (f64 / timestamp / date / decimal / int),
    price-sorted so manifest file stats bite — 20 seeded random
    conjunctions mixing PARTITION-KEY shapes (eq/in/startswith/eqns,
    negated too) with typed data predicates, so driver partition
    pruning, manifest refutation, typed kernels, and residual
    re-checking are all fuzzed TOGETHER against the identical
    parquet-derived frame."""
    import json as _json
    import random

    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.catalog import table
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
        segment_stats,
    )

    register_fledir(spark)
    base = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_shipdate").alias("ship_ts"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"),
        F.col("l_quantity").cast("long").alias("qty"),
        # a near-unique free-text column stored through the PLAIN kind:
        # predicates on it must stay RESIDUAL and re-check in Spark
        F.concat(
            F.col("l_returnflag"), F.lit("-"),
            F.col("l_orderkey").cast("string"), F.lit("/"),
            F.col("l_linenumber").cast("string"),
        ).alias("note"),
    )
    pdf = base.toPandas()
    root = tmp_path / "ptyped"
    for flag, grp in pdf.groupby("l_returnflag"):
        sub = root / f"l_returnflag={flag}"
        sub.mkdir(parents=True)
        grp = grp.sort_values("price")
        lines = []
        step = max(len(grp) // 3, 1)  # ≥3 segments per leaf
        for si, lo in enumerate(range(0, len(grp), step)):
            g = grp.iloc[lo:lo + step]
            payload = encode_segment_columns([
                ("price", g["price"].to_numpy(), "f64"),
                ("ship_ts", g["ship_ts"].to_numpy()),
                ("ship_date", g["ship_date"].to_numpy()),
                ("price_dec", g["price_dec"].to_numpy(), ("dec", 12, 2)),
                ("qty", g["qty"].to_numpy()),
                ("note", g["note"].to_numpy(), "str_plain"),
            ])
            name = f"seg_{si}.fle"
            (sub / name).write_bytes(payload)
            st = _json.dumps(segment_stats(parse_segment(payload)))
            lines.append(f"{name}\t{st}")
        (sub / "_DONE").write_text("\n".join(lines))
    path = str(root)

    rng = random.Random(99)
    cmp_ops = {"<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge,
               "==": _op.eq}

    def rand_conjunct():
        kind = rng.choice(
            ["l_returnflag", "l_returnflag", "price", "ship_ts",
             "ship_date", "price_dec", "qty", "note"]
        )
        c = F.col(kind)
        if kind == "note":
            # plain-kind column: every value predicate is residual —
            # Spark must re-check it against the decoded strings
            shape = rng.choice(["contains", "startswith", "endswith"])
            lit = rng.choice(
                [str(rng.randint(0, 9)), rng.choice("ANR") + "-",
                 "/" + str(rng.randint(1, 7))]
            )
            e = {
                "contains": c.contains,
                "startswith": c.startswith,
                "endswith": c.endswith,
            }[shape](lit)
            return ~e if rng.random() < 0.3 else e
        if kind == "l_returnflag":
            shape = rng.choice(["eq", "in", "like", "eqns"])
            if shape == "eq":
                e = c == rng.choice("ANRZ")
            elif shape == "in":
                e = c.isin(*rng.sample("ANR", rng.randint(1, 2)))
            elif shape == "like":
                e = c.startswith(rng.choice("ANRZ"))
            else:
                e = c.eqNullSafe(rng.choice("ANR"))
        elif kind == "price":
            lit = round(rng.uniform(800.0, 110000.0), rng.randint(0, 4))
            e = cmp_ops[rng.choice(list(cmp_ops))](c, lit)
        elif kind in ("ship_ts", "ship_date"):
            lit = F.lit(
                f"199{rng.randint(2, 8)}-0{rng.randint(1, 9)}-"
                f"{rng.randint(10, 28)}"
            ).cast("timestamp" if kind == "ship_ts" else "date")
            e = cmp_ops[rng.choice(["<", "<=", ">", ">="])](c, lit)
        elif kind == "price_dec":
            lit = dec.Decimal(rng.randint(80000, 11000000)).scaleb(
                -rng.randint(2, 4)
            )
            e = cmp_ops[rng.choice(list(cmp_ops))](c, lit)
        else:  # qty int planes: integral and fractional literals
            lit = rng.choice([rng.randint(1, 50), rng.uniform(1.0, 50.0)])
            e = cmp_ops[rng.choice(list(cmp_ops))](c, lit)
        return ~e if rng.random() < 0.3 else e

    agg = lambda d: d.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("price").cast("decimal(14,2)")), 2).alias("s"),
        F.min("ship_ts").alias("mn"),
        F.max("ship_date").alias("mx"),
    )
    for trial in range(20):
        cond = rand_conjunct()
        for _ in range(rng.randint(0, 2)):
            cond = cond & rand_conjunct()
        got = agg(
            spark.read.format("fledir").option("path", path).load()
            .filter(cond)
        ).collect()[0]
        want = agg(base.filter(cond)).collect()[0]
        assert got == want, (trial, str(cond), got, want)


def test_typed_stream_delivers_python_scalars(spark, tmp_path):
    """The streaming half must surface every typed kind as the right
    Spark type (datetime/date/bool/Decimal/float plain-python cells
    through the prefetch pickle path), with validity NULLs intact."""
    import os as _os

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleDataSource,
    )

    try:
        spark.dataSource.register(FleDataSource)
    except Exception:
        pass
    d = str(tmp_path / "fle_typed_stream")
    _os.makedirs(d)
    ts = np.array(["1995-06-17T10:30:00.123456", "NaT"],
                  dtype="datetime64[us]")
    payload = encode_segment_columns([
        ("p", np.array([1.5, np.nan]), "f64_nan_null"),
        ("t", ts),
        ("d", np.array([dt.date(1995, 6, 17), None], dtype=object)),
        ("b", np.array([True, False])),
        ("m", np.array([dec.Decimal("12.34"), None], dtype=object),
         ("dec", 12, 2)),
    ])
    with open(_os.path.join(d, "seg_000001.fle"), "wb") as fh:
        fh.write(payload)
    stream = spark.readStream.format("fledir").option("path", d).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("fle_typed_stream_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = sorted(
            spark.table("fle_typed_stream_out").collect(),
            key=lambda r: r.b,
            reverse=True,
        )
    finally:
        q.stop()
    assert len(rows) == 2
    full, nulls = rows
    assert full.p == 1.5 and full.b is True
    assert full.t == dt.datetime(1995, 6, 17, 10, 30, 0, 123456)
    assert full.d == dt.date(1995, 6, 17)
    assert full.m == dec.Decimal("12.34")
    assert nulls.p is None and nulls.t is None and nulls.d is None
    assert nulls.m is None and nulls.b is False
