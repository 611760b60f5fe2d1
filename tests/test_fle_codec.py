"""FLE codec + bit-sliced kernels — property-fuzzed against direct
evaluation across bit widths, plus golden transpose layout pins.

The reference validates its FLE encoder with fle-test.cc (pack/unpack
round-trips + kernel truth tables per width); these tests replay that
strategy on the numpy re-expression (sources/fle_codec.py)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
    FleKernels,
    code_bound,
    fle_pack,
    fle_skip,
    fle_unpack,
    order_preserving_codes,
    popcount,
)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=64),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n=st.integers(min_value=0, max_value=300),
)
def test_roundtrip_and_kernels_match_direct_evaluation(w, seed, n):
    rng = np.random.default_rng(seed)
    hi = 2**63 - 1 if w >= 63 else (1 << w) - 1
    v = rng.integers(0, hi + 1, size=n, dtype=np.uint64)
    planes, nn = fle_pack(v, w)
    assert nn == n
    assert planes.shape == ((n + 63) // 64, w)
    assert (fle_unpack(planes, w, n) == v).all()
    k = FleKernels(planes, w, n)
    lit = int(rng.integers(0, hi + 1))
    assert popcount(k.eq(lit)) == int((v == lit).sum())
    assert popcount(k.lt(lit)) == int((v < lit).sum())
    assert popcount(k.le(lit)) == int((v <= lit).sum())
    assert popcount(k.gt(lit)) == int((v > lit).sum())
    assert popcount(k.ge(lit)) == int((v >= lit).sum())
    lits = rng.integers(0, hi + 1, size=4, dtype=np.uint64)
    assert popcount(k.in_(lits)) == int(np.isin(v, lits).sum())


def test_transpose_layout_golden():
    """Pin the exact bit layout (plane j's word bit i = bit j of value i
    in the block — fle-encoding.h:242-342), not just the round-trip."""
    v = np.zeros(64, dtype=np.uint64)
    v[0], v[5], v[63] = 1, 2, 3
    planes, _ = fle_pack(v, 2)
    assert planes.shape == (1, 2)
    assert planes[0, 0] == (1 << 0) | (1 << 63)  # bit0 set for values 1,3
    assert planes[0, 1] == (1 << 5) | (1 << 63)  # bit1 set for values 2,3


def test_padding_lanes_never_leak():
    """A partial final block pads with zeros; kernels must mask those
    lanes (eq(0) would otherwise count ghosts)."""
    v = np.array([0, 7], dtype=np.uint64)
    planes, n = fle_pack(v, 3)
    k = FleKernels(planes, 3, n)
    assert popcount(k.eq(0)) == 1
    assert popcount(k.le(7)) == 2
    assert popcount(k.ge(0)) == 2


def test_skip_is_pointer_arithmetic():
    planes, n = fle_pack(np.arange(200, dtype=np.uint64), 8)
    assert fle_skip(planes, 0, 64) == (1, 0)
    assert fle_skip(planes, 10, 100) == (1, 46)
    with pytest.raises(ValueError):
        fle_skip(planes, 0, 1000)
    # with the true value count, skipping into the final block's padding
    # lanes (200 < capacity 256) must raise, not silently succeed
    assert fle_skip(planes, 0, 200, n=n) == (3, 8)
    with pytest.raises(ValueError):
        fle_skip(planes, 0, 201, n=n)


def test_negative_literal_is_below_domain():
    """A negative literal is below every unsigned code: eq/lt empty,
    gt/ge full — NOT the inverted above-domain masks (`value >> w` is -1
    for negatives in Python)."""
    v = np.array([0, 1, 3], dtype=np.uint64)
    planes, n = fle_pack(v, 2)
    k = FleKernels(planes, 2, n)
    for lit in (-1, -5, -(1 << 40)):
        assert popcount(k.eq(lit)) == 0
        assert popcount(k.lt(lit)) == 0
        assert popcount(k.le(lit)) == 0
        assert popcount(k.gt(lit)) == 3
        assert popcount(k.ge(lit)) == 3
    assert popcount(k.in_([-1, 3])) == 1  # negative member contributes none


@given(
    w=st.integers(min_value=1, max_value=64),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n=st.integers(min_value=0, max_value=200),
    lit=st.integers(min_value=-(2**64), max_value=-1),
)
def test_negative_literals_fuzzed(w, seed, n, lit):
    rng = np.random.default_rng(seed)
    hi = 2**63 - 1 if w >= 63 else (1 << w) - 1
    v = rng.integers(0, hi + 1, size=n, dtype=np.uint64)
    planes, _ = fle_pack(v, w)
    k = FleKernels(planes, w, n)
    assert popcount(k.eq(lit)) == 0
    assert popcount(k.lt(lit)) == 0
    assert popcount(k.gt(lit)) == n
    assert popcount(k.ge(lit)) == n


def test_out_of_domain_literal_short_circuits():
    v = np.array([1, 2, 3], dtype=np.uint64)
    planes, n = fle_pack(v, 2)
    k = FleKernels(planes, 2, n)
    assert popcount(k.lt(1 << 10)) == 3  # literal above domain: all lt
    assert popcount(k.eq(1 << 10)) == 0
    assert popcount(k.gt(1 << 10)) == 0


def test_order_preserving_dictionary_range_translation():
    d, codes = order_preserving_codes(np.array(list("NARAN")))
    assert list(d) == ["A", "N", "R"] and list(codes) == [1, 0, 2, 0, 1]
    assert code_bound(d, "eq", "R") == ("eq", 2)
    assert code_bound(d, "eq", "Q") is False
    assert code_bound(d, "le", "M") == ("le", 0)   # between A and N
    assert code_bound(d, "le", "Z") is True        # above domain
    assert code_bound(d, "lt", "A") is False       # below domain
    assert code_bound(d, "ge", "B") == ("ge", 1)
    assert code_bound(d, "gt", "R") is False
    # integer dictionaries translate the same way
    d2, _ = order_preserving_codes(np.array([10, 30, 20, 10]))
    assert code_bound(d2, "gt", 20) == ("ge", 2)
    assert code_bound(d2, "le", 25) == ("le", 1)


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n=st.integers(min_value=0, max_value=200),
)
def test_validity_mask_gives_sql_null_semantics(w, seed, n):
    """Def-level (validity) words ANDed into every kernel = SQL
    three-valued comparison semantics: NULL rows satisfy no predicate
    and only is_null."""
    from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
        pack_validity,
    )

    rng = np.random.default_rng(seed)
    hi = (1 << w) - 1
    v = rng.integers(0, hi + 1, size=n, dtype=np.uint64)
    valid = rng.random(n) < 0.7
    planes, nn = fle_pack(v, w)
    k = FleKernels(planes, w, nn, validity=pack_validity(valid))
    lit = int(rng.integers(0, hi + 1))
    assert popcount(k.le(lit)) == int(((v <= lit) & valid).sum())
    assert popcount(k.eq(lit)) == int(((v == lit) & valid).sum())
    assert popcount(k.gt(lit)) == int(((v > lit) & valid).sum())
    assert popcount(k.is_null()) == int((~valid).sum())
    assert popcount(k.is_not_null()) == int(valid.sum())
    # no-validity kernels treat every lane as defined
    k2 = FleKernels(planes, w, nn)
    assert popcount(k2.is_null()) == 0
    assert popcount(k2.is_not_null()) == n


def test_dictionary_high_cardinality_roundtrip():
    """dict-test.cc:64-100's shape: 1000 distinct strings spread over
    150k values — codes round-trip through FLE pack/unpack, the decoded
    code stream reproduces every value, and code order == value order
    (the order-preserving contract range translation relies on)."""
    rng = np.random.default_rng(42)
    vocab = np.array(sorted(f"word_{i:04d}" for i in range(1000)))
    values = vocab[rng.integers(0, 1000, 150_000)]
    d, codes = order_preserving_codes(values)
    assert list(d) == list(vocab)  # sorted, order-preserving
    width = int(codes.max()).bit_length()
    planes, n = fle_pack(codes, width)
    back = fle_unpack(planes, width, n)
    assert (back == codes).all()
    assert list(d[back.astype(np.int64)]) == list(values)


def test_dictionary_numeric_and_timestamp_like():
    """dict-test.cc:102-157's breadth: numeric dictionaries (several
    integer magnitudes incl. 16-byte-decimal-scale values as python
    ints) and timestamp-like int64 epoch-micros all keep code order ==
    value order, so range predicates translate to code compares."""
    from impala_avx2_parquet_scanner_spark.sources.fle_codec import code_bound

    for vals in (
        np.array([3, 1, 4, 1, 5, 9, 2, 6]),                      # small ints
        np.array([2**40 + 7, 2**40, 2**62, 13, 2**40 + 7]),      # wide ints
        np.array(                                                # epoch micros
            [1_700_000_000_000_000 + k * 86_400_000_000 for k in (3, 0, 7, 3)]
        ),
    ):
        d, codes = order_preserving_codes(vals)
        assert (np.sort(d) == d).all()
        assert list(d[codes.astype(np.int64)]) == list(vals)
        # range translation agrees with direct evaluation at a mid literal
        lit = int(d[len(d) // 2])
        b = code_bound(d, "le", lit)
        want = int((vals <= lit).sum())
        if b is True:
            got = len(vals)
        elif b is False:
            got = 0
        else:
            op, c = b
            assert op == "le"
            got = int((codes <= c).sum())
        assert got == want


def test_plane_min_max_matches_decoded_extremes():
    """Stats kernel (plane_min_max): min/max computed on the plane words
    must equal the decoded extremes of the VALID lanes across widths,
    sizes, and null patterns; all-null blocks return None."""
    import numpy as np

    from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
        fle_pack,
        pack_validity,
        plane_min_max,
    )

    rng = np.random.default_rng(3)
    for _ in range(200):
        n = int(rng.integers(1, 300))
        w = int(rng.integers(1, 24))
        vals = rng.integers(0, 1 << w, size=n).astype(np.uint64)
        valid = rng.random(n) > 0.3
        planes, _ = fle_pack(vals, w)
        got = plane_min_max(planes, w, n, validity=pack_validity(valid))
        if valid.any():
            assert got == (int(vals[valid].min()), int(vals[valid].max()))
        else:
            assert got is None
        assert plane_min_max(planes, w, n) == (
            int(vals.min()), int(vals.max())
        )


# ---- the 8×8-transpose codec against the bit-tensor reference ----------


def _ref_pack(values: np.ndarray, w: int) -> np.ndarray:
    """The literal definition of the plane layout, one (block, plane,
    lane) bit at a time as a uint64 tensor: plane j of block b holds bit
    j of value 64b+i at bit i."""
    v = np.asarray(values, dtype=np.uint64)
    pad = (-v.size) % 64
    v = np.concatenate([v, np.zeros(pad, dtype=np.uint64)]).reshape(-1, 64)
    shifts = np.arange(w, dtype=np.uint64)
    lanes = np.arange(64, dtype=np.uint64)
    bits = (v[:, None, :] >> shifts[None, :, None]) & np.uint64(1)
    return np.bitwise_or.reduce(bits << lanes[None, None, :], axis=2).astype(
        np.uint64
    )


def _ref_unpack(planes: np.ndarray, w: int, n: int) -> np.ndarray:
    p = np.asarray(planes, dtype=np.uint64)
    shifts = np.arange(w, dtype=np.uint64)
    lanes = np.arange(64, dtype=np.uint64)
    bits = (p[:, :, None] >> lanes[None, None, :]) & np.uint64(1)
    values = np.bitwise_or.reduce(bits << shifts[None, :, None], axis=1)
    return values.reshape(-1)[:n]


def _values(rng, w: int, n: int) -> np.ndarray:
    v = rng.integers(0, (1 << w) - 1, size=n, dtype=np.uint64, endpoint=True)
    if n:
        v[0] = (1 << w) - 1  # the widest value the width holds
    return v


@pytest.mark.parametrize("w", range(1, 65))
def test_pack_unpack_match_reference_every_width(w):
    rng = np.random.default_rng(w)
    for n in (0, 1, 63, 64, 65, 12500):
        v = _values(rng, w, n)
        planes, nn = fle_pack(v, w)
        ref = _ref_pack(v, w)
        assert nn == n
        assert planes.dtype == np.uint64 and planes.shape == ref.shape
        assert (planes == ref).all(), (w, n)
        assert (fle_unpack(ref, w, n) == _ref_unpack(ref, w, n)).all()
        assert (fle_unpack(planes, w, n) == v).all()


@pytest.mark.parametrize("w", [1, 3, 8, 13, 31, 57, 64])
def test_unpack_reads_unaligned_and_fancy_indexed_planes(w):
    """Planes as the reader hands them over: a read-only np.frombuffer
    view at an odd byte offset of a segment payload, and the
    `planes[live]` copy of the surviving blocks."""
    rng = np.random.default_rng(100 + w)
    n = 12500
    v = _values(rng, w, n)
    planes, _ = fle_pack(v, w)
    payload = b"\x07" + np.ascontiguousarray(planes, "<u8").tobytes()
    view = np.frombuffer(payload, "<u8", planes.size, 1).reshape(planes.shape)
    assert not view.flags.writeable
    assert (fle_unpack(view, w, n) == v).all()
    live = np.flatnonzero(rng.random(planes.shape[0]) < 0.4)
    sub = view[live]
    assert (fle_unpack(sub, w, live.size * 64)
            == _ref_unpack(sub, w, live.size * 64)).all()
    # a frombuffer view of a packed copy round-trips through pack again
    again, _ = fle_pack(fle_unpack(view, w, n), w)
    assert (again == planes).all()


@pytest.mark.parametrize("w", [1, 7, 33, 63])
def test_pack_still_rejects_values_wider_than_width(w):
    v = np.zeros(100, dtype=np.uint64)
    v[57] = 1 << w
    with pytest.raises(ValueError):
        fle_pack(v, w)
    with pytest.raises(ValueError):
        fle_pack(np.array([-1, 2]), w)
    with pytest.raises(ValueError):
        fle_pack(v, 0)
