"""FLE ("fixed-length encoding") codec + bit-sliced predicate kernels —
a functional numpy re-expression of the reference's headline feature.

The reference adds a custom Parquet encoding (enum FLE=9 / FLE_DICTIONARY=10,
parquet.thrift:220,224): values are packed in 64-value blocks, bit-plane
TRANSPOSED — plane j of a block is one uint64 word whose bit i is bit j of
value i (fle-encoding.h:242-342) — with AVX2 pack/unpack kernels unrolled
per bit width (fle-encoding.h:569-9805) and BitWeaving/V-style predicate
kernels that evaluate Eq/Lt/Le/Gt/Ge/In directly on the planes, 64 rows per
word-op, without decoding (fle-encoding.h:7962-8313).

This module reproduces the ALGORITHM with numpy word-parallel arithmetic
(the portable analog of the AVX2 intrinsics — one numpy op touches every
block's plane at once, exactly as one AVX2 op touches 4 words):

* :func:`fle_pack` / :func:`fle_unpack` — the Put/Get transpose for any
  bit width 1..64, as byte-wise 8×8 bit-matrix transposes on uint64
  words.  A 64-value block is an 8×8 grid of bytes (value octet m,
  value byte k); the eight byte-k's of octet m form one 8×8 bit matrix,
  and transposing it (:func:`_t8`, three masked delta-swap rounds,
  Hacker's Delight 7-3) turns "byte r = value 8m+r" into "byte b = bit
  8k+b of the octet's eight values", i.e. byte m of plane 8k+b.  Around
  the transpose only whole bytes move (numpy axis swaps), and only the
  ceil(width/8) value bytes that carry bits are touched.  The transpose
  is its own inverse, so unpack runs the same rounds on the plane bytes.
  The reference unrolls widths 1..32 by hand; this formulation is
  width-generic.
* :func:`fle_skip` — Skip(k) is pure block-pointer arithmetic on the
  plane matrix (fle-encoding.h:344-402): nothing is decoded.
* :class:`FleKernels` — bit-sliced Eq/Lt/Le/Gt/Ge/In over the planes.
  The comparison recurrence is the BitWeaving one: walking planes MSB→LSB
  with running ``eq`` / ``lt`` / ``gt`` word masks, every literal bit
  costs exactly one AND + one ANDNOT per block word.
* :func:`order_preserving_codes` / :func:`code_bound` — the reference's
  order-preserving dictionary (dict-encoding.h:393-447): the dictionary
  is sorted and codes remapped so RANGE predicates translate to integer
  compares on codes (binary-search the literal, dict-encoding.h:461-541),
  with the all-true/all-false domain short-circuit for out-of-range
  literals.

Scale position: Spark's vectorized Parquet reader + whole-stage codegen
serve this role in the engine's query paths (SURVEY §2 rows 9/18); this
module exists to pin the ENCODING CONTRACT itself — `scan_fle_kernels`
runs the full encode → bit-sliced predicate → count pipeline inside Arrow
batches on executors and the DuckDB oracle replays every count from the
raw rows, so a single wrong bit in pack, kernel, or dictionary remap
flips the hash.  Tests property-fuzz the codec across widths against
direct evaluation.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "fle_pack",
    "fle_unpack",
    "fle_skip",
    "FleKernels",
    "pack_validity",
    "plane_min_max",
    "popcount",
    "order_preserving_codes",
    "code_bound",
]

_U64 = np.uint64
_ALL_ONES = _U64(0xFFFFFFFFFFFFFFFF)
_BLOCK = 64


def _as_codes(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values)
    if v.dtype != _U64:
        if np.issubdtype(v.dtype, np.signedinteger) and (v < 0).any():
            raise ValueError("FLE packs non-negative codes only")
        v = v.astype(_U64)
    return v


#: (shift, mask) of the three delta-swap rounds of an 8×8 bit-matrix
#: transpose on one uint64 word whose byte r is matrix row r (Hacker's
#: Delight 7-3, transpose8): bit 8r+c swaps with bit 8c+r.
_T8_ROUNDS = (
    (_U64(7), _U64(0x00AA00AA00AA00AA)),
    (_U64(14), _U64(0x0000CCCC0000CCCC)),
    (_U64(28), _U64(0x00000000F0F0F0F0)),
)


def _t8(x: np.ndarray) -> np.ndarray:
    """Transpose the 8×8 bit matrix in every word of `x`, in place.
    An involution: applying it twice gives `x` back."""
    for s, m in _T8_ROUNDS:
        t = ((x >> s) ^ x) & m
        x ^= t ^ (t << s)
    return x


def fle_pack(values: np.ndarray, bit_width: int) -> tuple[np.ndarray, int]:
    """Bit-plane transpose: values → (n_blocks, bit_width) uint64 plane
    matrix + the true value count (FleEncoder::Put + Flush,
    fle-encoding.h:8315-8365, 9806-9812).  Block b / plane j holds bit j
    of values[64b .. 64b+63], one value per bit position."""
    if not 1 <= bit_width <= 64:
        raise ValueError(f"bit_width {bit_width} out of range 1..64")
    v = _as_codes(values)
    if bit_width < 64 and v.size and int(v.max()) >> bit_width:
        raise ValueError(f"value exceeds bit_width {bit_width}")
    n = v.size
    nb = -(-n // _BLOCK)
    kb = -(-bit_width // 8)  # value bytes that carry bits
    blocks = np.zeros(nb * _BLOCK, dtype="<u8")
    blocks[:n] = v.reshape(-1)
    # bytes as [block, octet m, value r in octet, value byte k] → one
    # word per (block, k, m) whose byte r is byte k of value 8m+r
    rows = blocks.view(np.uint8).reshape(nb, 8, 8, 8)[..., :kb]
    words = np.array(rows.transpose(0, 3, 1, 2), order="C").view("<u8")
    # after the transpose byte b of word (block, k, m) is byte m of
    # plane 8k+b
    cols = _t8(words).view(np.uint8).reshape(nb, kb, 8, 8)
    planes = np.ascontiguousarray(cols.transpose(0, 1, 3, 2)).view("<u8")
    planes = planes.reshape(nb, 8 * kb)[:, :bit_width]
    return np.ascontiguousarray(planes, dtype=_U64), n


def fle_unpack(planes: np.ndarray, bit_width: int, n: int) -> np.ndarray:
    """Inverse transpose (FleDecoder::Get, fle-encoding.h:344-567)."""
    planes = np.asarray(planes, dtype=_U64)
    nb = planes.shape[0]
    kb = -(-bit_width // 8)
    if bit_width % 8:  # zero planes up to a whole byte of bits
        full = np.zeros((nb, 8 * kb), dtype="<u8")
        full[:, :bit_width] = planes
    else:
        full = np.ascontiguousarray(planes, dtype="<u8")
    # plane bytes as [block, k, bit b, octet m] → one word per
    # (block, k, m) whose byte b is byte m of plane 8k+b
    cols = full.view(np.uint8).reshape(nb, kb, 8, 8)
    words = np.array(cols.transpose(0, 1, 3, 2), order="C").view("<u8")
    # after the transpose byte r of word (block, k, m) is byte k of
    # value 8m+r
    rows = _t8(words).view(np.uint8).reshape(nb, kb, _BLOCK)
    out = (np.zeros if kb < 8 else np.empty)((nb, _BLOCK, 8), dtype=np.uint8)
    for k in range(kb):  # one value byte at a time: 64-byte inner loops
        out[:, :, k] = rows[:, k]
    return out.view("<u8").reshape(-1)[:n].astype(_U64, copy=False)


def fle_skip(
    planes: np.ndarray, start: int, k: int, n: int | None = None
) -> tuple[int, int]:
    """Skip(k) without decoding (fle-encoding.h:344-402): the encoded
    stream position is (block, offset) pointer arithmetic on the plane
    matrix — returns the new (block, in-block offset).  Provided to pin
    the contract that skipping is O(1) per call, independent of k's
    decode cost; the scan path uses it to jump over bitset-rejected runs
    (hdfs-parquet-scanner.cc:1006-1038).

    `n` is the true encoded value count (as :func:`fle_unpack` takes);
    skipping past it raises even when the final block's padding lanes
    would physically absorb the position.  Defaults to the padded
    capacity for callers that only track whole blocks."""
    pos = start + k
    limit = planes.shape[0] * _BLOCK if n is None else n
    if pos > limit:
        raise ValueError("skip past end of encoded stream")
    return pos // _BLOCK, pos % _BLOCK


class FleKernels:
    """Bit-sliced predicate kernels over a packed plane matrix
    (fle-encoding.h:7962-8313).  Each method returns one uint64 bitset
    word per block — bit i of word b answers the predicate for row
    64b+i — computed with word-parallel boolean algebra only (no
    unpack).  `n` masks the final block's padding lanes to 0."""

    def __init__(
        self,
        planes: np.ndarray,
        bit_width: int,
        n: int,
        validity: np.ndarray | None = None,
    ):
        """`validity` is the definition-level word array (one uint64 per
        block, bit i = row 64b+i is non-NULL) — the FLE form of parquet
        def levels (row 17/1 of the inventory; the reference packs them
        with the same encoder, fle-encoding.h def-level path).  When
        given, every comparison kernel ANDs it in: SQL comparison
        semantics, a NULL row never satisfies any predicate."""
        self.planes = np.asarray(planes, dtype=_U64)
        self.bit_width = bit_width
        self.n = n
        self.validity = (
            None if validity is None else np.asarray(validity, dtype=_U64)
        )

    def _tail_mask(self, bitset: np.ndarray) -> np.ndarray:
        if self.validity is not None:
            bitset = bitset & self.validity
        rem = self.n % _BLOCK
        if self.planes.shape[0] and rem:
            bitset[-1] &= (_U64(1) << _U64(rem)) - _U64(1)
        return bitset

    def is_null(self) -> np.ndarray:
        """IS NULL bitset from the validity words alone (no data planes
        touched — the def-level-only read path)."""
        nb = self.planes.shape[0]
        base = (
            np.zeros(nb, dtype=_U64)
            if self.validity is None else ~self.validity
        )
        rem = self.n % _BLOCK
        if nb and rem:
            base[-1] &= (_U64(1) << _U64(rem)) - _U64(1)
        return base

    def is_not_null(self) -> np.ndarray:
        nb = self.planes.shape[0]
        base = (
            np.full(nb, _ALL_ONES, dtype=_U64)
            if self.validity is None else self.validity.copy()
        )
        rem = self.n % _BLOCK
        if nb and rem:
            base[-1] &= (_U64(1) << _U64(rem)) - _U64(1)
        return base

    def _cmp(self, value: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """One MSB→LSB plane walk producing (eq, lt, gt) word masks —
        the BitWeaving/V recurrence shared by all five comparisons
        (reference splits it per-op for AVX2 register pressure;
        algorithmically identical)."""
        nb = self.planes.shape[0]
        if value < 0:
            # domain short-circuit: codes are unsigned, so a negative
            # literal is BELOW every row — eq none, lt none, gt all.
            # (Without this, value >> bit_width is -1 for negatives and
            # the above-domain branch would return the inverted masks.)
            ones = np.full(nb, _ALL_ONES, dtype=_U64)
            return np.zeros(nb, dtype=_U64), np.zeros(nb, dtype=_U64), ones
        if value >> self.bit_width:
            # domain short-circuit: literal above the code domain
            ones = np.full(nb, _ALL_ONES, dtype=_U64)
            return np.zeros(nb, dtype=_U64), ones, np.zeros(nb, dtype=_U64)
        eq = np.full(self.planes.shape[0], _ALL_ONES, dtype=_U64)
        lt = np.zeros(self.planes.shape[0], dtype=_U64)
        gt = np.zeros(self.planes.shape[0], dtype=_U64)
        for j in range(self.bit_width - 1, -1, -1):
            p = self.planes[:, j]
            if (value >> j) & 1:
                lt |= eq & ~p  # literal bit 1, row bit 0 → row smaller
                eq &= p
            else:
                gt |= eq & p  # literal bit 0, row bit 1 → row larger
                eq &= ~p
        return eq, lt, gt

    def eq(self, value: int) -> np.ndarray:
        e, _, _ = self._cmp(value)
        return self._tail_mask(e)

    def lt(self, value: int) -> np.ndarray:
        _, l, _ = self._cmp(value)
        return self._tail_mask(l)

    def le(self, value: int) -> np.ndarray:
        e, l, _ = self._cmp(value)
        return self._tail_mask(e | l)

    def gt(self, value: int) -> np.ndarray:
        _, _, g = self._cmp(value)
        return self._tail_mask(g)

    def ge(self, value: int) -> np.ndarray:
        e, _, g = self._cmp(value)
        return self._tail_mask(e | g)

    def in_(self, values) -> np.ndarray:
        """IN = OR of Eq words (fle-encoding.h:8236-8313)."""
        out = np.zeros(self.planes.shape[0], dtype=_U64)
        for v in values:
            e, _, _ = self._cmp(int(v))
            out |= e
        return self._tail_mask(out)


def plane_min_max(
    planes: np.ndarray,
    bit_width: int,
    n: int,
    validity: np.ndarray | None = None,
) -> tuple[int, int] | None:
    """Min/max of the VALID lanes computed directly on the plane words —
    no value is decoded (the aggregate-on-encoded-data theme of
    fle-encoding.h applied to stats): walk planes MSB→LSB keeping the
    candidate-lane bitset; for MAX keep lanes with the bit set while any
    exist (that bit then belongs to the max), for MIN keep lanes with
    the bit clear.  O(bit_width) word-ops per block, exactly like the
    comparison kernels.  Returns None when no lane is valid.  The fledir
    writer uses this for the per-segment stats its manifest carries
    (the parquet footer min/max analog the reference's scanner prunes
    row groups with, hdfs-parquet-scanner.cc:1006-1038)."""
    p = np.asarray(planes, dtype=_U64)
    nb = p.shape[0]
    cand = (
        np.full(nb, _ALL_ONES, dtype=_U64)
        if validity is None
        else np.asarray(validity, dtype=_U64).copy()
    )
    rem = n % _BLOCK
    if nb and rem:
        cand[-1] &= (_U64(1) << _U64(rem)) - _U64(1)
    if nb == 0 or not cand.any():
        return None
    cand_max, cand_min = cand.copy(), cand.copy()
    vmax = vmin = 0
    for j in range(bit_width - 1, -1, -1):
        col = p[:, j]
        hit = cand_max & col
        if hit.any():
            cand_max = hit
            vmax |= 1 << j
        miss = cand_min & ~col
        if miss.any():
            cand_min = miss
        else:
            vmin |= 1 << j
    return vmin, vmax


def plane_sum(
    planes: np.ndarray,
    bit_width: int,
    n: int,
    validity: np.ndarray | None = None,
) -> tuple[int, int] | None:
    """(code_sum, n_valid) of the VALID lanes computed directly on the
    plane words — no value is decoded (the aggregate-on-encoded-data
    theme of fle-encoding.h applied to SUM): plane j holds bit j of
    every lane, so the column's code sum is
    Σ_j popcount(plane_j ∧ valid) · 2^j — O(bit_width) popcounts per
    segment.  Accumulated in arbitrary-precision Python ints: a full
    u64-wide million-row column's sum exceeds int64 and a float64
    detour would silently round, so neither is used.  Returns None
    when no lane is valid.  The fledir writer uses this for the
    per-segment SUM stat its manifest carries (the aggregate-pushdown
    analog of the footer min/max: parquet keeps no sum statistic, but
    the reference's metadata count(*) shortcut,
    hdfs-parquet-scanner.cc:1377-1396, generalizes to any aggregate
    the writer can fold at encode time)."""
    p = np.asarray(planes, dtype=_U64)
    nb = p.shape[0]
    cand = (
        np.full(nb, _ALL_ONES, dtype=_U64)
        if validity is None
        else np.asarray(validity, dtype=_U64).copy()
    )
    rem = n % _BLOCK
    if nb and rem:
        cand[-1] &= (_U64(1) << _U64(rem)) - _U64(1)
    if nb == 0 or not cand.any():
        return None
    total = 0
    for j in range(bit_width):
        c = popcount(p[:, j] & cand)
        if c:
            total += c << j
    return total, popcount(cand)


def pack_validity(valid: np.ndarray) -> np.ndarray:
    """Boolean validity vector → one uint64 word per 64-value block
    (bit i of word b = row 64b+i is non-NULL): the def-level words
    :class:`FleKernels` consumes.  Padding lanes pack as 0 (NULL), which
    the kernels' tail mask already excludes."""
    v = np.asarray(valid, dtype=bool).reshape(-1)
    lanes = np.zeros(-(-v.size // _BLOCK) * _BLOCK, dtype=bool)
    lanes[:v.size] = v
    return np.packbits(lanes, bitorder="little").view("<u8").astype(_U64)


def popcount(bitset: np.ndarray) -> int:
    """Matching rows in a kernel result (the reference feeds the bitset
    to the skip-materialization loop; counting certifies it here).
    numpy<2 lacks bitwise_count — view as bytes and unpack."""
    b = np.asarray(bitset, dtype=_U64)
    return int(np.unpackbits(b.view(np.uint8)).sum())


def order_preserving_codes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Order-preserving dictionary (dict-encoding.h:393-447): sorted
    distinct dictionary + codes such that code order == value order, so
    range predicates evaluate as integer compares on the codes."""
    dictionary, codes = np.unique(np.asarray(values), return_inverse=True)
    return dictionary, codes.astype(_U64)


def code_bound(dictionary: np.ndarray, op: str, literal) -> tuple[str, int] | bool:
    """Translate `column OP literal` into `code OP' code_literal` against
    a sorted dictionary (DictDecoder::Eq/Gt/Lt/Ge/Le, dict-encoding.h:
    461-541): binary-search the literal; a literal outside the dictionary
    domain short-circuits to all-True/all-False (returned as a bool),
    otherwise returns the code-space predicate to hand to FleKernels."""
    d = np.asarray(dictionary)
    k = d.shape[0]
    i = int(np.searchsorted(d, literal, side="left"))
    present = i < k and d[i] == literal
    if op == "eq":
        return ("eq", i) if present else False
    if op == "le":
        hi = i if present else i - 1  # greatest code with value <= literal
        if hi < 0:
            return False
        if hi >= k - 1:
            return True
        return ("le", hi)
    if op == "lt":
        if i <= 0:
            return False
        if i >= k:
            return True
        return ("le", i - 1)
    if op == "ge":
        lo = i  # least code with value >= literal
        if lo >= k:
            return False
        if lo == 0:
            return True
        return ("ge", lo)
    if op == "gt":
        lo = i + 1 if present else i
        if lo >= k:
            return False
        if lo == 0:
            return True
        return ("ge", lo)
    raise ValueError(f"unknown op {op!r}")
