"""The column kinds of the fledir container (`sources/fle_datasource.py`).

A kind is how one column section is stored: the reference picks one
typed column reader per column type (hdfs-parquet-scanner.cc:670-720)
and keeps every per-type rule in it; here each kind is one
:class:`ColumnKind` record in :data:`KINDS`, keyed by the byte the
section header carries.  The record holds everything that differs by
kind — encoder, section extras, decode to numpy and to Arrow, Python
scalars, NULL filler, Spark type, pushable literals, literal → code,
manifest stats and bloom hash domain — so the container code asks the
record and never branches on the kind itself.

Every section starts with ``u16 name_len, name, u8 kind, u8 nullable``
and, when nullable, ``u64[n_blocks]`` validity words.  The kind's
extras follow; then, for every kind with planes, ``u8 width`` and
``u64[n_blocks * width]`` block-major plane words of the codes:

====  ==========  ======================================  =====  ============
byte  kind        extras after the validity words          ``t``  Spark type
====  ==========  ======================================  =====  ============
0     int         —  (code = value ≥ 0)                    —      bigint
1     dict        u16 size; size × (u16 len, utf-8)        —      string
2     offset      i64 base  (value = base + code)          —      bigint
3     f64         u64 code base (sortable bits)            f64    double
4     ts          i64 base, microseconds since the epoch   ts     timestamp
5     date        i64 base, days since the epoch           date   date
6     bool        —  (width 1)                             bool   boolean
7     dec         i64 base (unscaled); u8 p; u8 s          dec    decimal(p,s)
8     str_plain   u32 data_len; u32[n+1] offsets; bytes    —      string
====  ==========  ======================================  =====  ============

``str_plain`` is the one kind without planes.  ``t`` is the manifest
stats tag of kinds whose stats need a logical type attached (untagged
stats are plain ints or strings).  Writer hints are ``"int"``,
``"dict"``, ``"offset"``, ``"f64"``/``"f64_nan_null"``, ``"ts"``,
``"date"``, ``"bool"``, ``("dec", p, s)`` and ``"str_plain"``; without
one the kind is inferred from the values (:func:`infer_kind`).
"""

from __future__ import annotations

import datetime as _dtm
import decimal as _decm
import math
import struct
from typing import NamedTuple

import numpy as np

from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
    code_bound,
    fle_unpack,
    plane_min_max,
)

_KIND_INT = 0
_KIND_DICT = 1
_KIND_OFFSET = 2
_KIND_F64 = 3
_KIND_TS = 4
_KIND_DATE = 5
_KIND_BOOL = 6
_KIND_DEC = 7
_KIND_STR_PLAIN = 8
#: the dictionary code domain is u16 in this container (dict_size and
#: entry lengths serialize as u16) — the same 2^16-1 cap the reference
#: writer enforces before falling back to PLAIN
#: (hdfs-parquet-table-writer.cc:59)
MAX_DICTIONARY_ENTRIES = 0xFFFF
_EPOCH = _dtm.datetime(1970, 1, 1)
_EPOCH_DAY = _dtm.date(1970, 1, 1)


def null_cells(vals) -> np.ndarray:
    """Per-lane NULL markers of a writer values array: a cell is NULL
    when it is ``None`` or a NaN ``float`` (``np.float64`` included).
    ``pd.NA``, ``NaT`` and ``Decimal('NaN')`` are values, not NULLs, and
    so are the lanes of a numeric array whose scalars are not ``float``
    (``float32``, integers).  Object arrays go through pandas' C null
    scan, a superset of these markers, and only its hits are looked at
    again one by one."""
    a = np.asarray(vals)
    if a.dtype != object:
        if issubclass(a.dtype.type, float):
            return np.isnan(a)
        return np.zeros(a.shape, dtype=bool)
    import pandas as pd

    out = np.asarray(pd.isna(a), dtype=bool)
    flat = out.reshape(-1)
    hits = np.flatnonzero(flat)
    flat[hits] = [v is None or isinstance(v, float) for v in a.reshape(-1)[hits]]
    return out


def _has_negative(vals: np.ndarray) -> bool:
    """True iff any non-null lane of a numeric column is negative —
    routes the column to the offset-code kind."""
    v = np.asarray(vals)
    if v.dtype == object:
        return any(
            isinstance(x, (int, np.integer, float, np.floating)) and x < 0
            for x in v[~null_cells(v)]
        )
    if v.dtype.kind == "f":
        ok = ~np.isnan(v)
        return bool(ok.any() and (v[ok] < 0).any())
    if v.dtype.kind in ("i",):
        return bool(v.size and v.min() < 0)
    return False


def _encode_int_column(name: str, values: np.ndarray) -> tuple[
    np.ndarray, np.ndarray, int, bool
]:
    """→ (codes uint64, valid bool, width, nullable).  Floats use NaN as
    the NULL marker; valid lanes must be non-negative integral values —
    silent truncation would corrupt the round-trip (a fractional or
    negative input raises instead of storing a wrong value)."""
    vals = np.asarray(values)
    if vals.dtype == object:
        # exact Python-int arithmetic: an object array may hold ints
        # beyond 2^53, where a float64 detour silently rounds to a
        # DIFFERENT value — every lane is range-checked individually
        valid = ~null_cells(vals)
        nullable = bool((~valid).any())
        codes = np.zeros(vals.size, dtype=np.uint64)
        for i in np.flatnonzero(valid):
            v = vals[i]
            if isinstance(v, (float, np.floating)) and not v.is_integer():
                raise ValueError(
                    f"fledir: column {name!r} has non-integral values "
                    "— the FLE plane encoding stores unsigned "
                    "integers exactly"
                )
            iv = int(v)
            if iv < 0:
                raise ValueError(
                    f"fledir: column {name!r} has negative values — FLE "
                    "plane codes are unsigned (order-preserving offset "
                    "them first)"
                )
            if iv > 0x7FFFFFFFFFFFFFFF:
                # plane storage is u64, but the DataSource decodes to
                # Spark bigint (int64) — a larger value would silently
                # wrap negative on read, so refuse it at encode time
                raise ValueError(
                    f"fledir: column {name!r} exceeds the bigint decode "
                    "range (max 2^63-1)"
                )
            codes[i] = iv
        width = max(int(codes.max()).bit_length(), 1) if codes.size else 1
        return codes, valid, width, nullable
    if vals.dtype.kind == "f":
        valid = ~np.isnan(vals)
        nullable = bool((~valid).any())
    else:
        valid = np.ones(vals.size, dtype=bool)
        nullable = False
    filled = np.where(valid, vals, 0)
    codes = filled.astype(np.uint64)
    if vals.dtype.kind == "f":
        if not np.array_equal(
            codes[valid].astype(np.float64), np.asarray(filled)[valid]
        ):
            raise ValueError(
                f"fledir: column {name!r} has non-integral values — the FLE "
                "plane encoding stores unsigned integers exactly"
            )
    if valid.any() and np.asarray(filled)[valid].min() < 0:
        raise ValueError(
            f"fledir: column {name!r} has negative values — FLE plane "
            "codes are unsigned (order-preserving offset them first)"
        )
    width = max(int(codes.max()).bit_length(), 1) if codes.size else 1
    return codes, valid, width, nullable


def _encode_offset_column(name: str, values: np.ndarray) -> tuple[
    np.ndarray, np.ndarray, int, int, bool
]:
    """→ (codes uint64, valid bool, base i64, width, nullable) for a
    SIGNED integer column: codes are ``value - base`` (base = column
    minimum), computed in modular u64 arithmetic so any int64 span up
    to 2^64-1 round-trips exactly (two's complement in, two's
    complement out)."""
    vals = np.asarray(values)
    if vals.dtype == object:
        valid = ~null_cells(vals)
        ints = np.zeros(vals.size, dtype=np.int64)
        for i in np.flatnonzero(valid):
            v = vals[i]
            if isinstance(v, (float, np.floating)) and not v.is_integer():
                raise ValueError(
                    f"fledir: column {name!r} has non-integral values "
                    "— the FLE plane encoding stores integers exactly"
                )
            iv = int(v)
            if not (-(2**63) <= iv <= 2**63 - 1):
                raise ValueError(
                    f"fledir: column {name!r} exceeds the bigint decode "
                    "range"
                )
            ints[i] = iv
    elif vals.dtype.kind == "f":
        valid = ~np.isnan(vals)
        filled = np.where(valid, vals, 0.0)
        ints = filled.astype(np.int64)
        if not np.array_equal(
            ints[valid].astype(np.float64), filled[valid]
        ):
            raise ValueError(
                f"fledir: column {name!r} has non-integral values — the "
                "FLE plane encoding stores integers exactly"
            )
    else:
        valid = np.ones(vals.size, dtype=bool)
        ints = vals.astype(np.int64)
    nullable = bool((~valid).any())
    base = int(ints[valid].min()) if valid.any() else 0
    # modular subtraction: (value - base) mod 2^64 is the exact
    # non-negative offset for any int64 pair, and order-preserving
    # because base is the minimum
    codes = (
        ints.view(np.uint64) - np.uint64(base & 0xFFFFFFFFFFFFFFFF)
    )
    codes = np.where(valid, codes, np.uint64(0))
    width = (
        max(int(codes[valid].max()).bit_length(), 1) if valid.any() else 1
    )
    return codes.astype(np.uint64), valid, base, width, nullable


_SIGN_BIT = np.uint64(1 << 63)


def _f64_code_array(vals: np.ndarray) -> np.ndarray:
    """double[] → order-preserving u64[] (sortable bits): non-negative
    doubles flip the sign bit, negatives flip every bit; the map is a
    monotone bijection on normalized doubles, so ``a < b  ⇔  map(a) <
    map(b)`` and the unsigned BitWeaving kernels answer double
    comparisons exactly.  -0.0 is normalized to +0.0 first (SQL treats
    them equal; the raw bit patterns would not be)."""
    v = np.where(vals == 0.0, 0.0, vals)  # -0.0 == 0.0 → +0.0
    bits = np.ascontiguousarray(v, dtype="<f8").view(np.uint64)
    neg = (bits & _SIGN_BIT) != 0
    return np.where(neg, ~bits, bits | _SIGN_BIT)


def _f64_code_scalar(value: float) -> int:
    return int(_f64_code_array(np.asarray([float(value)]))[0])


def _f64_from_code_array(codes: np.ndarray) -> np.ndarray:
    """Inverse sortable-bits map: u64 codes → float64."""
    c = codes.astype(np.uint64)
    was_neg = (c & _SIGN_BIT) == 0  # negatives mapped below the pivot
    bits = np.where(was_neg, ~c, c & ~_SIGN_BIT)
    return bits.astype("<u8").view("<f8").astype(np.float64)


def _ts_micros(value) -> int:
    """datetime → exact microseconds since the epoch (integer
    arithmetic — float seconds would round near the range edges).
    tz-aware literals convert to UTC, matching the engine's pinned
    session timezone."""
    if value.tzinfo is not None:
        value = value.astimezone(_dtm.timezone.utc).replace(tzinfo=None)
    d = value - _EPOCH
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def _date_days(value) -> int:
    return (value - _EPOCH_DAY).days


def _dec_code_bound(op: str, value, scale: int):
    """Translate ``column OP literal`` on a DECIMAL(p,s) column into an
    exact UNSCALED-integer predicate.  A literal with more fractional
    digits than s has no unscaled peer, but every comparison still
    translates exactly through floor/ceil (x < 10.005 at s=2 ⇔
    unscaled < ceil(1000.5) = 1001); eq against such a literal matches
    nothing.  Returns (op', unscaled) or False for match-nothing."""
    q = (
        value if isinstance(value, _decm.Decimal) else _decm.Decimal(value)
    ).scaleb(scale)
    i = int(q)
    if op == "eq":
        return ("eq", i) if q == i else False
    if op == "lt":
        return ("lt", math.ceil(q))
    if op == "le":
        return ("le", math.floor(q))
    if op == "gt":
        return ("gt", math.floor(q))
    if op == "ge":
        return ("ge", math.ceil(q))
    raise ValueError(f"unknown decimal op {op!r}")


def _plain_str_arrow(c, n: int):
    """PLAIN string section → ZERO-COPY Arrow StringArray (no Python
    string materializes here — offsets/bytes are wrapped as buffers;
    the encoder caps sections at 2 GiB so i32 offsets are exact)."""
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.string(), n,
        [None,
         pa.py_buffer(c.str_offsets[: n + 1].astype("<i4").tobytes()),
         pa.py_buffer(c.str_data)],
    )


def _plain_str_values(c, n: int) -> np.ndarray:
    """PLAIN string section → object ndarray of str (the validity mask
    is applied by the caller; NULL lanes surface as empty strings)."""
    if n == 0:
        return np.empty(0, dtype=object)
    return np.asarray(_plain_str_arrow(c, n).to_pandas(), dtype=object)


def _lane_validity(col, n: int) -> np.ndarray:
    if col.validity is None:
        return np.ones(n, dtype=bool)
    lanes = np.arange(n, dtype=np.uint64)
    return (
        (col.validity[(lanes // 64).astype(np.int64)] >> (lanes % 64))
        & np.uint64(1)
    ).astype(bool)


class Encoded(NamedTuple):
    """One column encoded for its section: the kind byte written (a
    dictionary over its cap falls back to plain), lane validity, the
    kind's extras bytes, and the plane codes (None without planes)."""

    kind: int
    valid: np.ndarray
    nullable: bool
    extras: bytes
    codes: "np.ndarray | None" = None
    width: int = 0


class ColumnKind:
    """One column kind.  The defaults are the integer kinds' rules;
    each subclass overrides what its kind does differently.  Methods
    take the parsed column `c` (a `fle_datasource.ParsedColumn`) where
    a rule needs its header fields (base, dictionary, p/s)."""

    byte: int
    #: writer hint spellings that select this kind; the first is the
    #: one a re-encode pins
    hints: tuple = ()
    #: manifest stats `t` tag; None when the stats are plain ints or
    #: strings
    tag: "str | None" = None
    #: the section carries `u8 width` and plane words after its extras
    planes = True
    #: dtype of a decode window with no surviving lane
    empty_dtype = np.int64
    ddl_type = "bigint"
    #: pyarrow type alias of the decoded column
    arrow_type = "int64"
    #: Spark DataType class names the stream sink stores as this kind
    spark_types: tuple = ()
    #: bloom sidecar hash domain ("i64" or "str"); None: no blooms
    bloom: "str | None" = None
    #: the manifest keeps an exact `sum` stat, folded on the planes
    keeps_sum = False
    #: an insert of Arrow-decoded pandas values pins the hint, since
    #: inference cannot recover the kind from them
    pin_on_insert = False
    #: startswith / endswith / contains push down
    string_predicates = False
    #: typed encoder input whose NULL lanes hold `null_marker` (NaN,
    #: NaT) — also the numpy type decoded values take at the Arrow
    #: boundary; None: an object array with None in the NULL lanes
    writer_dtype = None
    null_marker = None

    # -- write and read ------------------------------------------------

    def encode(self, name: str, vals: np.ndarray, hint) -> Encoded:
        raise NotImplementedError

    def read_extras(
        self, payload: bytes, off: int, n: int
    ) -> "tuple[dict, int]":
        """Section extras at `off` → (ParsedColumn fields, offset past
        them)."""
        return {}, off

    def values(self, c, codes: np.ndarray) -> np.ndarray:
        """Plane codes → decoded numpy values.  Timestamp, date and
        decimal values stay in their integer domain (micros / days /
        unscaled); :meth:`to_arrow` attaches the logical type."""
        return codes.astype(np.int64)

    def to_arrow(self, pa, c, vals: np.ndarray, mask):
        if self.writer_dtype is not None:
            vals = np.asarray(vals, self.writer_dtype)
        return pa.array(
            vals, type=pa.type_for_alias(self.arrow_type), mask=mask
        )

    def scalar(self, v, scale: int = 0):
        """One decoded value or manifest stat → its Python scalar (for
        stream rows, metadata aggregates and re-encode)."""
        return int(v)

    def ddl(self, c) -> str:
        return self.ddl_type

    # -- re-encode, insert, stream sink --------------------------------

    def hint(self, c):
        """The writer hint that re-encodes `c` as the same kind."""
        return self.hints[0]

    def insert_hint(self, c):
        return self.hint(c) if self.pin_on_insert else None

    def writer_values(self, c, vals: np.ndarray, valid: np.ndarray):
        """Decoded (values, valid) → the encoder input that stores them
        again, NULL lanes in this kind's convention."""
        if self.writer_dtype is None and valid.all():
            return vals
        out = vals.astype(self.writer_dtype or object)
        out[~valid] = self.null_marker
        return out

    def null_fill(self, n: int) -> np.ndarray:
        """n NULL lanes in this kind's encoder input form."""
        return np.full(n, self.null_marker, dtype=self.writer_dtype or object)

    def sink(self, vals: list, dt) -> tuple:
        """One stream micro-batch column of Spark type `dt` → (encoder
        input, hint)."""
        return np.array(vals, dtype=object), self.hints[0]

    # -- predicates and stats ------------------------------------------

    def pushable(self, v) -> bool:
        """Can `column op v` be answered exactly in code space?  The
        integer rule: integral literals only, since the kernels would
        answer x<10 for x<10.5.  A None element (IN-lists can carry
        one) stays residual — SQL gives NULL-in-list its own
        three-valued semantics."""
        if v is None:
            return False
        return not (
            isinstance(v, (float, np.floating)) and not float(v).is_integer()
        )

    def value_of(self, v, scale: int = 0):
        """Query literal → this kind's value domain, where the manifest
        stats live (`scale` is the stats' `s` tag)."""
        return int(v)

    def code_bound(self, c, op: str, v):
        """`column op v` → (op', plane code), or True / False when
        every / no valid row matches.  Codes may fall outside the u64
        domain: the kernels short-circuit them."""
        return op, self.value_of(v) - c.base

    def min_max(self, c, n: int) -> tuple:
        """Value-space (min, max) of the valid lanes, for the manifest:
        every kind's code map is monotone, so the code extremes found
        on the planes are the value extremes."""
        mn, mx = plane_min_max(c.planes, c.width, n, validity=c.validity)
        return self.stat_of_code(c, mn), self.stat_of_code(c, mx)

    def stat_of_code(self, c, code: int):
        return c.base + code

    def stat_extras(self, c) -> dict:
        return {} if self.tag is None else {"t": self.tag}

    def bloom_keys(self, c, n: int):
        """Distinct values to hash into the bloom sidecar (int64 value
        space for the integer kinds)."""
        lv = _lane_validity(c, n)
        codes = fle_unpack(c.planes, c.width, n)
        return np.unique(codes[lv].astype(np.int64) + np.int64(c.base))


class _IntKind(ColumnKind):
    """Unsigned integer planes: the code is the value."""

    byte = _KIND_INT
    hints = ("int",)
    spark_types = ("LongType", "IntegerType", "ShortType", "ByteType")
    bloom = "i64"
    keeps_sum = True

    def encode(self, name, vals, hint):
        codes, valid, width, nullable = _encode_int_column(name, vals)
        return Encoded(self.byte, valid, nullable, b"", codes, width)

    def sink(self, vals, dt):
        present = [v for v in vals if v is not None]
        hint = "offset" if any(v < 0 for v in present) else "int"
        return np.array(vals, dtype=object), hint


class _OffsetCodes(ColumnKind):
    """Signed int64 values stored as order-preserving OFFSET codes: the
    extras carry an i64 base (the column minimum) and codes are
    ``value - base`` — the "order-preserving offset" the unsigned plane
    encoding needs for signed domains (dict-encoding.h:393-447's
    order-preserving remap applied to integers).  Literals translate by
    the same subtraction, so every kernel and both stats tiers work
    unchanged in code space."""

    def _offset_encoded(
        self, name: str, ints: np.ndarray, valid: np.ndarray, extra=b""
    ) -> Encoded:
        # fill NULL lanes with a VALID value so the offset base/width
        # are computed over the real domain (a 0 filler would widen
        # the planes)
        fill = ints[valid][0] if valid.any() else 0
        codes, _, base, width, _ = _encode_offset_column(
            name, np.where(valid, ints, fill)
        )
        return Encoded(
            self.byte, valid, bool((~valid).any()),
            struct.pack("<q", base) + extra,
            np.where(valid, codes, np.uint64(0)), width,
        )

    def read_extras(self, payload, off, n):
        (base,) = struct.unpack_from("<q", payload, off)
        return {"base": base}, off + 8

    def values(self, c, codes):
        # modular add then two's-complement view: exact for any int64
        # base + code pair the encoder accepted
        return (
            codes.astype(np.uint64)
            + np.uint64(c.base & 0xFFFFFFFFFFFFFFFF)
        ).view(np.int64)


class _OffsetKind(_OffsetCodes):
    byte = _KIND_OFFSET
    hints = ("offset",)
    bloom = "i64"
    keeps_sum = True

    def encode(self, name, vals, hint):
        codes, valid, base, width, nullable = _encode_offset_column(
            name, vals
        )
        return Encoded(
            self.byte, valid, nullable, struct.pack("<q", base), codes, width
        )


class _F64Kind(ColumnKind):
    """IEEE-754 double stored through the SORTABLE-BITS bijection (see
    :func:`_f64_code_array`): total order on the u64 codes == numeric
    order on the doubles, so every comparison kernel and both stats
    tiers run unchanged on encoded data — the order-preserving-
    dictionary idea (dict-encoding.h:393-447) applied to the double
    domain without a dictionary.  The extras carry a u64 code base (the
    minimum code): every non-negative double maps at or above 2^63, so
    without it the width would always be 64.

    NaN handling is EXPLICIT: a float64 ndarray cannot distinguish a
    NULL marker from a genuine NaN datum (Spark orders NaN as a valid,
    greatest double), so the plain "f64" hint REFUSES NaN rather than
    silently re-typing data as NULLs; callers whose NaNs mean NULL
    (the pandas float convention) opt in with the "f64_nan_null"
    hint."""

    byte = _KIND_F64
    hints = ("f64_nan_null", "f64")
    tag = "f64"
    empty_dtype = np.float64
    ddl_type = "double"
    arrow_type = "double"
    spark_types = ("DoubleType", "FloatType")
    # NaN lanes of inserted rows read as NULL (the decode-side
    # convention); genuine-NaN inserts are not representable
    pin_on_insert = True
    writer_dtype = np.float64
    null_marker = np.nan

    def encode(self, name, vals, hint):
        vals = np.asarray(vals, dtype=np.float64)
        valid = ~np.isnan(vals)
        if hint != "f64_nan_null" and not valid.all():
            raise ValueError(
                f"fledir: column {name!r} contains NaN — the 'f64' kind "
                "stores doubles exactly and cannot tell a NaN datum from "
                "a NULL marker; scrub the NaNs or use the 'f64_nan_null' "
                "hint to store them as NULLs"
            )
        fill = vals[valid][0] if valid.any() else 0.0
        mapped = _f64_code_array(np.where(valid, vals, fill))
        base = int(mapped[valid].min()) if valid.any() else 0
        codes = np.where(valid, mapped - np.uint64(base), np.uint64(0))
        width = (
            max(int(codes[valid].max()).bit_length(), 1)
            if valid.any() else 1
        )
        return Encoded(
            self.byte, valid, bool((~valid).any()), struct.pack("<Q", base),
            codes.astype(np.uint64), width,
        )

    def read_extras(self, payload, off, n):
        (base,) = struct.unpack_from("<Q", payload, off)
        return {"base": base}, off + 8

    def values(self, c, codes):
        return _f64_from_code_array(
            codes.astype(np.uint64) + np.uint64(c.base)
        )

    def scalar(self, v, scale=0):
        return float(v)

    def sink(self, vals, dt):
        # a NULL lane round-trips as NaN: genuine-NaN data is not
        # representable through the sink (the decode-side convention)
        return (
            np.array([np.nan if v is None else float(v) for v in vals]),
            "f64_nan_null",
        )

    def pushable(self, v):
        # any non-NaN double literal maps exactly (±inf too); NaN stays
        # residual — Spark's NaN ordering semantics (NaN == NaN, NaN
        # greatest) differ from the kernels'
        return isinstance(v, (int, float, np.integer, np.floating)) and not (
            isinstance(v, (float, np.floating)) and math.isnan(v)
        )

    def value_of(self, v, scale=0):
        return float(v)

    def code_bound(self, c, op, v):
        return op, _f64_code_scalar(float(v)) - c.base

    def stat_of_code(self, c, code):
        code = np.asarray([c.base + code], dtype=np.uint64)
        return float(_f64_from_code_array(code)[0])


class _TsKind(_OffsetCodes):
    """TIMESTAMP: microseconds since the epoch (session-UTC wall time,
    the engine pins spark.sql.session.timeZone=UTC) through the signed
    offset map — hdfs-parquet-scanner.cc's INT96 timestamp column
    re-expressed on the container's own order-preserving offset.  NaT
    or None marks NULL."""

    byte = _KIND_TS
    hints = ("ts",)
    tag = "ts"
    ddl_type = "timestamp"
    arrow_type = "timestamp[us]"
    spark_types = ("TimestampType",)
    writer_dtype = "datetime64[us]"
    null_marker = np.datetime64("NaT")

    def encode(self, name, vals, hint):
        if vals.dtype.kind == "M":
            valid = ~np.isnat(vals)
            micros = np.where(
                valid, vals.astype("datetime64[us]").astype(np.int64), 0
            )
        else:  # object array of datetimes / None
            valid = ~null_cells(vals)
            micros = np.zeros(vals.size, dtype=np.int64)
            for i in np.flatnonzero(valid):
                micros[i] = _ts_micros(vals[i])
        return self._offset_encoded(name, micros, valid)

    def scalar(self, v, scale=0):
        return _EPOCH + _dtm.timedelta(microseconds=int(v))

    def sink(self, vals, dt):
        return np.array(vals, dtype="datetime64[us]"), "ts"

    def pushable(self, v):
        return isinstance(v, _dtm.datetime)

    def value_of(self, v, scale=0):
        return _ts_micros(v)


class _DateKind(_OffsetCodes):
    """DATE: days since the epoch through the signed offset map (the
    reference declares DATE "NYI", parquet-common.h:51-53 — this
    container carries it because the kernels are domain-agnostic).
    NaT or None marks NULL."""

    byte = _KIND_DATE
    hints = ("date",)
    tag = "date"
    ddl_type = "date"
    arrow_type = "date32"
    spark_types = ("DateType",)
    writer_dtype = "datetime64[D]"
    null_marker = np.datetime64("NaT")

    def encode(self, name, vals, hint):
        if vals.dtype.kind == "M":
            valid = ~np.isnat(vals)
            days = np.where(
                valid, vals.astype("datetime64[D]").astype(np.int64), 0
            )
        else:
            valid = ~null_cells(vals)
            days = np.zeros(vals.size, dtype=np.int64)
            for i in np.flatnonzero(valid):
                days[i] = _date_days(vals[i])
        return self._offset_encoded(name, days, valid)

    def scalar(self, v, scale=0):
        return _EPOCH_DAY + _dtm.timedelta(days=int(v))

    def sink(self, vals, dt):
        return np.array(vals, dtype="datetime64[D]"), "date"

    def pushable(self, v):
        # datetime is a date subclass: a datetime literal on a date
        # column has sub-day precision — keep it residual
        return isinstance(v, _dtm.date) and not isinstance(v, _dtm.datetime)

    def value_of(self, v, scale=0):
        return _date_days(v)


class _BoolKind(ColumnKind):
    """BOOLEAN: width-1 planes of 0/1 (hdfs-parquet-scanner.cc:607-634's
    bit-packed boolean column — FLE *is* bit-packing at width 1)."""

    byte = _KIND_BOOL
    hints = ("bool",)
    tag = "bool"
    empty_dtype = bool
    ddl_type = "boolean"
    arrow_type = "bool"
    spark_types = ("BooleanType",)

    def encode(self, name, vals, hint):
        if vals.dtype == object:
            valid = ~null_cells(vals)
            codes = np.array(
                [1 if (valid[i] and bool(vals[i])) else 0
                 for i in range(vals.size)],
                dtype=np.uint64,
            )
        else:
            valid = np.ones(vals.size, dtype=bool)
            codes = vals.astype(bool).astype(np.uint64)
        return Encoded(self.byte, valid, bool((~valid).any()), b"", codes, 1)

    def values(self, c, codes):
        return codes.astype(bool)

    def scalar(self, v, scale=0):
        return bool(v)

    def pushable(self, v):
        return isinstance(v, (bool, np.bool_))

    def value_of(self, v, scale=0):
        return int(bool(v))


class _DecKind(_OffsetCodes):
    """DECIMAL(p,s): the exact unscaled integer through the signed
    offset map; p/s ride the extras so decode re-attaches the scale
    (the FIXED_LEN_BYTE_ARRAY decimal convention, parquet-common.h:
    120-163, with the unscaled int as the code domain).  Pushed
    literals with MORE fractional digits than s translate exactly via
    floor/ceil bounds (x < 10.005 on scale 2 ⇔ code < ceil(1000.5)).
    The writer hint is ``("dec", p, s)``."""

    byte = _KIND_DEC
    tag = "dec"
    spark_types = ("DecimalType",)
    keeps_sum = True
    pin_on_insert = True

    def encode(self, name, vals, hint):
        """A value with more fractional digits than s would silently
        lose precision — raise instead (the writer's strict-overflow
        stance, hdfs-parquet-table-writer.cc's decimal path)."""
        p, s = int(hint[1]), int(hint[2])
        vals = np.asarray(vals, dtype=object)
        valid = ~null_cells(vals)
        unscaled = np.zeros(vals.size, dtype=np.int64)
        for i in np.flatnonzero(valid):
            d = _decm.Decimal(vals[i])
            if not d.is_finite():
                raise ValueError(
                    f"fledir: column {name!r} holds a non-finite Decimal "
                    f"({vals[i]}) — the unscaled-integer encoding has no "
                    "representation for NaN/Infinity"
                )
            q = d.scaleb(s)
            iv = int(q)
            if q != iv:
                raise ValueError(
                    f"fledir: column {name!r} value {vals[i]} does not fit "
                    f"scale {s} — the unscaled encoding is exact"
                )
            unscaled[i] = iv
        return self._offset_encoded(
            name, unscaled, valid, struct.pack("<BB", p, s)
        )

    def read_extras(self, payload, off, n):
        fields, off = super().read_extras(payload, off, n)
        fields["precision"], fields["scale"] = struct.unpack_from(
            "<BB", payload, off
        )
        return fields, off + 2

    def to_arrow(self, pa, c, vals, mask):
        return pa.array(
            [self.scalar(u, c.scale) for u in vals],
            type=pa.decimal128(c.precision, c.scale),
            mask=mask,
        )

    def scalar(self, v, scale=0):
        return _decm.Decimal(int(v)).scaleb(-scale)

    def ddl(self, c):
        return f"decimal({c.precision},{c.scale})"

    def hint(self, c):
        return ("dec", c.precision, c.scale)

    def writer_values(self, c, vals, valid):
        out = np.empty(vals.size, dtype=object)
        for i in np.flatnonzero(valid):
            out[i] = self.scalar(vals[i], c.scale)
        return out

    def sink(self, vals, dt):
        return np.array(vals, dtype=object), ("dec", dt.precision, dt.scale)

    def pushable(self, v):
        # any finite numeric/Decimal literal translates exactly through
        # floor/ceil bounds on the unscaled domain
        if isinstance(v, _decm.Decimal):
            return v.is_finite()
        if isinstance(v, (float, np.floating)):
            return math.isfinite(v)
        return isinstance(v, (int, np.integer))

    def value_of(self, v, scale=0):
        # the exact unscaled Decimal: compares exactly against int stats
        return (
            v if isinstance(v, _decm.Decimal) else _decm.Decimal(v)
        ).scaleb(scale)

    def code_bound(self, c, op, v):
        b = _dec_code_bound(op, v, c.scale)
        return b if b is False else (b[0], b[1] - c.base)

    def stat_extras(self, c):
        return {"t": self.tag, "s": c.scale}


class _DictKind(ColumnKind):
    """Order-preserving dictionary of strings: codes index the sorted
    dictionary, so code order is value order and range predicates run
    as code comparisons (dict-encoding.h:393-541).  Entries carry a u16
    length prefix, so entries up to 65535 UTF-8 bytes round-trip."""

    byte = _KIND_DICT
    hints = ("dict",)
    empty_dtype = object
    ddl_type = "string"
    arrow_type = "string"
    spark_types = ("StringType",)
    bloom = "str"
    string_predicates = True

    def encode(self, name, vals, hint):
        vals = np.asarray(vals, dtype=object)
        valid = ~null_cells(vals)
        dictionary, codes = [], np.zeros(vals.size, dtype=np.uint64)
        if valid.any():
            work = np.where(valid, vals, vals[valid][0]).astype(str)
            # the distinct count is known BEFORE code assignment, so a
            # near-unique column (the fallback's target case) pays one
            # np.unique, not a full dict encode it then discards
            uniq = np.unique(work)
            if uniq.size > MAX_DICTIONARY_ENTRIES:
                if hint == "dict":  # the hint forces the kind: refuse
                    raise ValueError(
                        f"fledir: column {name!r} has {uniq.size} "
                        "distinct values — the dictionary kind caps at "
                        f"{MAX_DICTIONARY_ENTRIES} (drop the 'dict' "
                        "hint to allow the plain-string fallback)"
                    )
                # the reference writer's cap-triggered PLAIN fallback
                # (hdfs-parquet-table-writer.cc:59,466-620): a
                # near-unique string column would otherwise bloat every
                # segment with a dictionary the size of the data — and
                # the u16 code domain cannot index it at all
                return _PLAIN.encode(name, vals, hint)
            # sorted-unique in hand: codes are a binary search, the
            # same order-preserving map order_preserving_codes builds
            codes = np.searchsorted(uniq, work).astype(np.uint64)
            dictionary = [str(d) for d in uniq]
        extras = [struct.pack("<H", len(dictionary))]
        for entry in dictionary:
            raw = entry.encode("utf-8")
            if len(raw) > 0xFFFF:
                raise ValueError(
                    "fledir: dictionary entry exceeds 65535 UTF-8 "
                    "bytes — not representable in the segment format"
                )
            extras.append(struct.pack("<H", len(raw)) + raw)
        width = max(int(codes.max()).bit_length(), 1) if codes.size else 1
        return Encoded(
            self.byte, valid, bool((~valid).any()), b"".join(extras),
            codes, width,
        )

    def read_extras(self, payload, off, n):
        (size,) = struct.unpack_from("<H", payload, off)
        off += 2
        dictionary = []
        for _ in range(size):
            (ln,) = struct.unpack_from("<H", payload, off)
            off += 2
            dictionary.append(payload[off:off + ln].decode("utf-8"))
            off += ln
        return {"dictionary": dictionary}, off

    def values(self, c, codes):
        return (
            np.asarray(c.dictionary, dtype=object)[codes.astype(np.int64)]
            if c.dictionary
            else np.full(codes.size, None, dtype=object)
        )

    def scalar(self, v, scale=0):
        return str(v)

    def hint(self, c):
        # no hint: the writer re-decides dictionary vs plain on the
        # values it is given (the 2^16-1 cap fallback)
        return None

    def sink(self, vals, dt):
        return np.array(vals, dtype=object), None

    def pushable(self, v):
        return isinstance(v, str)

    def value_of(self, v, scale=0):
        return str(v)

    def code_bound(self, c, op, v):
        return code_bound(np.asarray(c.dictionary), op, str(v))

    def stat_of_code(self, c, code):
        return c.dictionary[code]

    def bloom_keys(self, c, n):
        return [str(d).encode() for d in c.dictionary]


class _PlainKind(_DictKind):
    """PLAIN byte-array strings: no dictionary and no plane words — the
    reference writer's PLAIN fallback when a dictionary stops paying for
    itself (hdfs-parquet-table-writer.cc:59's MAX_DICTIONARY_ENTRIES
    cap, fallback flush 466-620).  NULL lanes contribute zero bytes.
    Value predicates stay RESIDUAL — there is no dictionary to evaluate
    them against and no code space for the kernels (the reference's
    PLAIN pages are filtered row by row too); IS [NOT] NULL still rides
    the validity words, and the manifest keeps value-space min/max for
    file pruning."""

    byte = _KIND_STR_PLAIN
    hints = ("str_plain",)
    planes = False
    spark_types = ()
    string_predicates = False

    def encode(self, name, vals, hint):
        """Total bytes per segment must fit the READER's 32-bit SIGNED
        Arrow string offsets (2 GiB-1) — segments are one Arrow batch,
        far below that in practice, and the encoder refuses larger
        rather than letting decode wrap offsets negative."""
        vals = np.asarray(vals, dtype=object)
        valid = ~null_cells(vals)
        chunks: list[bytes] = []
        offsets = np.zeros(vals.size + 1, dtype=np.uint32)
        pos = 0
        for i in range(vals.size):
            if valid[i]:
                raw = str(vals[i]).encode("utf-8")
                chunks.append(raw)
                pos += len(raw)
                if pos > 0x7FFFFFFF:
                    raise ValueError(
                        "fledir: plain string section exceeds 2 GiB in "
                        "one segment — write smaller batches"
                    )
            offsets[i + 1] = pos
        extras = [
            struct.pack("<I", pos),
            np.ascontiguousarray(offsets, "<u4").tobytes(),
            *chunks,
        ]
        return Encoded(
            self.byte, valid, bool((~valid).any()), b"".join(extras)
        )

    def read_extras(self, payload, off, n):
        (data_len,) = struct.unpack_from("<I", payload, off)
        str_offsets = np.frombuffer(payload, "<u4", n + 1, off + 4)
        off += 4 + 4 * (n + 1)
        return {
            "str_offsets": str_offsets,
            "str_data": payload[off:off + data_len],
        }, off + data_len

    def hint(self, c):
        return self.hints[0]

    def pushable(self, v):
        return False

    def min_max(self, c, n):
        sub = _plain_str_values(c, n)[_lane_validity(c, n)]
        return min(sub), max(sub)

    def bloom_keys(self, c, n):
        sub = _plain_str_values(c, n)[_lane_validity(c, n)]
        return [str(s).encode() for s in np.unique(sub)]


_INT = _IntKind()
_DICT = _DictKind()
_OFFSET = _OffsetKind()
_F64 = _F64Kind()
_TS = _TsKind()
_DATE = _DateKind()
_BOOL = _BoolKind()
_DEC = _DecKind()
_PLAIN = _PlainKind()
#: on-disk kind byte → kind
KINDS: "dict[int, ColumnKind]" = {
    k.byte: k
    for k in (_INT, _DICT, _OFFSET, _F64, _TS, _DATE, _BOOL, _DEC, _PLAIN)
}
#: an unprobed column (an empty or unreadable directory) follows the
#: integer kind's pushability rule
UNPROBED = _INT
_BY_HINT = {h: k for k in KINDS.values() for h in k.hints}
_BY_TAG = {k.tag: k for k in KINDS.values() if k.tag}
_BY_SPARK_TYPE = {t: k for k in KINDS.values() for t in k.spark_types}


def of(byte: int) -> ColumnKind:
    """The kind a section header names; an unknown byte raises."""
    try:
        return KINDS[byte]
    except KeyError:
        raise ValueError(f"fledir: unknown column kind {byte}") from None


def for_hint(hint) -> ColumnKind:
    """Writer hint → kind.  ``("dec", p, s)`` is the decimal kind, and
    no hint (None) a string column, dictionary or plain as the writer's
    cap decides; an unknown spelling raises KeyError."""
    if hint is None:
        return _DICT
    if isinstance(hint, tuple) and hint[0] == "dec":
        return _DEC
    return _BY_HINT[hint]


def for_spark_type(dt) -> "ColumnKind | None":
    """The kind the stream sink stores a Spark DataType as (None:
    unsupported)."""
    return _BY_SPARK_TYPE.get(type(dt).__name__)


def for_stats(entry: dict) -> ColumnKind:
    """The kind whose value domain a manifest stats entry is in: its
    `t` tag, else integers or strings by the stats' own type."""
    tagged = _BY_TAG.get(entry.get("t"))
    if tagged is not None:
        return tagged
    return _DICT if isinstance(entry.get("min"), str) else _INT


def stat_to_value(entry: dict, raw):
    """One manifest stat (min, max or sum) → its typed Python value:
    tagged kinds attach their logical type (micros / days / unscaled
    with the `s` scale); untagged stats are already final."""
    kind = _BY_TAG.get(entry.get("t"))
    return raw if kind is None else kind.scalar(raw, int(entry.get("s", 0)))


def infer_kind(name: str, vals: np.ndarray, hint) -> ColumnKind:
    """The kind one column is written as.  `hint` overrides inference
    (see :func:`for_hint`).  Inference: datetime64 → ts, bool dtype →
    bool, string → dict, object arrays route by their non-null cell
    type (str → dict, datetime → ts, date → date, bool → bool,
    numeric → int/offset planes; Decimals need an explicit hint);
    plain numeric dtypes keep the legacy int/offset routing (an
    integral-valued float column stays an int column — schema
    stability over cleverness; fractional doubles need the explicit
    "f64" hint).  Without a hint a string column whose distinct
    values exceed the dictionary cap is written as plain."""
    if hint is not None:
        return for_hint(hint)
    if vals.dtype.kind == "M":
        return _TS
    if vals.dtype.kind == "b":
        return _BOOL
    if vals.dtype.kind in ("U", "S"):
        return _DICT
    if vals.dtype == object:
        types = set(map(type, vals[~null_cells(vals)]))
        if not types:
            return _DICT
        first_types_all = lambda t: all(issubclass(ty, t) for ty in types)
        if first_types_all((bool, np.bool_)):
            return _BOOL
        if first_types_all(_dtm.datetime):
            return _TS
        if first_types_all(_dtm.date):  # datetime is a date subclass —
            return _DATE               # checked AFTER datetime above
        if first_types_all(_decm.Decimal):
            # scale inference would be PER SEGMENT (max fractional
            # digits in this batch), so one column could encode with
            # different scales across segments of a directory and the
            # decoded Arrow types would disagree mid-scan — require
            # the writer to pin (p, s) explicitly
            raise ValueError(
                f"fledir: column {name!r} holds Decimals — pass an "
                "explicit ('dec', precision, scale) kind hint (a "
                "per-segment inferred scale would vary across segments)"
            )
        if not first_types_all((int, np.integer, float, np.floating)):
            return _DICT
    # numeric: unsigned int planes, or offset codes for signed data
    return _OFFSET if _has_negative(vals) else _INT
