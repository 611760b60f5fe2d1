"""FLE as an ON-DISK storage format: the `fledir` custom DataSource.

Round 5 re-expressed the reference's FLE codec as verified numpy
(`sources/fle_codec.py` — pack/unpack/skip + BitWeaving kernels); this
module closes the remaining half of the encoding contract by making it a
STORAGE round-trip (FleEncoder::Put/Flush → file → FleDecoder::Get,
fle-encoding.h:8315-9812): executors encode Arrow batches into `.fle`
segment files through the writer half of a registered Spark DataSource,
and the reader half parses the raw bytes back through :func:`fle_unpack`
into vectorized Arrow batches.  The reference ships FLE as a custom
parquet encoding (parquet.thrift:220,224), which would break every other
parquet reader; per SURVEY §4 the engine's parquet files stay standard
RLE_DICTIONARY, and the FLE byte layout lives in its own container —
interop preserved, encode→decode cycle still pinned end-to-end on real
file bytes (`scan_fle_roundtrip`'s DuckDB oracle replays the aggregate
from the raw rows, so one wrong bit anywhere in pack, serialize, parse,
or unpack flips the hash).

The container is SCHEMA-GENERAL: a segment holds N column sections of
nine kinds, each independently nullable — matching the reference's
per-column reader model (one scanner per materialized slot,
hdfs-parquet-scanner.cc:1410-1451).  Predicate pushdown splits per
column exactly like the reference's per-conjunct routing
(simple-predicates.h:30-205).

Segment layout ``FLE2`` (little-endian, one segment per Arrow batch):

    magic  b"FLE2"
    u32    n                   true value count (<= n_blocks*64)
    u32    n_blocks            64-value blocks per plane
    u16    n_cols
    per column: one section, laid out per its kind — the table in
      `sources/fle_kinds.py`, the only module that knows the kinds
    b"BSTA" u16 chunk_blocks, u16 n_cols; per column u32 n_chunks,
      u64[n_chunks] code mins, u64[n_chunks] code maxs (0 chunks for a
      section without planes)

Scale: encoding runs inside `mapInPandas` Arrow batches on executors
(no driver collect); each segment file is an independent
`InputPartition` on read — the same elasticity as any file source.
The writer's staging and commit, the `_DONE` manifest the readers trust
(uncommitted dirs are unreadable) and the stream offset are the
sealed-directory protocol of `sources/sealed_dir.py`, shared with
`avrodir` and `ppmdir`; this module adds the fledir parts on top —
segment stats in the manifest, bloom sidecars, `_LINEAGE`,
`retirenames` and `_history` snapshots.

Known Spark 4.1 framework caveat (verified against a minimal stock
DataSource, so it is not specific to this reader): the JVM caches the
last PLANNED read function per loaded relation, and a pushdown
planning run overwrites it — so reusing ONE `load()` result across a
filtered action and a later UNFILTERED action replays the filtered
scan for the unfiltered plan.  Every engine query path creates a
fresh `spark.read...load()` per query (never affected); direct users
should do the same.
"""

from __future__ import annotations

import json
import math
import os
import struct
from dataclasses import dataclass

import numpy as np

from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
    FleKernels,
    fle_pack,
    fle_unpack,
    pack_validity,
)
from impala_avx2_parquet_scanner_spark.sources import fle_kinds
from impala_avx2_parquet_scanner_spark.sources.fle_kinds import (
    _lane_validity,
    _plain_str_arrow,
    _plain_str_values,
)

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
)

from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.sources import sealed_dir


_MAGIC = b"FLE2"
_STATS_MAGIC = b"BSTA"
#: blocks per stats chunk: 16 blocks = 1024 values per (min, max) pair —
#: fine enough that a selective range predicate on sorted/clustered data
#: refutes most of a segment, coarse enough that the footer stays ~0.2%
#: of the plane bytes
_CHUNK_BLOCKS = 16
#: fallback read schema when a directory cannot be probed (legacy demo)
_SCHEMA = "l_returnflag string, l_quantity bigint"


def _chunk_min_max(
    codes: np.ndarray, valid: np.ndarray, n_blocks: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-chunk (min, max) over VALID lanes in code space — the
    page-level statistics analog (the reference keeps row-group AND page
    stats; file-level lives in the manifest, this is the within-file
    tier).  All-NULL chunks get the empty interval (u64max, 0), which no
    comparison candidate test intersects."""
    chunk_vals = _CHUNK_BLOCKS * 64
    n_chunks = (n_blocks + _CHUNK_BLOCKS - 1) // _CHUNK_BLOCKS
    cap = n_chunks * chunk_vals
    lo = np.full(cap, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    hi = np.zeros(cap, dtype=np.uint64)
    idx = np.flatnonzero(valid)
    lo[idx] = codes[idx]
    hi[idx] = codes[idx]
    mins = lo.reshape(n_chunks, chunk_vals).min(axis=1)
    maxs = hi.reshape(n_chunks, chunk_vals).max(axis=1)
    return mins, maxs


def encode_segment_columns(columns: list[tuple]) -> bytes:
    """N named arrays (one Arrow batch) → one self-contained FLE segment.

    Each entry is ``(name, values)`` or ``(name, values, kind_hint)``;
    the hint spellings and the inference without one are
    :func:`fle_kinds.infer_kind`'s.  A trailing BSTA footer carries
    per-chunk code-space min/max for every column, so the reader's
    kernels can skip plane words mid-file (older readers stop after
    the column sections and never see it)."""
    if not columns:
        raise ValueError("fledir: segment needs at least one column")
    if any(entry[0] == "__rows__" for entry in columns):
        raise ValueError(
            "fledir: column name '__rows__' is reserved (manifest "
            "row-count key)"
        )
    n = int(np.asarray(columns[0][1]).size)
    parts: list[bytes] = []
    chunk_sections: list[bytes] = []
    n_blocks = (n + 63) // 64
    for entry in columns:
        name, values = entry[0], entry[1]
        hint = entry[2] if len(entry) > 2 else None
        vals = np.asarray(values)
        if vals.size != n:
            raise ValueError("fledir: ragged columns in one segment")
        e = fle_kinds.infer_kind(name, vals, hint).encode(name, vals, hint)
        raw_name = name.encode("utf-8")
        sec = [struct.pack("<H", len(raw_name)), raw_name,
               struct.pack("<BB", e.kind, 1 if e.nullable else 0)]
        if e.nullable:
            sec.append(
                np.ascontiguousarray(pack_validity(e.valid), "<u8").tobytes()
            )
        sec.append(e.extras)
        if e.codes is None:
            parts.append(b"".join(sec))
            # no planes → no code space → no chunk stats
            chunk_sections.append(struct.pack("<I", 0))
            continue
        planes, pn = fle_pack(e.codes, e.width)
        assert pn == n
        assert planes.shape[0] == n_blocks
        sec.append(struct.pack("<B", e.width))
        sec.append(np.ascontiguousarray(planes, "<u8").tobytes())
        parts.append(b"".join(sec))
        mins, maxs = _chunk_min_max(e.codes, e.valid, planes.shape[0])
        chunk_sections.append(
            struct.pack("<I", mins.size)
            + np.ascontiguousarray(mins, "<u8").tobytes()
            + np.ascontiguousarray(maxs, "<u8").tobytes()
        )
    header = _MAGIC + struct.pack("<IIH", n, n_blocks, len(columns))
    footer = (
        _STATS_MAGIC
        + struct.pack("<HH", _CHUNK_BLOCKS, len(columns))
        + b"".join(chunk_sections)
    )
    return header + b"".join(parts) + footer


def encode_segment(returnflag: np.ndarray, quantity: np.ndarray) -> bytes:
    """Legacy two-column demo layout (round-6 surface, kept for the
    `scan_fle_roundtrip`/`scan_fle_pushdown` contract): one Arrow batch
    of (l_returnflag, l_quantity) → one segment."""
    return encode_segment_columns(
        [("l_returnflag", returnflag), ("l_quantity", quantity)]
    )


@dataclass
class ParsedColumn:
    """One column section, its fields per `sources/fle_kinds.py`."""

    name: str
    kind: int
    nullable: bool
    validity: np.ndarray | None  # u64 words, None → all valid
    width: int
    planes: np.ndarray  # (n_blocks, width) u64
    dictionary: list[str] | None = None
    #: value-space i64 base (value = base + code), or the u64
    #: sortable-bits code base of a double column
    base: int = 0
    precision: int = 0
    scale: int = 0
    #: plain strings: u32 value-boundary offsets (n+1) + raw utf-8 bytes
    str_offsets: "np.ndarray | None" = None
    str_data: bytes = b""

    @property
    def spec(self) -> fle_kinds.ColumnKind:
        return fle_kinds.KINDS[self.kind]


@dataclass
class ParsedSegment:
    n: int
    n_blocks: int
    columns: list[ParsedColumn]
    #: per-chunk code-space stats footer (round 8): chunk_stats[i] is
    #: (mins u64[n_chunks], maxs u64[n_chunks]) for columns[i], each
    #: chunk covering `chunk_blocks` 64-value blocks; an all-NULL chunk
    #: carries the empty interval (u64max, 0).  None on pre-footer files.
    chunk_blocks: int = 0
    chunk_stats: "list[tuple[np.ndarray, np.ndarray]] | None" = None

    def column(self, name: str) -> ParsedColumn:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)


def parse_segment(payload: bytes) -> ParsedSegment:
    """Parse a segment's sections WITHOUT decoding any value.  Kernel
    pushdown runs on the returned plane/validity words directly."""
    if payload[:4] != _MAGIC:
        raise ValueError("fledir: bad segment magic")
    n, n_blocks, n_cols = struct.unpack_from("<IIH", payload, 4)
    off = 4 + 10
    cols: list[ParsedColumn] = []
    for _ in range(n_cols):
        (name_len,) = struct.unpack_from("<H", payload, off)
        off += 2
        name = payload[off:off + name_len].decode("utf-8")
        off += name_len
        kind, nullable = struct.unpack_from("<BB", payload, off)
        off += 2
        validity = None
        if nullable:
            validity = np.frombuffer(payload, "<u8", n_blocks, off)
            off += 8 * n_blocks
        spec = fle_kinds.of(kind)
        fields, off = spec.read_extras(payload, off, n)
        if spec.planes:
            (width,) = struct.unpack_from("<B", payload, off)
            off += 1
            words = n_blocks * width
            planes = np.frombuffer(payload, "<u8", words, off).reshape(
                n_blocks, width
            )
            off += 8 * words
        else:
            width, planes = 0, np.zeros((n_blocks, 0), dtype=np.uint64)
        cols.append(ParsedColumn(
            name=name, kind=kind, nullable=bool(nullable),
            validity=validity, width=width, planes=planes, **fields,
        ))
    chunk_blocks, chunk_stats = 0, None
    if payload[off:off + 4] == _STATS_MAGIC:
        off += 4
        chunk_blocks, stat_cols = struct.unpack_from("<HH", payload, off)
        off += 4
        chunk_stats = []
        for _ in range(stat_cols):
            (n_chunks,) = struct.unpack_from("<I", payload, off)
            off += 4
            mins = np.frombuffer(payload, "<u8", n_chunks, off)
            off += 8 * n_chunks
            maxs = np.frombuffer(payload, "<u8", n_chunks, off)
            off += 8 * n_chunks
            chunk_stats.append((mins, maxs))
        if chunk_blocks == 0:
            # degenerate footer (foreign writer): stats that cannot map
            # to blocks must never refute — fall back to full kernels
            chunk_stats = None
    return ParsedSegment(
        n=n, n_blocks=n_blocks, columns=cols,
        chunk_blocks=chunk_blocks, chunk_stats=chunk_stats,
    )


def decode_segment_columns(
    seg: ParsedSegment,
    mask: np.ndarray | None = None,
    columns: "list[str] | None" = None,
    block_range: "tuple[int, int] | None" = None,
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Parsed segment → {name: (values, valid)} via the codec's decode
    path (FleDecoder::Get).  Accepts the ALREADY-PARSED segment so the
    pushdown path parses each file exactly once (mask kernels ran on the
    same parse).  `mask` (kernel bitset words) restricts output to
    matching lanes — and decode SKIPS whole 64-value blocks whose mask
    word is zero (the bitset-driven skip loop, hdfs-parquet-scanner.cc:
    1006-1038 + fle-encoding.h:344-402's O(1) Skip): on clustered data a
    selective predicate decodes only the surviving blocks' plane words,
    not the segment.  `columns` restricts decode to those names
    (projection pruning — unreferenced plane sections never unpack)."""
    decode_cols = (
        seg.columns
        if columns is None
        else [c for c in seg.columns if c.name in columns]
    )
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    if mask is None and block_range is None:
        for c in decode_cols:
            valid = _lane_validity(c, seg.n)
            if c.spec.planes:
                codes = fle_unpack(c.planes, c.width, seg.n)
                vals = c.spec.values(c, codes)
            else:
                vals = _plain_str_values(c, seg.n)
            out[c.name] = (vals, valid)
        return out

    # `block_range` bounds the decode to blocks [b0, b1) — the chunked
    # read path; the window slice keeps per-call work O(window), never
    # a full-length mask scan per slice
    b0, b1 = block_range if block_range is not None else (0, seg.n_blocks)
    if mask is None:
        # all-lanes window: synthesize the window's lane words (the
        # segment's last block keeps only its real lanes)
        window = np.full(b1 - b0, ~np.uint64(0), dtype=np.uint64)
        rem = seg.n % 64
        if b1 == seg.n_blocks and rem:
            window[-1] = np.uint64((1 << rem) - 1)
    else:
        window = mask[b0:b1]
    live_rel = np.flatnonzero(window)  # surviving blocks, window-local
    live = live_rel + b0  # surviving block indices, ascending
    # per-lane keep bits over ONLY the surviving blocks (kernel tail
    # masks already zeroed padding lanes, so no n-clipping needed here)
    keep = np.unpackbits(
        window[live_rel].astype("<u8").view(np.uint8), bitorder="little"
    ).astype(bool)
    n_sub = live.size * 64
    for c in decode_cols:
        if live.size == 0:
            out[c.name] = (
                np.empty(0, dtype=c.spec.empty_dtype),
                np.empty(0, dtype=bool),
            )
            continue
        if not c.spec.planes:
            # byte-array sections have no plane words to skip; map the
            # surviving lanes to GLOBAL row indices and take() them on
            # the ZERO-COPY Arrow array — only SURVIVORS ever become
            # Python strings (kernel masks never constrain a plain
            # column, but masks from OTHER columns subset it)
            import pyarrow as pa

            gidx = (
                live[:, None].astype(np.int64) * 64
                + np.arange(64, dtype=np.int64)
            ).ravel()[keep]
            # per-PARSE cache: the zero-copy Arrow wrap and the lane
            # validity are O(n) builds — the chunked read calls this
            # once per decode window, so rebuilding them per window
            # made plain-string columns O(n^2/window) per segment
            # (review finding); one build per parsed file fixes it
            cache = getattr(c, "_plain_cache", None)
            if cache is None:
                cache = (
                    _plain_str_arrow(c, seg.n),
                    _lane_validity(c, seg.n),
                )
                c._plain_cache = cache
            arrow_arr, lanes = cache
            taken = arrow_arr.take(pa.array(gidx))
            out[c.name] = (
                np.asarray(taken.to_pandas(), dtype=object),
                lanes[gidx],
            )
            continue
        codes = fle_unpack(c.planes[live], c.width, n_sub)[keep]
        if c.validity is None:
            valid = np.ones(codes.size, dtype=bool)
        else:
            vbits = np.unpackbits(
                c.validity[live].astype("<u8").view(np.uint8),
                bitorder="little",
            ).astype(bool)
            valid = vbits[keep]
        out[c.name] = (c.spec.values(c, codes), valid)
    return out


def decode_segment(payload: bytes, mask: np.ndarray | None = None):
    """Legacy two-column helper: one segment's bytes → (returnflag
    ndarray[str], quantity int64, quantity-valid bool ndarray)."""
    cols = decode_segment_columns(parse_segment(payload), mask=mask)
    rf, _ = cols["l_returnflag"]
    qty, qvalid = cols["l_quantity"]
    return rf, qty, qvalid


#: rows one input partition is sized for (`sealed_dir.partition_count`)
_ROWS_PER_TASK = sealed_dir.ROWS_PER_TASK

#: decode-window size in 64-row blocks (256 → 16,384 rows per Arrow
#: batch): keeps a big segment's per-batch working set cache-resident
#: under many concurrent scan tasks (see FleDirReader.read)
_DECODE_BLOCKS = 256


class _FleFilesPartition(InputPartition):
    def __init__(self, paths: list[str], part_values: "list | None" = None,
                 spans: "list | None" = None):
        self.paths = paths
        #: per-path partition-key value for a partitioned layout
        #: (None → flat directory)
        self.part_values = part_values
        #: per-path (block_lo, block_hi) scan range, or None for the
        #: whole file — a surviving file larger than one task's worth
        #: is SPLIT across input partitions at block granularity (the
        #: reference scheduler's scan ranges: a file is not the unit of
        #: parallelism, hdfs-parquet-scanner.cc:111-115's per-range
        #: splits).  Spans of one file are disjoint.
        self.spans = spans


def _typed_partition_value(v: str):
    """Directory spelling → typed partition value.  Ints only when the
    spelling ROUND-TRIPS (str(int(v)) == v): a code-like key '01' stays
    the string '01' instead of silently collapsing to 1 — losing the
    spelling would both corrupt the column value and break re-discovery
    of the directory."""
    try:
        i = int(v)
    except ValueError:
        return v
    return i if str(i) == v else v


def discover_fledir_partitions(
    path: str,
) -> "tuple[list[str], list[tuple[tuple, str]]] | None":
    """Detect a HIVE-STYLE PARTITIONED fledir: the root holds nested
    ``col1=value/[col2=value/...]`` subdirectories (each leaf a
    committed fledir with its own `_DONE` manifest) instead of a root
    manifest — the HdfsPartitionDescriptor model (descriptors.h:178-262:
    per-partition location + partition-key literals;
    `num_clustering_cols` is PLURAL, descriptors.h:154-162, so multiple
    nested keys are first-class).  Returns
    ([key_col, ...], [((typed_value, ...), leaf_abs_path), ...]) sorted
    by value tuple, or None for a flat directory.  A level mixing
    different key names raises with the layout rule — scanning such a
    root as flat would silently find zero segments."""
    if os.path.exists(os.path.join(path, sealed_dir.DONE)):
        return None

    def walk(root: str) -> "tuple[list[str], list[tuple[tuple, str]]] | None":
        """Collect (key columns, [(raw STRING value tuple, leaf)]) —
        typing happens once at the top, across every visible branch."""
        try:
            entries = sorted(os.listdir(root))
        except OSError:
            return None
        col = None
        kv: list[tuple[str, str]] = []
        for e in entries:
            sub = os.path.join(root, e)
            if "=" not in e or not os.path.isdir(sub):
                continue
            k, _, v = e.partition("=")
            if col is None:
                col = k
            elif k != col:
                raise ValueError(
                    f"fledir: {root} mixes partition keys {col!r} and "
                    f"{k!r} at one directory level — a partitioned "
                    "fledir nests one key per level "
                    "(col1=value/col2=value/...)"
                )
            kv.append((v, sub))
        if col is None:
            return None
        cols: "list[str] | None" = None
        pairs: list[tuple[tuple, str]] = []
        for v, sub in kv:
            if os.path.exists(os.path.join(sub, sealed_dir.DONE)):
                sub_cols, sub_pairs = [], [((), sub)]
            else:
                nested = walk(sub)
                if nested is None:
                    continue  # uncommitted / empty branch: invisible
                sub_cols, sub_pairs = nested
            if cols is None:
                cols = sub_cols
            elif cols != sub_cols:
                raise ValueError(
                    f"fledir: {sub} nests partition keys {sub_cols} "
                    f"but a sibling nests {cols} — every branch of a "
                    "partitioned fledir must use the same key levels"
                )
            pairs.extend(((v, *rest), leaf) for rest, leaf in sub_pairs)
        if not pairs:
            return None
        return [col, *(cols or [])], pairs

    found = walk(path)
    if found is None:
        return None
    cols, raw_pairs = found
    # typing is PER KEY LEVEL and GLOBAL across every visible branch:
    # one level types int only when EVERY committed branch's value
    # round-trips as int — per-branch typing would let year=1995/month=7
    # and year=1996/month=07 give one column mixed int/str values
    # (silent mispruning + unsortable tuples; found by review).  Only
    # VISIBLE (committed) directories vote: an uncommitted sibling is
    # invisible to readers and must not flip a key's type.
    typed_cols: list[list] = []
    for ki in range(len(cols)):
        tvs = [_typed_partition_value(vals[ki]) for vals, _ in raw_pairs]
        if not all(isinstance(t, int) for t in tvs):
            tvs = [vals[ki] for vals, _ in raw_pairs]
        typed_cols.append(tvs)
    return cols, sorted(
        (tuple(typed_cols[ki][i] for ki in range(len(cols))), leaf)
        for i, (_, leaf) in enumerate(raw_pairs)
    )


_PUSHABLE_OPS = {
    "EqualTo": "eq",
    "EqualNullSafe": "eqns",
    "LessThan": "lt",
    "LessThanOrEqual": "le",
    "GreaterThan": "gt",
    "GreaterThanOrEqual": "ge",
    "In": "in",
    "IsNull": "is_null",
    "IsNotNull": "is_not_null",
    # string predicates on dictionary columns: evaluated ONCE per
    # dictionary entry (not per row), then mapped to code kernels —
    # the reference evaluates dictionary predicates the same way
    # (dict-encoding.h:461-541's per-entry compare; Impala's
    # dictionary-filtering row-group skip generalized to row level)
    "StringStartsWith": "startswith",
    "StringEndsWith": "endswith",
    "StringContains": "contains",
}


class FleDirReader(DataSourceReader):
    def __init__(self, options, wanted: "list[str] | None" = None,
                 field_types: "dict | None" = None):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("fledir requires option 'path'")
        #: None → adaptive: sized by rows and files, 1 to 64 input
        #: partitions (see `_bucket_count`); an explicit numpartitions
        #: option always wins — the scan-range-per-node sizing knob of
        #: the reference's scheduler
        np_opt = options.get("numpartitions")
        self.n_parts = int(np_opt) if np_opt is not None else None
        #: column names the output batches must carry (None → all, in
        #: segment order).  Pushed-filter columns outside this set still
        #: have their KERNELS evaluated (mask work needs no decode) —
        #: only the decode + Arrow materialization is pruned.
        self.wanted = wanted
        #: read-schema name → Spark DataType (drives evolved-NULL typing
        #: and partition-key type coercion)
        self.field_types = field_types or {}
        #: accepted conjuncts [(column, op, value)] — evaluated as
        #: bit-sliced kernels ON THE ENCODED PLANES in read(), before
        #: any decode (the reference's defining behavior:
        #: simple-predicates.h:30-205 evaluated inside the scan on FLE
        #: data, fle-encoding.h:7962-8313); the conjunct→column routing
        #: mirrors the per-slot scanner split
        #: (hdfs-parquet-scanner.cc:1410-1451)
        self.pushed: list[tuple[str, str, object]] = []
        #: column name → stored kind, probed once on the driver.  Only
        #: the kinds are kept: the reader is pickled into every task's
        #: read command, and a cached ParsedSegment would ship its
        #: planes and dictionary along with it.
        self._kinds_cache: "dict[str, int] | None" = None
        #: hive-style partitioned layout: ([key_col, ...],
        #: [((value, ...), leaf_dir), ...]) — None for a flat
        #: directory.  Conjuncts on any partition column are consumed
        #: ENTIRELY on the driver (partition pruning,
        #: descriptors.h:178-262's partition-key literal exprs;
        #: num_clustering_cols plural per descriptors.h:154-162) and
        #: never reach the segment kernels.
        self.partitioned = discover_fledir_partitions(self.dir)
        self._coerce_partition_types()
        #: TIME TRAVEL (option generation=N): read the table AS OF a
        #: committed generation from its `_history/N.manifest`
        #: snapshot, resolving merged-away names through their
        #: `.retired` files until vacuum expires the snapshot.  Flat
        #: directories only: a partitioned root's leaves each own an
        #: uncoordinated per-directory timeline (the per-partition
        #: descriptor model, descriptors.h:178-262), so a root-level
        #: generation number would silently mix epochs.
        gen_opt = options.get("generation")
        self.generation: "int | None" = (
            int(gen_opt) if gen_opt is not None else None
        )
        if self.generation is not None and self.partitioned is not None:
            raise ValueError(
                "fledir: generation reads address ONE directory's "
                "timeline — point the path at a leaf, not a "
                "partitioned root"
            )
        #: OPT-IN schema evolution (option schemaEvolution=true): a
        #: read-schema column absent from EVERY committed segment
        #: materializes as typed NULLs — the reference's missing-column
        #: template-tuple NULL (hdfs-parquet-scanner.cc:1437-1445).  A
        #: column present in only SOME segments still fails loudly:
        #: heterogeneous segment schemas stay outside the contract.
        self.evolved: set[str] = set()
        evolve = str(
            options.get("schemaevolution", "false")
        ).lower() in ("true", "1")
        if evolve and wanted:
            self.evolved = self._evolved_columns(wanted)

    def _bucket_count(self, n_files: int, total_rows: int = 0) -> int:
        """Adaptive input-partition TARGET, `sealed_dir.partition_count`:
        sized by rows and files, so few-large-file directories (a
        compacted 64x312k-row table) still fan out and a small scan runs
        as ONE task.  The target may exceed the file count:
        `_make_partitions` splits large files into block SPANS to reach
        it (the reference scheduler's scan ranges — a file is not the
        unit of parallelism)."""
        return sealed_dir.partition_count(n_files, total_rows, self.n_parts)

    def _make_partitions(self, items: "list[tuple]") -> list:
        """[(path, part_values_or_None, rows)] → balanced input
        partitions.  When the surviving file count is below the
        parallelism target (a compacted layout, or manifest pruning
        that kept 2 files of 64), files larger than one decode window
        are SPLIT into disjoint block spans so the target is still met
        — pruning must not trade away task parallelism.  Files with
        unknown row counts (legacy manifests) never split.  Honest
        cost note: each span task reads and parses its WHOLE file and
        evaluates kernels over all blocks before decoding only its
        window (sections are column-contiguous, so a span cannot be a
        byte range) — splitting wins when decode dominates, which the
        compaction bench measured.  Under the [1, 64] partition band a
        file splits only when the rows target (or numpartitions) asks
        for more tasks than there are files: without numpartitions a
        table below `_ROWS_PER_TASK` rows never splits."""
        total_rows = sum(r for _, _, r in items)
        target = self._bucket_count(len(items), total_rows)
        expanded: list[tuple] = []
        if 0 < len(items) < target:
            per_file = (target + len(items) - 1) // len(items)
            for path, values, rows in items:
                nb = (rows + 63) // 64
                if per_file <= 1 or nb <= _DECODE_BLOCKS:
                    expanded.append((path, values, None))
                    continue
                # ceil-split into per_file spans, window-aligned
                step = -(-nb // per_file)
                step = max(
                    _DECODE_BLOCKS,
                    -(-step // _DECODE_BLOCKS) * _DECODE_BLOCKS,
                )
                for b0 in range(0, nb, step):
                    expanded.append(
                        (path, values, (b0, min(b0 + step, nb)))
                    )
        else:
            expanded = [(p, v, None) for p, v, _ in items]
        buckets = sealed_dir.deal(expanded, target)
        has_values = any(v is not None for _, v, _ in expanded)
        parts = [
            _FleFilesPartition(
                [p for p, _, _ in b],
                [v for _, v, _ in b] if has_values else None,
                [s for _, _, s in b],
            )
            for b in buckets
        ]
        return parts or [
            _FleFilesPartition([], [] if has_values else None, [])
        ]

    def _coerce_partition_types(self) -> None:
        """Honor a user read schema's declared partition-key type: a
        digit-spelled string key declared `string` must not surface as
        bigint (and vice versa where the spelling allows it)."""
        if self.partitioned is None or not self.field_types:
            return
        cols, pairs = self.partitioned
        casts = []
        for ki, col in enumerate(cols):
            dt = self.field_types.get(col)
            tname = dt.simpleString() if dt is not None else None
            have_int = pairs and isinstance(pairs[0][0][ki], int)
            if tname == "string" and have_int:
                casts.append((ki, str))
            elif (
                tname in ("bigint", "int", "smallint", "tinyint")
                and not have_int
            ):
                casts.append((ki, int))  # raises below if unparseable
        if not casts:
            return
        new_pairs = []
        for values, leaf in pairs:
            vals = list(values)
            for ki, conv in casts:
                try:
                    vals[ki] = conv(vals[ki])
                except ValueError:
                    raise ValueError(
                        f"fledir: partition directory value "
                        f"{values[ki]!r} of key {cols[ki]!r} does not "
                        f"parse as the declared read-schema type"
                    ) from None
            new_pairs.append((tuple(vals), leaf))
        self.partitioned = (cols, sorted(new_pairs))

    def _evolved_columns(self, wanted: list[str]) -> set[str]:
        """Read-schema names stored in NO committed segment (evolved →
        NULL-fill) — decided from the manifests' per-segment stats keys
        (zero segment bytes).  A name stored in SOME but not ALL
        segments raises.  Manifest entries without stats fall back to
        the first-segment probe (strict: only its columns count as
        stored)."""
        roots = (
            [leaf for _, leaf in self.partitioned[1]]
            if self.partitioned is not None
            else [self.dir]
        )
        pcols = set(self.partitioned[0]) if self.partitioned else set()
        union: set[str] = set()
        inter: "set[str] | None" = None
        complete = True
        for root in roots:
            for _, stats_json in _manifest_entries(root):
                stats = _entry_stats(stats_json)
                if stats is None:
                    complete = False
                    continue
                cols = {k for k in stats if k != "__rows__"}
                union |= cols
                inter = cols if inter is None else inter & cols
        if not complete or inter is None:
            probed = set(self._column_kinds())
            union |= probed
            inter = probed if inter is None else inter & probed
        out = set()
        for name in wanted:
            if name in pcols or name in inter:
                continue
            if name in union:
                raise ValueError(
                    f"fledir: column {name!r} is stored in some "
                    "segments but not all — heterogeneous segment "
                    "schemas are not supported (schema evolution only "
                    "NULL-fills columns absent from every segment)"
                )
            out.add(name)
        return out

    def _column_kinds(self) -> "dict[str, int]":
        """Probe the first committed segment's header for column name →
        kind (driver-side, one file read) — pushability is
        TYPE-DIRECTED: a fractional literal is pushable on a double
        column (the sortable-bits map translates it exactly) but not on
        an int column (the kernels would answer a different
        predicate)."""
        if self._kinds_cache is None:
            root = self.dir
            if self.partitioned is not None:
                root = self.partitioned[1][0][1]  # first subdir
            seg = probe_first_segment(root)
            self._kinds_cache = (
                {c.name: c.kind for c in seg.columns}
                if seg is not None else {}
            )
        return self._kinds_cache

    @staticmethod
    def _part_filter_keep(value, op: str, lit) -> bool:
        """Exact driver-side evaluation of one pushed conjunct against
        one (non-NULL, typed) partition-key value — partition pruning
        with the same SQL semantics the kernels implement."""
        neg = op.startswith("not_")
        base = op[4:] if neg else op
        if base == "is_null":
            r = False  # directory partition keys are never NULL
        elif base == "is_not_null":
            r = True
        elif base == "eqns":
            r = lit is not None and value == lit
        elif base == "in":
            r = value in set(lit)
        elif base in ("startswith", "endswith", "contains"):
            r = {
                "startswith": str.startswith,
                "endswith": str.endswith,
                "contains": str.__contains__,
            }[base](value, lit)
        else:
            import operator as _o

            r = {
                "eq": _o.eq, "lt": _o.lt, "le": _o.le,
                "gt": _o.gt, "ge": _o.ge,
            }[base](value, lit)
        return (not r) if neg else r

    def _literal_pushable(self, col: str, op: str, value) -> bool:
        """Type-directed pushability.  The rule per kind mirrors what
        `_segment_mask` can translate EXACTLY into code space; anything
        else must stay RESIDUAL for Spark to re-check (the reference's
        pushed-vs-residual conjunct split).  Unknown columns (probe
        failure / empty dir) fall back to the legacy integer rule: a
        fractional numeric literal stays residual, since int kernels
        would silently answer x<10 instead of x<10.5."""
        if col in self.evolved:
            # evolved NULL-fill column: no kernels, no stats — every
            # predicate stays residual (Spark evaluates it against the
            # NULL constant)
            return False
        if self.partitioned is not None and col in self.partitioned[0]:
            # partition-key conjuncts are evaluated EXACTLY on the
            # driver (typed Python values), so anything evaluable
            # pushes: numerics (fractional included — int-vs-float
            # compares are exact in Python) on int keys, strings +
            # LIKE shapes on string keys.  NaN stays residual (Spark
            # orders NaN greatest; Python compares it False).
            ki = self.partitioned[0].index(col)
            int_key = isinstance(self.partitioned[1][0][0][ki], int)

            def pok(v) -> bool:
                if int_key:
                    return isinstance(
                        v, (int, float, np.integer, np.floating)
                    ) and not (
                        isinstance(v, (float, np.floating)) and math.isnan(v)
                    )
                return isinstance(v, str)

            if op in ("is_null", "is_not_null"):
                return True
            if op in ("startswith", "endswith", "contains"):
                return not int_key and isinstance(value, str)
            if op == "eqns":
                return value is None or pok(value)
            if op == "in":
                return value is not None and all(pok(v) for v in value)
            return pok(value)

        kind = self._column_kinds().get(col)
        spec = fle_kinds.UNPROBED if kind is None else fle_kinds.of(kind)
        if op in ("is_null", "is_not_null"):
            return True
        if op == "eqns" and value is None:
            return True  # <=> NULL rides the validity words on any kind
        if op in ("startswith", "endswith", "contains"):
            # string predicates evaluate per DICTIONARY ENTRY — only a
            # dictionary column has one to evaluate against
            return spec.string_predicates and isinstance(value, str)
        if op == "in":
            return value is not None and all(spec.pushable(v) for v in value)
        return spec.pushable(value)

    def pushFilters(self, filters):
        """eq/lt/le/gt/ge/in on any stored column are accepted and
        become plane-word kernel masks (string columns translate
        through their order-preserving dictionary, dict-encoding.h:
        461-541); IS NULL / IS NOT NULL ride the validity words (the
        def-level path).  Everything else — including comparisons whose
        literal is not exactly integral — is yielded back as a residual
        Spark re-evaluates after the scan — the pushed-vs-residual
        conjunct split (§2A #5/#6, hdfs-parquet-scanner.cc:1825-1834).
        NOT over any pushable conjunct also pushes (compound NOT with
        SQL three-valued semantics: a NULL operand fails the negated
        predicate too — compound-predicates.cc:24-245's NotPredicate);
        `<=>` pushes as eqns (never NULL, so its negation keeps NULL
        rows — the one complement taken over ALL lanes)."""
        for f in filters:
            g, neg = f, False
            if type(f).__name__ == "Not":
                g, neg = f.child, True
            col = getattr(g, "attribute", None)
            op = _PUSHABLE_OPS.get(type(g).__name__)
            value = getattr(g, "value", None)
            if (
                op
                and isinstance(col, tuple)
                and len(col) == 1
                and self._literal_pushable(col[0], op, value)
            ):
                self.pushed.append(
                    (col[0], f"not_{op}" if neg else op, value)
                )
                continue
            yield f

    @staticmethod
    def _chunk_kernel(
        seg: ParsedSegment, c: ParsedColumn, col_idx: int,
        codeop: str, arg,
    ) -> np.ndarray:
        """Evaluate one code-space comparison kernel over a column,
        SKIPPING chunks the per-chunk stats footer provably refutes —
        the mid-file analog of the manifest's file-level pruning (the
        reference's page-level statistics vs its row-group level;
        hdfs-parquet-scanner.cc:1125-1132's all-false batch skip).
        Refuted chunks contribute zero mask words WITHOUT their plane
        words ever being read; the kernel runs only on candidate
        blocks.  Falls back to the full-planes kernel on pre-footer
        segments."""
        stats = seg.chunk_stats
        if stats is None or col_idx >= len(stats):
            k = FleKernels(c.planes, c.width, seg.n, validity=c.validity)
            return k.in_(arg) if codeop == "in" else getattr(k, codeop)(arg)
        mins, maxs = stats[col_idx]
        if codeop == "in":
            cand = np.zeros(mins.size, dtype=bool)
            for v in arg:
                # out-of-u64-domain literals can match nothing (the
                # kernel's domain short-circuit agrees) — no candidates
                if 0 <= v <= 0xFFFFFFFFFFFFFFFF:
                    u = np.uint64(v)
                    cand |= (mins <= u) & (maxs >= u)
        else:
            if arg < 0:
                # codes are unsigned: only gt/ge can match anything
                cand = (
                    np.ones(mins.size, dtype=bool)
                    if codeop in ("gt", "ge")
                    else np.zeros(mins.size, dtype=bool)
                )
            elif arg > 0xFFFFFFFFFFFFFFFF:
                # above the u64 code domain: lt/le match every valid row
                # (chunks with any valid lane have min <= max), eq/gt/ge
                # match none — mirrors the kernels' domain short-circuit
                cand = (
                    mins <= maxs
                    if codeop in ("lt", "le")
                    else np.zeros(mins.size, dtype=bool)
                )
            else:
                u = np.uint64(arg)
                cand = {
                    "eq": (mins <= u) & (maxs >= u),
                    "lt": mins < u,
                    "le": mins <= u,
                    "gt": maxs > u,
                    "ge": maxs >= u,
                }[codeop]
        nb = seg.n_blocks
        out = np.zeros(nb, dtype=np.uint64)
        if not cand.any():
            return out
        block_cand = np.repeat(cand, seg.chunk_blocks)[:nb]
        live = np.flatnonzero(block_cand)
        if live.size == nb:  # nothing refuted: skip the gather copy
            k = FleKernels(c.planes, c.width, seg.n, validity=c.validity)
            return k.in_(arg) if codeop == "in" else getattr(k, codeop)(arg)
        # subset value count: only the GLOBAL last block carries padding
        tail = seg.n - (nb - 1) * 64
        n_sub = (
            (live.size - 1) * 64 + tail
            if live[-1] == nb - 1
            else live.size * 64
        )
        k = FleKernels(
            c.planes[live], c.width, n_sub,
            validity=None if c.validity is None else c.validity[live],
        )
        m = k.in_(arg) if codeop == "in" else getattr(k, codeop)(arg)
        out[live] = m
        return out

    @staticmethod
    def _full_lane_mask(seg: ParsedSegment) -> np.ndarray:
        """Every real lane set (tail padding zeroed) — the complement
        universe for negated `<=>` (the one predicate whose negation
        keeps NULL rows)."""
        m = np.full(
            seg.n_blocks, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64
        )
        rem = seg.n % 64
        if seg.n_blocks and rem:
            m[-1] = np.uint64((1 << rem) - 1)
        return m

    @classmethod
    def _valid_lane_mask(cls, seg: ParsedSegment, c: ParsedColumn) -> np.ndarray:
        """Non-NULL lanes (tail-clipped) — the complement universe for
        every negated comparison: a NULL operand makes the comparison
        NULL, and NOT(NULL) is NULL, so the row stays excluded."""
        full = cls._full_lane_mask(seg)
        if c.validity is None:
            return full
        return c.validity.astype(np.uint64) & full

    def _segment_mask(self, seg: ParsedSegment) -> "np.ndarray | None":
        """AND together every pushed conjunct's kernel bitset for one
        segment — all work happens on plane words, zero values decoded
        (comparisons additionally skip stat-refuted chunks entirely).
        A `not_`-prefixed conjunct complements its child's mask against
        the right universe (valid lanes for comparisons, all lanes for
        `<=>`, the validity flip for IS [NOT] NULL).  Returns None when
        nothing constrains the segment (decode all)."""
        if not self.pushed:
            return None
        mask = None

        def _and(m):
            nonlocal mask
            mask = m if mask is None else mask & m

        cols = {c.name: c for c in seg.columns}
        col_idx = {c.name: i for i, c in enumerate(seg.columns)}
        part_cols = set(self.partitioned[0]) if self.partitioned else set()
        for col_name, op, value in self.pushed:
            if col_name in part_cols:
                continue  # consumed on the driver (partition pruning)
            c = cols.get(col_name)
            if c is None:
                # pushFilters already CONSUMED this conjunct (it is not a
                # residual), so silently skipping it would return
                # unfiltered rows — fail loudly instead: heterogeneous
                # segment schemas are outside the format contract
                raise ValueError(
                    f"fledir: pushed filter references column "
                    f"{col_name!r} absent from a segment — heterogeneous "
                    "segment schemas are not supported"
                )
            i = col_idx[col_name]
            neg = op.startswith("not_")
            base = op[4:] if neg else op
            m = self._conjunct_mask(seg, c, i, base, value)
            if neg:
                if base == "is_null":
                    m = self._valid_lane_mask(seg, c)
                elif base == "is_not_null":
                    m = self._full_lane_mask(seg) & ~self._valid_lane_mask(
                        seg, c
                    )
                elif base == "eqns":
                    # <=> is never NULL: complement over ALL lanes
                    # (value None reduces to IS NOT NULL = valid lanes)
                    m = (
                        self._valid_lane_mask(seg, c)
                        if value is None
                        else self._full_lane_mask(seg) & ~m
                    )
                else:
                    m = self._valid_lane_mask(seg, c) & ~m
            _and(m)
        return mask

    def _plain_value_mask(
        self, seg: ParsedSegment, c: ParsedColumn, op: str, value
    ) -> np.ndarray:
        """One pushed string conjunct evaluated on a PLAIN byte-array
        section: Arrow compute kernels over the zero-copy string wrap
        (no Python strings materialize), NULL lanes masked out, packed
        back into the kernel word-bitset shape.  Keeps a pushed
        conjunct correct on directories where the dictionary-cap
        fallback mixed dict and plain segments for the same column."""
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = _plain_str_arrow(c, seg.n)
        if op == "eqns":
            op = "eq"  # non-NULL <=> literal ≡ eq (NULL lanes excluded)
        if op == "in":
            res = pc.is_in(
                arr,
                value_set=pa.array([str(v) for v in value], pa.string()),
            )
        elif op in ("startswith", "endswith", "contains"):
            res = {
                "startswith": pc.starts_with,
                "endswith": pc.ends_with,
                "contains": pc.match_substring,
            }[op](arr, pattern=str(value))
        else:
            res = {
                "eq": pc.equal, "lt": pc.less, "le": pc.less_equal,
                "gt": pc.greater, "ge": pc.greater_equal,
            }[op](arr, pa.scalar(str(value), pa.string()))
        rows = np.asarray(
            pc.fill_null(res, False).to_numpy(zero_copy_only=False),
            dtype=bool,
        )
        rows &= _lane_validity(c, seg.n)  # NULL lanes store "" — clear
        pad = (-seg.n) % 64
        if pad:
            rows = np.concatenate([rows, np.zeros(pad, dtype=bool)])
        return (
            np.packbits(rows, bitorder="little")
            .view("<u8")
            .astype(np.uint64)
        )

    def _conjunct_mask(
        self, seg: ParsedSegment, c: ParsedColumn, i: int, op: str, value
    ) -> np.ndarray:
        """One conjunct's kernel bitset (positive form).  Always returns
        a concrete mask — a no-op conjunct (IS NOT NULL on a
        non-nullable column) returns the full valid-lane mask so
        negation stays well-defined."""
        zeros = np.zeros(seg.n_blocks, dtype=np.uint64)
        if not c.spec.planes:
            # plain byte-array sections have no planes.  Validity-word
            # predicates ride the validity bitset; VALUE comparisons
            # reach here only on a MIXED directory (a dictionary-cap
            # fallback appended plain segments behind dict ones, so
            # pushability was probed on a dict segment) and are
            # evaluated on the decoded values — the reference filters
            # PLAIN pages row-by-row too (hdfs-parquet-scanner.cc:
            # 1825-1834's per-row conjunct eval on non-dict pages).
            if op == "is_not_null":
                return self._valid_lane_mask(seg, c)
            if op == "is_null" or (op == "eqns" and value is None):
                return self._full_lane_mask(seg) & ~self._valid_lane_mask(
                    seg, c
                )
            return self._plain_value_mask(seg, c, op, value)
        if op == "eqns":
            # null-safe equality: <=> NULL matches exactly the NULL
            # rows; a non-null literal matches like eq (the eq kernel
            # already excludes NULL lanes)
            if value is None:
                k = FleKernels(c.planes, c.width, seg.n, validity=c.validity)
                return k.is_null()
            op = "eq"
        if op == "is_null":
            k = FleKernels(c.planes, c.width, seg.n, validity=c.validity)
            return k.is_null()
        elif op == "is_not_null":
            return self._valid_lane_mask(seg, c)
        elif op in ("startswith", "endswith", "contains"):
            # string predicate on a dictionary column: evaluate the
            # predicate ONCE PER DICTIONARY ENTRY (|dict| tests, not
            # |rows| — the reference's dictionary-predicate idea,
            # dict-encoding.h:461-541), then run the matching codes
            # through the kernels.  On the SORTED order-preserving
            # dictionary a prefix match is a CONTIGUOUS code range,
            # so LIKE 'abc%' becomes two range kernels with full
            # chunk-stat skipping; suffix/infix matches use the
            # in-kernel over the matching code set.
            d = c.dictionary or []
            test = {
                "startswith": str.startswith,
                "endswith": str.endswith,
                "contains": str.__contains__,
            }[op]
            match = [
                j for j, e in enumerate(d) if test(e, str(value))
            ]
            if not match:
                return zeros
            if match[-1] - match[0] + 1 == len(match):
                return self._chunk_kernel(
                    seg, c, i, "ge", match[0]
                ) & self._chunk_kernel(seg, c, i, "le", match[-1])
            return self._chunk_kernel(seg, c, i, "in", tuple(match))
        # every other kind maps the literal into code space by the map
        # its encoder applied (offset subtraction, micros, days, 0/1,
        # sortable bits, unscaled bounds, dictionary search) — the
        # order-preserving remap, so every comparison kernel works
        # unchanged (out-of-range codes hit the kernels' domain
        # short-circuits)
        if op == "in":
            codes = [
                b[1]
                for b in (c.spec.code_bound(c, "eq", v) for v in value)
                if isinstance(b, tuple)
            ]
            return (
                self._chunk_kernel(seg, c, i, "in", tuple(codes))
                if codes
                else zeros
            )
        b = c.spec.code_bound(c, op, value)
        if b is True:
            # domain short-circuit: every VALID row passes (a NULL lane
            # still satisfies no comparison)
            return self._valid_lane_mask(seg, c)
        if b is False:
            return zeros
        return self._chunk_kernel(seg, c, i, b[0], b[1])

    def _stats_refute(self, stats: dict) -> bool:
        """True iff the pushed conjunction PROVABLY matches no row of a
        segment given its manifest stats — the parquet footer min/max
        row-group skip (hdfs-parquet-scanner.cc:1006-1038) at file
        granularity, decided on the DRIVER before any scan task exists."""
        for col, op, value in self.pushed:
            s = stats.get(col)
            if not isinstance(s, dict):
                continue  # stat-less column: cannot refute
            mn, mx, has_null = s.get("min"), s.get("max"), s.get("has_null")
            if op.startswith("not_"):
                base = op[4:]
                if base == "is_not_null":  # NOT(IS NOT NULL) ≡ IS NULL
                    if has_null is False:
                        return True
                elif base == "eqns":
                    # NOT(x <=> NULL) ≡ IS NOT NULL refutes on all-NULL;
                    # NOT(x <=> v) KEEPS NULL rows (<=> is never NULL),
                    # so nothing else refutes it here
                    if value is None and mn is None and mx is None:
                        return True
                elif mn is None or mx is None:
                    # negated comparison/in/string: NULL never matches
                    return True
                continue  # finer negated refutation left to the kernels
            if op == "is_null":
                if has_null is False:
                    return True
                continue
            if op == "eqns" and value is None:
                if has_null is False:
                    return True  # <=> NULL needs a NULL lane
                continue
            if op == "eqns":
                op = "eq"  # non-null literal: refutes exactly like eq
            if mn is None or mx is None:  # every lane NULL
                return True  # is_not_null and all comparisons fail
            if op == "is_not_null":
                continue
            if op in ("startswith", "endswith", "contains"):
                # only the PREFIX predicate is range-refutable: s
                # startswith p ⇒ s >= p, so max < p refutes; and
                # s >= min ⇒ prefix_k(s) >= prefix_k(min), so a min
                # whose k-prefix already exceeds p refutes too
                if (
                    op == "startswith"
                    and isinstance(mn, str)
                    and isinstance(value, str)
                    and (mx < value or mn[: len(value)] > value)
                ):
                    return True
                continue
            # the literal converts into the stats' value domain (micros,
            # days, 0/1, float, exact unscaled Decimal, int or str).
            # Every map is monotone, so the interval tests below are
            # domain-agnostic once both sides align.
            kind, scale = fle_kinds.for_stats(s), int(s.get("s", 0))

            def conv(v):
                return kind.value_of(v, scale)

            try:
                if op == "in":
                    vs = [conv(v) for v in value]
                    if all(v < mn or v > mx for v in vs):
                        return True
                    continue
                v = conv(value)
            except (TypeError, ValueError, AttributeError):
                continue  # untranslatable literal: cannot refute
            if (
                (op == "eq" and (v < mn or v > mx))
                or (op == "lt" and mn >= v)
                or (op == "le" and mn > v)
                or (op == "gt" and mx <= v)
                or (op == "ge" and mx < v)
            ):
                return True
        return False

    def _manifest_files(self, dirpath: str) -> "list[tuple[str, int]]":
        """Committed (segment name, row count) pairs of one directory,
        minus the files the manifest's per-column stats refute for the
        pushed conjunction (the parquet footer row-group skip at file
        granularity, decided on the DRIVER).  Row count is 0 when the
        manifest entry predates the `__rows__` key (legacy) — callers
        treating it as a sizing hint, not a truth."""
        gen = getattr(self, "generation", None)
        entries = sealed_dir.read_manifest(
            os.path.join(dirpath, sealed_dir.DONE) if gen is None
            else sealed_dir.history_path(dirpath, gen)
        )
        if entries is None and gen is not None:
            gens = _history_generations(dirpath)
            raise ValueError(
                f"fledir: generation {gen} has no snapshot in {dirpath} — "
                "committed generations: "
                f"{gens or 'none (table predates history)'}"
            )
        if entries is None:
            raise ValueError(f"fledir: {dirpath} has no _DONE manifest")
        files: list[tuple[str, int]] = []
        for name, stats_json in entries:
            stats = _entry_stats(stats_json)
            rows = int(stats.get("__rows__") or 0) if stats else 0
            if stats and self.pushed and self._stats_refute(stats):
                continue  # whole file pruned: never opened
            if gen is not None:
                # snapshot name → surviving bytes: the live file if the
                # name is still current, else its .retired twin
                # (compaction retires, never deletes, until vacuum).  A
                # name with neither means vacuum expired this snapshot —
                # fail loudly, a partial generation is not a generation.
                live = os.path.join(dirpath, name)
                if not os.path.exists(live):
                    if not os.path.exists(live + ".retired"):
                        raise ValueError(
                            f"fledir: generation {gen} expired — segment "
                            f"{name} was vacuumed after its retirement"
                        )
                    name += ".retired"
            files.append((name, rows))
        return files

    @trims
    def partitions(self):
        if self.partitioned is not None:
            pcols, pairs = self.partitioned
            pconjs = [
                (pcols.index(c2), op, v)
                for c2, op, v in self.pushed
                if c2 in pcols
            ]
            tagged: list[tuple[str, object]] = []
            for values, sub in pairs:
                if not all(
                    self._part_filter_keep(values[ki], op, v)
                    for ki, op, v in pconjs
                ):
                    continue  # whole PARTITION pruned: no manifest read
                for name, rows in self._manifest_files(sub):
                    tagged.append((os.path.join(sub, name), values, rows))
            return self._make_partitions(tagged)
        files = self._manifest_files(self.dir)
        # every file stat-pruned → one empty partition (a zero-partition
        # scan is not representable); _make_partitions handles []
        return self._make_partitions([
            (os.path.join(self.dir, f), None, r) for f, r in files
        ])

    @staticmethod
    def _column_array(pa, c: ParsedColumn, vals, valid):
        """One decoded column → its Arrow array (kind-typed)."""
        return c.spec.to_arrow(pa, c, vals, ~valid if c.nullable else None)

    def _pa_evolved_type(self, pa, name: str):
        """Arrow type of an evolved NULL column, from the declared read
        schema (the template-tuple slot type,
        hdfs-parquet-scanner.cc:1437-1445)."""
        dt = self.field_types.get(name)
        tname = dt.simpleString() if dt is not None else "string"
        if tname.startswith("decimal("):
            p, s = tname[8:-1].split(",")
            return pa.decimal128(int(p), int(s))
        return {
            "string": pa.string(),
            "bigint": pa.int64(),
            "int": pa.int32(),
            "smallint": pa.int16(),
            "tinyint": pa.int8(),
            "double": pa.float64(),
            "float": pa.float32(),
            "boolean": pa.bool_(),
            "timestamp": pa.timestamp("us"),
            "date": pa.date32(),
            "binary": pa.binary(),
        }.get(tname, pa.string())

    @trims
    def read(self, partition):
        import pyarrow as pa

        pcols = self.partitioned[0] if self.partitioned else []
        pvals = getattr(partition, "part_values", None) or []
        pspans = getattr(partition, "spans", None) or []
        # pushed eq/in conjuncts eligible for the bloom-sidecar probe
        # (the reference's hash bitmap-filter probe at rest,
        # hdfs-parquet-scanner.cc:235-246): a refuted segment is
        # skipped before its FIRST byte is read.
        bloom_conj = bloom_eq_in_conjuncts(self.pushed)
        for idx, path in enumerate(partition.paths):
            span = pspans[idx] if idx < len(pspans) else None
            if bloom_conj:
                bfp = path + ".bf"
                if os.path.exists(bfp) and bloom_sidecar_refutes(
                    bfp, bloom_conj
                ):
                    continue  # proven pointless: zero segment bytes
            with open(path, "rb") as fh:
                payload = fh.read()
            # parse ONCE: the same parsed sections feed both the kernel
            # mask and the decode (no byte is re-parsed)
            seg = parse_segment(payload)
            kernel_mask = self._segment_mask(seg)
            if kernel_mask is not None and not kernel_mask.any():
                continue  # whole segment kernel-rejected: zero decode
            stored = {c.name: c for c in seg.columns}
            # batch columns follow the USER-SUPPLIED read-schema order
            # when one exists — Spark maps Arrow columns positionally,
            # so segment order would silently transpose a reordered
            # schema's data.  Unknown names fail loudly unless schema
            # evolution declared them evolved (NULL-fill).
            if self.wanted is None:
                out_names = [c.name for c in seg.columns]
                out_names.extend(pcols)
            else:
                out_names = list(self.wanted)
                for name in out_names:
                    if (
                        name not in stored
                        and name not in pcols
                        and name not in self.evolved
                    ):
                        raise ValueError(
                            f"fledir: read schema references column "
                            f"{name!r} not present in the directory "
                            "(pass schemaEvolution=true to NULL-fill "
                            "columns absent from every segment)"
                        )
                    if name in self.evolved and name in stored:
                        # evolution decided driver-side from manifests;
                        # a segment that DOES store the column means
                        # the directory is heterogeneous
                        raise ValueError(
                            f"fledir: column {name!r} was NULL-filled "
                            "as evolved but a segment stores it — "
                            "heterogeneous segment schemas are not "
                            "supported"
                        )
            # CHUNKED decode: one Arrow batch per _DECODE_BLOCKS-block
            # window instead of one whole-segment batch.  Post-
            # compaction segments run to millions of rows, and a
            # whole-segment decode's working set (codes + values +
            # Arrow buffers) falls out of per-core cache — measured
            # 2-6x aggregate throughput loss when 16+ tasks decode
            # big segments concurrently (memory-bandwidth contention),
            # while the same rows in ~16k-row windows decode at the
            # small-file rate.  Small segments keep the single
            # unmasked fast path.
            lo, hi = span if span is not None else (0, seg.n_blocks)
            hi = min(hi, seg.n_blocks)
            if hi <= lo:
                continue  # span beyond the file's blocks (stale rows)
            if hi - lo > _DECODE_BLOCKS:
                ranges = [
                    (b, min(b + _DECODE_BLOCKS, hi))
                    for b in range(lo, hi, _DECODE_BLOCKS)
                ]
            else:
                ranges = [(lo, hi)]
            # the unmasked whole-segment fast path only when this task
            # reads the ENTIRE file in one window
            chunked = (
                len(ranges) > 1 or lo != 0 or hi != seg.n_blocks
            )
            for b0, b1 in ranges:
                if kernel_mask is not None and not kernel_mask[b0:b1].any():
                    continue  # window fully kernel-rejected
                cols = decode_segment_columns(
                    seg, mask=kernel_mask,
                    columns=[n for n in out_names if n in stored],
                    block_range=(b0, b1) if chunked else None,
                )
                n_out = None
                for n in out_names:
                    if n in stored:
                        n_out = cols[n][0].size
                        break
                if n_out is None:  # only partition-key / evolved cols
                    if kernel_mask is not None:
                        from impala_avx2_parquet_scanner_spark.sources.fle_codec import (  # noqa: E501
                            popcount,
                        )

                        n_out = popcount(kernel_mask[b0:b1])
                    else:
                        n_out = min(b1 * 64, seg.n) - b0 * 64
                arrays = []
                for n in out_names:
                    if n in stored:
                        vals, valid = cols[n]
                        arrays.append(
                            self._column_array(pa, stored[n], vals, valid)
                        )
                    elif n in pcols:
                        # constant partition-key column, materialized
                        # from the directory name — the partition-key
                        # literal expr of descriptors.h:230-244 (never
                        # stored in the segments).  A declared
                        # read-schema type WINS (Spark reads the Arrow
                        # vector through the declared accessor — an
                        # int64 array under a declared int32 field
                        # crashes the scan; found by review)
                        value = pvals[idx][pcols.index(n)]
                        if n in self.field_types:
                            ptype = self._pa_evolved_type(pa, n)
                        else:
                            ptype = (
                                pa.int64() if isinstance(value, int)
                                else pa.string()
                            )
                        arrays.append(
                            pa.array([value] * n_out, type=ptype)
                        )
                    else:
                        # evolved column: typed NULLs (the missing-
                        # column template-tuple NULL, hdfs-parquet-
                        # scanner.cc:1437-1445)
                        arrays.append(
                            pa.nulls(
                                n_out, type=self._pa_evolved_type(pa, n)
                            )
                        )
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)


def segment_stats(seg: ParsedSegment) -> dict:
    """Per-column {min, max, has_null, nv} for the manifest, in VALUE
    space so the driver can refute with the query's own literals: found
    ON THE PLANES (no decode) for every kind with planes, plus the
    kind's `t`/`s` tags and, where the kind keeps one, an exact `sum`.
    The parquet footer-stats analog the reader's `partitions()` prunes
    files with."""
    from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
        plane_sum,
        popcount,
    )

    out: dict[str, dict] = {}
    for c in seg.columns:
        if c.validity is None:
            n_valid = seg.n
        else:
            v = c.validity.copy()
            rem = seg.n % 64
            if v.size and rem:
                v[-1] &= np.uint64((1 << rem) - 1)
            n_valid = popcount(v)
        has_null = n_valid < seg.n
        if n_valid == 0:
            out[c.name] = {
                "min": None, "max": None, "has_null": has_null, "nv": 0,
            }
            continue
        mn, mx = c.spec.min_max(c, seg.n)
        entry = out[c.name] = {
            "min": mn, "max": mx, "has_null": has_null, "nv": n_valid,
            **c.spec.stat_extras(c),
        }
        if c.spec.keeps_sum:
            # exact SUM folded on the planes (plane_sum — no decode,
            # arbitrary-precision): value sum = code sum + base·n_valid;
            # decimals stay unscaled (the `s` tag scales them at read)
            ps = plane_sum(c.planes, c.width, seg.n, validity=c.validity)
            if ps is not None:
                entry["sum"] = ps[0] + c.base * ps[1]
    return out


# ---------------------------------------------------------------------------
# Bloom-filter sidecars: the reference's hash bitmap-filter probe
# (hdfs-parquet-scanner.cc:235-246 probes a per-slot bitmap BY HASH during
# the scan; hash-util.h:44-65/72-95 supplies CrcHash and MurmurHash2_64)
# made real AT REST.  min/max stats cannot prune a point lookup on a
# hash-scattered high-cardinality column — every segment's interval spans
# the domain — so an opt-in per-segment sidecar (`seg_N.fle.bf`) carries a
# bloom filter per requested column and the reader probes it BEFORE the
# segment's first byte is read.  The probe runs on the EXECUTOR inside the
# task that owns the file (the scalable choice: a driver-side probe of
# 100k sidecars would serialize the lookup the way a driver-side listdir
# serializes vacuum), so scheduling is unchanged and only IO is saved —
# the same position the reference's adaptive filter occupies in its scan.

_BF_MAGIC = b"FBF1"
_BF_K = 4  # probes per value; with m/n=10 bits/value FPR ≈ 1.2%
_BF_BITS_PER_VALUE = 10
_BF_MAX_BITS = 1 << 23  # 1 MiB cap per column block


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit finalizer mix (splitmix64) — the stand-in for
    the reference's MurmurHash2_64 (hash-util.h:72-95): same role (a
    cheap avalanche over a 64-bit lane), numpy-wrapping arithmetic."""
    z = x.astype(np.uint64, copy=True)
    z += np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _hash64_bytes(values: "list[bytes]") -> np.ndarray:
    """Byte strings → 64-bit hashes: a CRC32 pair (two seeds) packed to
    64 bits — CrcHash is the reference's string hash (hash-util.h:
    44-65) — then decorrelated through the splitmix finalizer (CRC is
    linear; the k derived probe positions must not be)."""
    import zlib

    out = np.empty(len(values), dtype=np.uint64)
    for i, b in enumerate(values):
        c1 = zlib.crc32(b)
        c2 = zlib.crc32(b, 0x9E3779B9)
        out[i] = (c1 << 32) | c2
    return _splitmix64(out)


#: bloom hash domain → hash of a kind's `bloom_keys`
_BLOOM_HASH = {"i64": _splitmix64, "str": _hash64_bytes}


def _bloom_words(h: np.ndarray, m: int) -> np.ndarray:
    """Hashes → bloom bitmap (m bits, m a power of two) as u64 words.
    Double hashing: probe i sits at (h1 + i·h2) mod m with h2 forced
    odd — build and probe agree because m divides 2^64, so numpy's
    wrapping add and Python's exact add produce the same low bits."""
    words = np.zeros(m // 64, dtype=np.uint64)
    if h.size == 0:
        return words
    h1 = h & np.uint64(m - 1)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    for i in range(_BF_K):
        pos = (h1 + np.uint64(i) * h2) & np.uint64(m - 1)
        np.bitwise_or.at(
            words,
            (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )
    return words


def _bloom_maybe(words: np.ndarray, m: int, h: int,
                 k: int = _BF_K) -> bool:
    """True unless some probe bit is clear (definite absence)."""
    h1 = int(h) & (m - 1)
    h2 = ((int(h) >> 32) | 1)
    for i in range(k):
        pos = (h1 + i * h2) & (m - 1)
        if not (int(words[pos >> 6]) >> (pos & 63)) & 1:
            return False
    return True


def build_segment_blooms(seg: ParsedSegment, cols: list[str]) -> bytes:
    """Sidecar payload for one segment: magic + u32 header length +
    JSON header {cols: {name: {ht, m, k, off, len}}} + concatenated
    bitmap blocks.  Hash domains: value-space int64 for the plane
    kinds (int / signed offset), utf-8 bytes for strings — dictionary
    columns hash their (distinct, already materialized) dictionary
    entries, plain strings their distinct values.  Sized at
    ~10 bits/distinct value (power of two, 1 MiB cap).  An all-NULL
    column writes an empty bloom: every probe then refutes, which is
    correct — eq never matches NULL."""
    blocks: list[bytes] = []
    hdr: dict[str, dict] = {}
    off = 0
    for colname in cols:
        c = seg.column(colname)  # KeyError is the loud failure
        ht = c.spec.bloom
        if ht is None:
            raise ValueError(
                f"fledir: bloomcols column {colname!r} has kind "
                f"{c.kind} — blooms support int, signed offset, "
                "dictionary and plain-string columns (point lookups "
                "on doubles/temporals/booleans are not a bloom shape)"
            )
        h = _BLOOM_HASH[ht](c.spec.bloom_keys(c, seg.n))
        n = max(int(h.size), 1)
        m = 64
        while m < n * _BF_BITS_PER_VALUE and m < _BF_MAX_BITS:
            m <<= 1
        b = _bloom_words(h, m).tobytes()
        hdr[colname] = {
            "ht": ht, "m": m, "k": _BF_K, "off": off, "len": len(b),
        }
        off += len(b)
        blocks.append(b)
    hj = json.dumps({"cols": hdr}, sort_keys=True).encode()
    return _BF_MAGIC + struct.pack("<I", len(hj)) + hj + b"".join(blocks)


def bloom_sidecar_refutes(
    bf_path: str, conjuncts: "list[tuple[str, list]]"
) -> bool:
    """True when the sidecar PROVES some pushed conjunct matches no row
    of the segment (every literal of an eq/in conjunct absent from its
    column's bloom) — the caller then skips the segment without reading
    its first byte.  Only the probed columns' blocks are read (seek on
    the header offsets), so the cost is a few KB however wide the
    sidecar.  Fail-open everywhere: a missing/garbled sidecar, an
    unknown column, or a literal whose type does not match the hash
    domain simply declines to skip — the kernels still evaluate the
    conjunct exactly."""
    try:
        with open(bf_path, "rb") as fh:
            if fh.read(4) != _BF_MAGIC:
                return False
            (hl,) = struct.unpack("<I", fh.read(4))
            hdr = json.loads(fh.read(hl))["cols"]
            base = 8 + hl
            for col, vals in conjuncts:
                e = hdr.get(col)
                if e is None:
                    continue
                hs: list[int] = []
                typed_ok = True
                for v in vals:
                    if (
                        e["ht"] == "i64"
                        and isinstance(v, int)
                        and not isinstance(v, bool)
                        and -(1 << 63) <= v < (1 << 63)
                    ):
                        hs.append(int(_splitmix64(
                            np.array([v], dtype=np.int64).astype(np.uint64)
                        )[0]))
                    elif e["ht"] == "str" and isinstance(v, str):
                        hs.append(int(_hash64_bytes([v.encode()])[0]))
                    else:
                        typed_ok = False
                        break
                if not typed_ok or not hs:
                    continue
                fh.seek(base + int(e["off"]))
                words = np.frombuffer(
                    fh.read(int(e["len"])), dtype=np.uint64
                )
                if int(e["len"]) != int(e["m"]) // 8 or words.size == 0:
                    continue  # truncated block: fail open
                if not any(
                    _bloom_maybe(words, int(e["m"]), h, int(e["k"]))
                    for h in hs
                ):
                    return True
    except (OSError, ValueError, KeyError, TypeError, struct.error):
        # fail-open covers every malformed-sidecar shape: short files
        # (struct.error on the length word), garbled headers with
        # null/mistyped fields (TypeError on int()), bad JSON
        # (ValueError) — a sidecar can only ever DECLINE to skip
        return False
    return False


def bloom_eq_in_conjuncts(pushed) -> "list[tuple[str, list]]":
    """The bloom-probeable subset of a pushed-conjunct list, shared by
    the scan, merge and delete paths: eq/eqns with a non-NULL literal
    (a NULL eqns is IS NULL — no bloom can speak to it) and IN with
    its NULL elements dropped (they can never match)."""
    out = [
        (col, [v] if op in ("eq", "eqns") else
         [x for x in v if x is not None])
        for col, op, v in pushed
        if (op in ("eq", "eqns") and v is not None)
        or (op == "in" and v)
    ]
    return [(c, vs) for c, vs in out if vs]


def bloom_sidecar_refutes_hashed(
    bf_path: str, col: str, ht: str, hashes: "list[int]"
) -> bool:
    """Pre-hashed probe: True when the sidecar proves EVERY hash
    absent from `col`'s bloom (the caller hashed the literal set ONCE
    — merge probes hundreds of sidecars with the same key set, and
    re-hashing 2M keys per segment would be O(keys × segments) driver
    work).  Declines (False) when the column has no block or its hash
    domain differs; fail-open on any malformed sidecar."""
    if not hashes:
        return False
    try:
        with open(bf_path, "rb") as fh:
            if fh.read(4) != _BF_MAGIC:
                return False
            (hl,) = struct.unpack("<I", fh.read(4))
            hdr = json.loads(fh.read(hl))["cols"]
            e = hdr.get(col)
            if e is None or e["ht"] != ht:
                return False
            fh.seek(8 + hl + int(e["off"]))
            words = np.frombuffer(
                fh.read(int(e["len"])), dtype=np.uint64
            )
            if int(e["len"]) != int(e["m"]) // 8 or words.size == 0:
                return False
            return not any(
                _bloom_maybe(words, int(e["m"]), h, int(e["k"]))
                for h in hashes
            )
    except (OSError, ValueError, KeyError, TypeError, struct.error):
        return False


#: compaction lineage sidecar: maps each merged segment name to the
#: ORIGINAL segment names its rows came from (flattened through prior
#: compactions), so the STREAM reader can recognize a merged file as
#: already-processed instead of re-emitting its rows (the
#: duplicate-delivery hazard of rewriting files under a checkpointed
#: file-name-set offset — the same problem Delta's remove-actions solve)
_LINEAGE_NAME = "_LINEAGE"

#: generational snapshot manifests: every commit copies the manifest it
#: sealed into `_history/<gen>.manifest`, so a reader can ask for the
#: table AS OF any committed generation (option generation=N) for as
#: long as that generation's segments survive — compaction RETIRES its
#: sources rather than deleting them, so the pre-compaction snapshot
#: stays bit-readable until `vacuum_fledir` reclaims the space and
#: expires the snapshot (the Delta/Iceberg time-travel split: remove
#: actions keep history readable, VACUUM bounds it).  The same
#: per-partition descriptor model that scopes manifests scopes history:
#: each directory owns its own timeline (descriptors.h:178-262).
_HISTORY_DIR = sealed_dir.HISTORY_DIR
#: committed generation numbers of one directory, ascending
_history_generations = sealed_dir.history_generations


def _lineage_covered(
    name: str,
    seen: "set[str]",
    lineage: "dict[str, list[str]]",
    memo: "dict[str, bool]",
) -> bool:
    """True iff the stream already processed `name` directly or every
    original source it was merged from is covered — chained through
    generations of compaction.  Iterative worklist + memo (ADVICE r9):
    a long-lived checkpoint over a frequently compacted table grows one
    lineage generation per compaction, deep enough that a recursive
    check would hit Python's recursion limit and fail the stream.  A
    cyclic map (corrupt sidecar) resolves to uncovered instead of
    looping."""
    open_: set[str] = set()  # expanding, result pending (cycle guard)
    stack: list[tuple[str, bool]] = [(name, False)]
    while stack:
        n, expanded = stack.pop()
        if expanded:
            memo[n] = all(
                memo.get(s, False) for s in (lineage.get(n) or ())
            )
            open_.discard(n)
            continue
        if n in memo:
            continue
        if n in seen:
            memo[n] = True
            continue
        srcs = lineage.get(n)
        if not srcs:
            memo[n] = False
            continue
        if n in open_:
            memo[n] = False  # cycle: resolve uncovered, don't loop
            continue
        open_.add(n)
        stack.append((n, True))
        stack.extend((s, False) for s in srcs if s not in memo)
    return memo[name]


def _read_lineage(path: str) -> "dict[str, list[str]]":
    """{merged_name: [original source names...]} — empty if none."""
    entries = sealed_dir.read_manifest(os.path.join(path, _LINEAGE_NAME))
    return {n: srcs.split(",") if srcs else [] for n, srcs in entries or ()}


def _write_lineage(path: str, lineage: "dict[str, list[str]]") -> None:
    """Atomically replace the lineage file `path` (`name<TAB>src,src`
    lines — the manifest line format)."""
    sealed_dir.write_manifest(
        path, [(n, ",".join(srcs)) for n, srcs in lineage.items()]
    )


def _write_lineage_pending(path: str, lineage: "dict[str, list[str]]"):
    """Stage the next lineage map.  Written BEFORE the compaction job
    (the planned merged names are chosen up front), promoted to
    `_LINEAGE` atomically by the writer's commit before the merged names
    appear — a crashed compaction leaves only the inert `.pending` file,
    never a lineage that references missing files."""
    _write_lineage(os.path.join(path, _LINEAGE_NAME + ".pending"), lineage)


def _manifest_entries(path: str) -> list[tuple[str, str]]:
    """(name, stats-json) pairs of the committed manifest, [] if none."""
    return sealed_dir.committed(path) or []


def _entry_stats(stats_json: str) -> "dict | None":
    """A manifest entry's per-column stats; None for a bare name or an
    unparseable entry (legacy manifests)."""
    if not stats_json:
        return None
    try:
        return json.loads(stats_json)
    except ValueError:
        return None


def _stage_segment(
    msg: sealed_dir.Staged, name: str, payload: bytes, bloom_cols: list
) -> None:
    """Stage one encoded segment with its manifest entry: per-column
    stats computed on the encoded planes (no decode) plus `__rows__`, and
    for `bloom_cols` a `.bf` sidecar."""
    seg = parse_segment(payload)
    entry = segment_stats(seg)
    sidecars = {}
    if bloom_cols:
        # the manifest entry tags each bloomed column so readers of
        # OTHER sites can see the capability without listing sidecars
        sidecars[".bf"] = build_segment_blooms(seg, bloom_cols)
        for c in bloom_cols:
            entry[c]["bf"] = True
    # manifest row count (the parquet footer num_rows analog): lets
    # count(*) answer from the manifest alone, zero segment bytes read
    # (hdfs-parquet-scanner.cc:1377-1396's metadata-only count).
    # "__rows__" cannot collide with a column: segment column names come
    # from user schemas and the key is reserved here at write time.
    entry["__rows__"] = seg.n
    msg.put(name, payload, json.dumps(entry), sidecars)


def _bloom_cols(options) -> list[str]:
    return [c for c in (options.get("bloomcols") or "").split(",") if c]


def _record_generation(
    path: str, manifest, previous, names: set, restart: bool
) -> None:
    """Snapshot the manifest a commit just sealed into
    `_history/<gen>.manifest`.  Runs AFTER the swap: a crash between the
    two leaves the newest generation un-snapshotted (time travel to it
    unavailable, current reads untouched), while the reverse order could
    record a generation that never became current.  `restart` (an
    overwrite replaces the table's rows) clears the timeline and starts
    it at generation 1.  Otherwise generation numbers stay MONOTONIC even
    when expiry empties the timeline (a renumbered timeline would let one
    number mean two tables), and a commit that REUSED a committed segment
    name replaced its bytes, so every snapshot naming it expires now — a
    generation read must fail loudly, never return the new rows under the
    old manifest."""
    gens = _history_generations(path)
    gen = 1 if restart or not gens else gens[-1] + 1
    reused = names & {n for n, _ in previous}
    for g in gens if restart or reused else ():
        snap = sealed_dir.history_path(path, g)
        if restart or reused & {
            n for n, _ in sealed_dir.read_manifest(snap) or ()
        }:
            sealed_dir.discard(snap)
    sealed_dir.write_manifest(sealed_dir.history_path(path, gen), manifest)


class FleDirWriter(DataSourceWriter):
    """Writer half (§2A #17/#18 for this format): input rows are
    pre-encoded segments (seg_id bigint, payload binary), staged as
    `seg_<id>.fle.tmp-<token>` and sealed by `sealed_dir.commit`, so a
    half-written, aborted or killed attempt is never observed and an
    overwrite removes no old segment until the new `_DONE` is in place
    (a REUSED segment name is replaced at its rename).  The fledir parts
    around that commit: stats entries, bloom sidecars, the `_LINEAGE`
    map, `retirenames` and the `_history` snapshot."""

    def __init__(self, options, overwrite: bool):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("fledir requires option 'path'")
        self.overwrite = overwrite
        #: set by compact_fledir's rewrite ONLY: promote the staged
        #: `_LINEAGE.pending` at commit (BEFORE the merged names
        #: appear, so a concurrent stream never sees a merged file
        #: without its lineage).  A plain overwrite instead DELETES
        #: both the sidecar and any stale pending file — new table
        #: contents must never inherit a crashed compaction's
        #: merged→sources map
        self.promote_lineage = str(
            options.get("promotelineage", "false")
        ).lower() in ("true", "1")
        #: append-mode surgical replacement (compaction's incremental
        #: commit): these committed names leave the manifest and their
        #: files are RETIRED (renamed `<name>.retired`, invisible to
        #: both reader halves) rather than deleted — a checkpointed
        #: stream replaying a planned-but-uncommitted batch can still
        #: read them until `vacuum_fledir` reclaims the space (the
        #: Delta remove-action + VACUUM split).  Their sidecars die
        #: with the retirement: stream replay reads a retired segment
        #: by exact name and never consults blooms.
        raw = options.get("retirenames")
        self.retire_names: set[str] = set(json.loads(raw)) if raw else set()
        #: opt-in bloom sidecars (option bloomcols=a,b): each task
        #: writes `seg_N.fle.bf` next to its segment so point lookups
        #: on hash-scattered high-cardinality columns can skip whole
        #: files before the first byte — the reference's hash
        #: bitmap-filter probe (hdfs-parquet-scanner.cc:235-246) at
        #: rest.  Sidecars become visible BEFORE their segments, and a
        #: reused name without a new sidecar loses the old one (a stale
        #: bloom would refute values present in the NEW bytes).
        #: Compaction output drops them (its writer does not pass the
        #: option) — re-request on the compacted table.
        self.bloom_cols = _bloom_cols(options)
        if self.retire_names and overwrite:
            raise ValueError(
                "fledir: retirenames is an append-mode contract "
                "(overwrite already replaces the whole directory)"
            )

    @trims
    def write(self, rows):
        msg = sealed_dir.Staged(self.dir)
        for row in rows:
            _stage_segment(
                msg, f"seg_{row.seg_id}.fle", bytes(row.payload),
                self.bloom_cols,
            )
        return msg

    @trims
    def commit(self, messages):
        entries = sealed_dir.staged(messages)
        names = {e[0] for e in entries}
        final = os.path.join(self.dir, _LINEAGE_NAME)
        pending = final + ".pending"
        if self.promote_lineage and os.path.exists(pending):
            # promote the merged→sources map BEFORE any merged name
            # becomes visible: until the renames, the map's new entries
            # reference files that do not exist (inert); after them, a
            # stream listing the directory always finds the lineage that
            # classifies the merged files.  Review finding: promoting
            # after the manifest swap left a window where a concurrent
            # stream saw a merged file as 'genuinely new' and re-emitted
            # every row.
            os.replace(pending, final)
        elif not self.overwrite:
            # APPEND without a staged lineage: a writer may legally
            # reuse a segment name that a long-vacuumed compaction once
            # minted (writer names are pid-scoped, merged names are
            # million-aligned — but pids recycle and tables outlive
            # both).  A stale lineage entry under that name would make
            # the stream classify the genuinely NEW file as an
            # already-processed merge and silently drop its rows, so
            # evict those keys BEFORE the renames make the new names
            # visible (ADVICE r9).
            lineage = _read_lineage(self.dir)
            if names & set(lineage):
                _write_lineage(final, {
                    k: v for k, v in lineage.items() if k not in names
                })

        def after_swap(manifest, previous):
            if self.overwrite:
                # fresh rows must never be mistaken for already-streamed
                # merges: the lineage and a crashed compaction's pending
                # map go with the table they described
                sealed_dir.discard(pending)
                sealed_dir.discard(final)
            _record_generation(
                self.dir, manifest, previous, names, self.overwrite
            )

        sealed_dir.commit(
            self.dir, entries, suffix=".fle", overwrite=self.overwrite,
            retire=self.retire_names, sidecars=(".bf",),
            after_swap=after_swap,
        )

    @trims
    def abort(self, messages):
        sealed_dir.abort(self.dir, messages)


def probe_first_segment(path: str) -> "ParsedSegment | None":
    """Parse the first COMMITTED segment of a flat fledir (manifest's
    first entry) — the one probe both schema inference and the
    reader's type-directed pushability share.  None when the directory
    has no readable committed segment."""
    try:
        first = sealed_dir.committed(path)[0][0]
        with open(os.path.join(path, first), "rb") as fh:
            return parse_segment(fh.read())
    except Exception:
        return None


def _segment_ddl(seg: ParsedSegment) -> str:
    """A segment's columns → Spark DDL (the full §1.2 scanner dispatch:
    hdfs-parquet-scanner.cc:670-720 re-expressed as container kinds)."""
    return ", ".join(f"{c.name} {c.spec.ddl(c)}" for c in seg.columns)


def infer_fledir_schema(path: str) -> str | None:
    """Probe the first committed segment's header for the stored column
    names/kinds → Spark DDL (the footer-schema read the parquet path
    gets for free; here the segment header is the footer)."""
    try:
        if os.path.exists(os.path.join(path, sealed_dir.DONE)):
            seg = probe_first_segment(path)
            return _segment_ddl(seg) if seg is not None else None
        part = discover_fledir_partitions(path)
        if part is not None:
            # hive-style layout: data columns from the first committed
            # partition's first segment + the partition keys LAST in
            # nesting order (the Spark partition-column convention)
            pcols, pairs = part
            base = infer_fledir_schema(pairs[0][1])
            if base is None:
                return None
            keys = ", ".join(
                f"{c} " + (
                    "bigint" if isinstance(pairs[0][0][ki], int)
                    else "string"
                )
                for ki, c in enumerate(pcols)
            )
            return f"{base}, {keys}"
        # no manifest: a live STREAM feed — probe any sealed segment
        # (skip files a foreign producer is mid-writing)
        for name in sorted(os.listdir(path)):
            if name.endswith(".fle"):
                try:
                    with open(os.path.join(path, name), "rb") as fh:
                        return _segment_ddl(parse_segment(fh.read()))
                except Exception:
                    continue
        return None
    except Exception:
        return None


class FleDataSource(DataSource):
    @classmethod
    def name(cls):
        return "fledir"

    @trims
    def schema(self):
        path = self.options.get("path")
        inferred = infer_fledir_schema(path) if path else None
        return inferred or _SCHEMA

    def reader(self, schema):
        # `schema` is what the query will consume: either the inferred
        # full schema or a user-supplied SUBSET (spark.read.schema(...)).
        # Passing its field names lets the reader decode ONLY those
        # columns' plane sections — projection pruning for this format
        # (§2A #4's one-reader-per-materialized-slot,
        # hdfs-parquet-scanner.cc:1410-1451: unreferenced columns never
        # materialize)
        wanted = [f.name for f in schema.fields] if schema else None
        field_types = (
            {f.name: f.dataType for f in schema.fields} if schema else None
        )
        return FleDirReader(
            self.options, wanted=wanted, field_types=field_types
        )

    @trims
    def writer(self, schema, overwrite):
        return FleDirWriter(self.options, overwrite)

    def simpleStreamReader(self, schema):
        return FleStreamReader(self.options)

    def streamWriter(self, schema, overwrite):
        return FleStreamWriter(self.options, schema)


class FleStreamReader(sealed_dir.SealedStreamReader):
    """Streaming form of the FLE scanner: the directory is a live
    SEGMENT feed — each micro-batch decodes the segments not yet
    processed, with the file-name-set offset of
    `sealed_dir.SealedStreamReader` (exactly-once segment processing
    under checkpointing, arrival-order independent); `_split` adds the
    fledir part, classifying compaction products through `_LINEAGE`.
    The reference has no streaming surface; this carries its scan
    framework into Structured Streaming the same way the ppmdir scanner
    does (SURVEY §2B streaming row)."""

    fmt = "fledir"
    suffix = ".fle"

    def __init__(self, options):
        super().__init__(options)
        #: a hive-partitioned root streams as a MERGED per-leaf
        #: feed (round 10; previously refused): offset names are
        #: leaf-relative POSIX paths and the partition-key values
        #: materialize as trailing constant columns, matching the
        #: batch schema's key-columns-last convention.  Leaves are
        #: re-discovered every micro-batch, so partitions appended
        #: mid-stream start flowing and partitions RETIRED by
        #: `expire_fledir_partitions` stop being listed the moment
        #: their manifest is gone (retention must expire only
        #: fully-streamed partitions — the same fully-consumed
        #: contract compaction has: a planned-but-uncommitted
        #: batch can replay retired COMPACTION sources, but an
        #: expired leaf's bytes are deleted, not retired).
        #: Re-probed at every micro-batch, not frozen here: a
        #: stream started on an EMPTY root must notice col=value
        #: leaves that appear later (a flat live feed keeps
        #: probing None — the root holds `.fle` files, never
        #: key directories).
        self.partitioned = (
            discover_fledir_partitions(self.dir) is not None
        )

    def _reprobe(self) -> None:
        if not self.partitioned:
            self.partitioned = (
                discover_fledir_partitions(self.dir) is not None
            )

    def _leaf_map(self) -> "dict[str, tuple]":
        """{leaf-relative POSIX path: typed partition values} for
        the currently committed leaves (re-discovered per call)."""
        part = discover_fledir_partitions(self.dir)
        if part is None:
            return {}
        return {
            os.path.relpath(leaf, self.dir).replace(os.sep, "/"):
                vals
            for vals, leaf in part[1]
        }

    def _listing(self) -> "tuple[list[str], bool]":
        """Sorted feed listing: the committed names on a flat root
        (every `.fle` file of a root without `_DONE`), leaf-qualified
        relative paths of each committed leaf's `_DONE` names on a
        partitioned one."""
        self._reprobe()
        if not self.partitioned:
            return super()._listing()
        names = [
            f"{rel}/{n}"
            for rel in self._leaf_map()
            for n, _ in sealed_dir.committed(os.path.join(self.dir, rel))
            or ()
        ]
        return sorted(names), True

    def _lineage_all(self) -> "dict[str, list[str]]":
        """The feed's merged lineage map: per-leaf `_LINEAGE`
        sidecars with keys AND sources qualified by the leaf path
        (compaction of a partitioned root runs per leaf, so every
        merged↔source relation stays inside one leaf)."""
        if not self.partitioned:
            return _read_lineage(self.dir)
        out: dict[str, list[str]] = {}
        for rel in self._leaf_map():
            sub = _read_lineage(os.path.join(self.dir, rel))
            for k, srcs in sub.items():
                out[f"{rel}/{k}"] = [f"{rel}/{s}" for s in srcs]
        return out

    def _rows(self, names):
        # returns a LIST of plain-python tuples: the stream
        # framework pickles prefetched rows (numpy scalars do not
        # survive Spark's type verification)
        # per-name "/" detection rather than the partitioned flag:
        # a replay can carry leaf-qualified names even if the root
        # probed flat at construction
        leaf_map = (
            self._leaf_map()
            if any("/" in n for n in names)
            else {}
        )
        out = []
        for name in names:
            p = os.path.join(self.dir, name)
            if not os.path.exists(p) and os.path.exists(
                p + ".retired"
            ):
                # the segment was compacted away AFTER this batch's
                # offsets were planned: its bytes live on as
                # `<name>.retired` (invisible to fresh scans) until
                # vacuum, precisely so this replay can still serve
                # the batch — review finding: deleting sources
                # wedged a restarted stream with FileNotFoundError
                p = p + ".retired"
            rel = name.rpartition("/")[0]
            key_cells: tuple = ()
            if rel:
                vals = leaf_map.get(rel)
                if vals is None:
                    # leaf mid-expiry (manifest gone, file still
                    # readable): parse the key values from the
                    # path components with the standard typing
                    vals = tuple(
                        _typed_partition_value(
                            comp.partition("=")[2]
                        )
                        for comp in rel.split("/")
                    )
                key_cells = tuple(vals)
            with open(p, "rb") as fh:
                seg = parse_segment(fh.read())
            cols = decode_segment_columns(seg)
            # each column's scalar converter, picked once per segment
            lanes = [
                (*cols[c.name], c.spec.scalar, c.scale) for c in seg.columns
            ]
            for j in range(seg.n):
                out.append(tuple(
                    conv(vals[j], scale) if valid[j] else None
                    for vals, valid, conv, scale in lanes
                ) + key_cells)
        return out

    def _sealed(self, name: str) -> bool:
        """True iff the file parses as a complete segment — asked only
        of a root without `_DONE`, where a FOREIGN producer writing
        `.fle` names in place can be caught mid-write: such a file is
        left out of the batch AND the offset, so it is retried complete
        on a later micro-batch instead of poisoning the feed."""
        try:
            with open(os.path.join(self.dir, name), "rb") as fh:
                parse_segment(fh.read())
            return True
        except Exception:
            return False

    def _split(
        self, names: list[str], seen: set
    ) -> "tuple[list[str], list[str]]":
        """A name with no lineage is new data.  A COMPACTION product is
        absorbed into the offset without rows when the stream already
        processed every source it was merged from (directly or through
        earlier merges — iterative + memoized `_lineage_covered`), so
        exactly-once survives the rewrite (the Delta remove-action
        move); emitted when it processed none; and refused when it
        processed some, since emitting duplicates and skipping loses
        rows.  A replay applies the same rule against its START offset,
        so an absorbed name contributes no rows there either."""
        self._reprobe()
        lineage = self._lineage_all()
        memo: dict[str, bool] = {}
        emit, absorbed = [], []
        for f in names:
            srcs = lineage.get(f)
            n_seen = sum(
                1 for s in srcs or ()
                if _lineage_covered(s, seen, lineage, memo)
            )
            if srcs and n_seen == len(srcs):
                absorbed.append(f)
            elif n_seen == 0:
                emit.append(f)
            else:
                # compaction raced a mid-feed checkpoint (bin the feed so
                # compaction only touches fully-consumed prefixes, or
                # restart the stream from a fresh checkpoint)
                raise ValueError(
                    f"fledir stream: compacted segment {f!r} mixes "
                    f"{n_seen} already-processed and "
                    f"{len(srcs) - n_seen} unprocessed source "
                    "segments — exactly-once replay is impossible; "
                    "compact only fully-streamed data or restart "
                    "the stream"
                )
        return emit, absorbed


def _stream_rows_to_columns(rows, schema) -> list[tuple]:
    """Micro-batch Rows → the (name, values, hint) list the segment
    encoder expects, each column converted by the kind its Spark type
    is stored as (`ColumnKind.sink`)."""
    cols: list[tuple] = []
    for i, f in enumerate(schema.fields):
        kind = fle_kinds.for_spark_type(f.dataType)
        if kind is None:
            raise ValueError(
                f"fledir stream sink: unsupported column type "
                f"{f.dataType.simpleString()} for {f.name!r}"
            )
        cols.append((f.name, *kind.sink([r[i] for r in rows], f.dataType)))
    return cols


class FleStreamWriter(DataSourceStreamWriter):
    """Streaming SINK half of the container: `df.writeStream
    .format("fledir")` lands each micro-batch as committed segments
    with EXACTLY-ONCE epoch semantics.

    Each task stages its partition's rows as one segment; the
    driver-side `commit(messages, batchId)` assigns DETERMINISTIC
    per-epoch names (``seg_s{batchId}_{i}.fle``) and, through
    `sealed_dir.commit`'s `drop`, replaces the manifest's whole
    ``seg_s{batchId}_`` prefix with this attempt's set.  That prefix
    replacement is what makes epoch replay idempotent WITHOUT a side
    ledger: a batch re-run after a crash (even with different
    parallelism, so a different segment count) overwrites its own
    names, re-manifests exactly its own rows, and the post-swap sweep
    removes any leftovers of a wider earlier attempt — the same
    name-determinism contract Spark's own file sinks get from their
    per-batch manifest.  Commits append to the table (previous epochs'
    entries survive) and record a `_history/` generation like every
    other commit, so the table stays time-travel readable and the BATCH
    reader, the STREAM reader (offset = file-name set), compaction,
    retention, merge and delete all compose with sink output
    unchanged."""

    def __init__(self, options, schema):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("fledir requires option 'path'")
        self.schema = schema
        self.bloom_cols = _bloom_cols(options)
        for c in self.bloom_cols:
            if c not in {f.name for f in schema.fields}:
                raise ValueError(
                    f"fledir stream sink: bloomcols column {c!r} "
                    "not in the stream schema"
                )

    def write(self, iterator):
        msg = sealed_dir.Staged(self.dir)
        rows = list(iterator)
        if rows:
            # staged under a placeholder name: the epoch's final names
            # are chosen at commit
            payload = encode_segment_columns(
                _stream_rows_to_columns(rows, self.schema)
            )
            _stage_segment(msg, "stream.fle", payload, self.bloom_cols)
        return msg

    def commit(self, messages, batchId: int) -> None:
        prefix = f"seg_s{batchId}_"
        entries = [
            (f"{prefix}{i}.fle", *rest)
            for i, (_, *rest) in enumerate(sealed_dir.staged(messages))
        ]
        names = {e[0] for e in entries}
        sealed_dir.commit(
            self.dir, entries, suffix=".fle",
            drop=lambda n: n.startswith(prefix), sidecars=(".bf",),
            after_swap=lambda manifest, previous: _record_generation(
                self.dir, manifest, previous, names, False
            ),
        )

    def abort(self, messages, batchId: int) -> None:
        sealed_dir.abort(self.dir, messages)


def register_fledir(spark) -> None:
    try:
        spark.dataSource.register(FleDataSource)
    except Exception:  # already registered on this session
        pass


def write_fledir(frame, columns, path, mode="overwrite", *, seg_base=0,
                 **writer_options) -> None:
    """Encode `frame` into `.fle` segments on the executors (one per
    Arrow batch, inside `mapInPandas`) and commit them to `path` through
    the fledir writer.  `columns` lists ``(name, cast, hint)`` per stored
    column: `cast` is a numpy dtype applied to the batch values (None
    keeps them), `hint` the :func:`encode_segment_columns` kind hint.
    Segment ids are ``seg_base + partition·100000 + batch``; an append
    that must not rewrite earlier segments passes a disjoint
    `seg_base`.  `writer_options` become fledir options (None dropped)."""
    import pandas as _pd

    @trims
    def encode(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for i, pdf in enumerate(batches):
            cols = []
            for name, cast, hint in columns:
                v = pdf[name].to_numpy()
                cols.append((name, v if cast is None else v.astype(cast), hint))
            yield _pd.DataFrame({
                "seg_id": [seg_base + pid * 100_000 + i],
                "payload": [encode_segment_columns(cols)],
            })

    w = (
        frame.mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode(mode)
        .option("path", path)
    )
    for k, v in writer_options.items():
        if v is not None:
            w = w.option(k, v)
    w.save()


def _table(spark, sf_dir: str, name: str):
    """`catalog.table`, imported at call time: executors import this
    module and never need the catalog."""
    from impala_avx2_parquet_scanner_spark.catalog import table

    return table(spark, sf_dir, name)


def _fle_asset(spark, sf_dir: str, name: str, build) -> str:
    """Publish the write-once FLE fixture `name` of `sf_dir` through
    :func:`impala_avx2_parquet_scanner_spark.assets.publish`.  The
    session confs and the fledir source are put in place first: the
    caller's read needs both even when the asset already exists."""
    from impala_avx2_parquet_scanner_spark.assets import publish
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    register_fledir(spark)
    return publish(sf_dir, name, build)


#: (l_returnflag dictionary, l_quantity int planes): the column spec of
#: the two-column lineitem fixtures
_FLAG_QTY = [("l_returnflag", None, None), ("l_quantity", np.int64, None)]


def materialize_fle_dir(spark, sf_dir: str) -> str:
    """Write-once: encode lineitem (l_returnflag, NULLIF(l_quantity, 10))
    into `.fle` segments through the fledir WRITER half.  The NULLIF
    derivation stores a genuinely nullable column, so the validity words
    (the def-level analog) round-trip through real file bytes, not just
    in-plan masks.  Encoding happens inside `mapInPandas` Arrow batches
    on the executors; the writer tasks persist their segments and the
    commit seals the `_DONE` manifest."""
    from pyspark.sql import functions as F

    def build(out):
        qty = F.col("l_quantity")
        frame = _table(spark, sf_dir, "lineitem").select(
            "l_returnflag", F.when(qty != 10, qty).alias("l_quantity")
        )  # the NULLs arrive as NaN, which marks them for the encoder
        write_fledir(frame, [_FLAG_QTY[0], ("l_quantity", None, None)], out)

    return _fle_asset(spark, sf_dir, "fle", build)


def materialize_fle_sorted_dir(spark, sf_dir: str) -> str:
    """Write-once: lineitem (l_returnflag, l_quantity) SORTED by
    quantity before segmentation, so each segment covers a narrow
    quantity range and the manifest min/max stats become selective —
    the FLE analog of the engine's sorted parquet sink
    (`write_sorted_parquet`), giving the stat-pruning path real
    planning-time file skips (tightened row-group stats,
    hdfs-parquet-table-writer.cc's sorted layout made observable)."""

    def build(out):
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_quantity")
            # range-partition THEN sort within partitions: every segment
            # (one per Arrow batch per partition) covers a narrow, disjoint
            # quantity range — the layout the reference's sorted writer
            # produces, which is what makes min/max stats selective
            .repartitionByRange(8, "l_quantity")
            .sortWithinPartitions("l_quantity")
        )
        write_fledir(frame, _FLAG_QTY, out)

    return _fle_asset(spark, sf_dir, "fle_sorted", build)


def materialize_fle_chunked_dir(spark, sf_dir: str) -> str:
    """Write-once: lineitem (l_returnflag, l_quantity) sorted WITHIN
    partitions but NOT range-partitioned across them — every segment
    spans (nearly) the full quantity domain, so the manifest's
    file-level min/max can refute nothing, while within a segment
    values ascend and the per-chunk BSTA stats become maximally
    selective.  This is the mid-file regime the round-8 chunk-skip
    tier exists for: a boundary file the file stats must keep, whose
    interior the page-level stats skip
    (hdfs-parquet-scanner.cc:1125-1132)."""

    def build(out):
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_quantity")
            # round-robin repartition (hash of nothing = arbitrary) then
            # sort within: each partition holds a full-domain sample in
            # ascending order — file stats useless, chunk stats sharp
            .repartition(8)
            .sortWithinPartitions("l_quantity")
        )
        write_fledir(frame, _FLAG_QTY, out)

    return _fle_asset(spark, sf_dir, "fle_chunked", build)


def materialize_fle_signed_dir(spark, sf_dir: str) -> str:
    """Write-once: lineitem (l_returnflag, l_quantity - 25 AS balance)
    — a SIGNED column crossing zero, stored through the offset kind
    (the container's own order-preserving offset; round 8).  Negative
    domains are what the reference's unsigned FLE codes cannot hold
    directly — the sorted-dictionary remap idea applied to integers."""
    from pyspark.sql import functions as F

    def build(out):
        frame = _table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            (F.col("l_quantity").cast("long") - F.lit(25)).alias("balance"),
        )
        write_fledir(
            frame, [_FLAG_QTY[0], ("balance", np.int64, None)], out
        )

    return _fle_asset(spark, sf_dir, "fle_signed", build)


def materialize_fle_typed_dir(spark, sf_dir: str) -> str:
    """Write-once: the FULL TYPE MATRIX of the reference scanner's
    dispatch (hdfs-parquet-scanner.cc:670-720) in one container —
    double / timestamp / date / boolean / decimal(12,2) columns all
    reduced to the SAME u64 plane kernels by per-kind order-preserving
    maps (sortable bits for doubles; epoch micros/days and the unscaled
    integer through the signed offset).  Segments are range-partitioned
    + sorted by the double column, so the manifest's typed min/max
    stats (f64 tag) prune files on the driver for price predicates."""
    from pyspark.sql import functions as F

    def build(out):
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select(
                "l_returnflag",
                F.col("l_extendedprice").alias("price"),
                F.col("l_shipdate").alias("ship_ts"),
                F.col("l_shipdate").cast("date").alias("ship_date"),
                (F.col("l_returnflag") == F.lit("R")).alias("returned"),
                F.col("l_extendedprice").cast("decimal(12,2)").alias(
                    "price_dec"
                ),
            )
            .repartitionByRange(8, "price")
            .sortWithinPartitions("price")
        )
        write_fledir(frame, [
            _FLAG_QTY[0], ("price", None, "f64"), ("ship_ts", None, None),
            ("ship_date", None, None), ("returned", None, None),
            ("price_dec", None, ("dec", 12, 2)),
        ], out)

    return _fle_asset(spark, sf_dir, "fle_typed", build)


def materialize_fle_part_dir(spark, sf_dir: str) -> str:
    """Write-once: the PART table's string columns (p_brand, p_name,
    p_type as order-preserving dictionaries + p_size int planes),
    range-partitioned + sorted by p_brand so the manifest's string
    min/max make PREFIX predicates file-prunable — the layout for the
    dictionary-predicate queries (LIKE evaluated per dictionary entry,
    dict-encoding.h:461-541)."""

    def build(out):
        frame = (
            _table(spark, sf_dir, "part")
            .select("p_brand", "p_name", "p_type", "p_size")
            .repartitionByRange(4, "p_brand")
            .sortWithinPartitions("p_brand")
        )
        write_fledir(frame, [
            ("p_brand", None, None), ("p_name", None, None),
            ("p_type", None, None), ("p_size", np.int64, None),
        ], out)

    return _fle_asset(spark, sf_dir, "fle_part", build)


def _committed_entries(path: str):
    """(leaf dir, segment name, stats json) for every committed segment
    of a flat or hive-partitioned fledir — the manifest walk the
    metadata-only aggregates fold over; a leaf without its `_DONE`
    manifest raises."""
    part = discover_fledir_partitions(path)
    for root in [leaf for _, leaf in part[1]] if part else [path]:
        entries = sealed_dir.committed(root)
        if entries is None:
            raise ValueError(f"fledir: {root} has no _DONE manifest")
        for name, stats_json in entries:
            yield root, name, stats_json


def fledir_row_count(path: str) -> int:
    """Metadata-only COUNT(*) over a committed fledir (flat or
    partitioned): each manifest entry carries its segment's row count
    (`__rows__`), so the total is a driver-side manifest read with
    ZERO segment bytes touched — the footer num_rows shortcut the
    reference takes for count(*) (hdfs-parquet-scanner.cc:1377-1396).
    Entries written before the count key fall back to reading the
    segment's 14-byte header (n sits right after the magic)."""
    total = 0
    for root, name, stats_json in _committed_entries(path):
        n = (_entry_stats(stats_json) or {}).get("__rows__")
        if n is None:
            with open(os.path.join(root, name), "rb") as fh:
                head = fh.read(14)
            if head[:4] != _MAGIC:
                raise ValueError(f"fledir: bad segment magic in {name}")
            (n,) = struct.unpack_from("<I", head, 4)
        total += int(n)
    return total


def fledir_partition_row_counts(path: str) -> "tuple[list, list]":
    """Metadata-only GROUPED count(*) over a hive-partitioned fledir:
    ([key_col, ...], [(key_values..., n_rows), ...]) — one row per leaf
    directory, each count folded from that leaf's manifest alone (zero
    segment bytes).  The grouped form of :func:`fledir_row_count`: when
    the GROUP BY key IS the partition key, the whole aggregate is a
    manifest walk — the same shortcut Spark takes for grouped counts
    over hive layouts when metadata answers the scan, and the
    reference's partition-keyed row accounting (partition descriptors
    carry per-partition row counts via their file metadata,
    descriptors.h:178-262).  Raises on a flat (unpartitioned) root:
    there is no key to group by."""
    part = discover_fledir_partitions(path)
    if part is None:
        raise ValueError(
            f"fledir: {path} is not hive-partitioned — grouped "
            "metadata counts need a col=value directory layout"
        )
    keys, leaves = part
    rows = [
        tuple(vals) + (fledir_row_count(leaf),) for vals, leaf in leaves
    ]
    return keys, rows


def fledir_min_max(path: str, columns: list[str]) -> dict:
    """Metadata-only MIN/MAX over a committed fledir (flat or
    partitioned): {column: (min, max)} folded from the manifest's
    per-segment value-space stats with ZERO segment bytes read — the
    other half of parquet aggregate pushdown
    (`spark.sql.parquet.aggregatePushdown` answers MIN/MAX from footer
    statistics the same way; §2A #3's metadata shortcut generalized
    from count(*)).  SQL semantics: NULL lanes never contribute
    (segment stats already exclude them), an all-NULL segment carries
    the empty interval and is skipped, and a table with no valid lane
    answers (None, None) — SQL NULL.  Typed kinds come back in their
    logical domain (datetime/date/bool/Decimal) via the manifest's `t`
    tags.  A legacy stats-less manifest entry fails loudly: answering
    from metadata that does not exist would mean silently scanning."""
    agg: dict[str, tuple] = {c: (None, None) for c in columns}
    for root, name, stats_json in _committed_entries(path):
        if not stats_json:
            raise ValueError(
                f"fledir: segment {name!r} has a stats-less manifest "
                "entry — metadata min/max needs the stats written at "
                "commit time"
            )
        st = json.loads(stats_json)
        for c in columns:
            e = st.get(c)
            if e is None:
                raise KeyError(
                    f"fledir: column {c!r} missing from segment "
                    f"{name!r} stats"
                )
            if e["min"] is None:
                continue  # all-NULL segment: empty interval
            mn = fle_kinds.stat_to_value(e, e["min"])
            mx = fle_kinds.stat_to_value(e, e["max"])
            cur_mn, cur_mx = agg[c]
            agg[c] = (
                mn if cur_mn is None or mn < cur_mn else cur_mn,
                mx if cur_mx is None or mx > cur_mx else cur_mx,
            )
    return agg


def fledir_sum(path: str, columns: list[str]) -> dict:
    """Metadata-only SUM over a committed fledir (flat or partitioned):
    {column: (sum, n_valid)} folded from the manifest's per-segment
    `sum`/`nv` stats with ZERO segment bytes read — the aggregate-
    pushdown shortcut generalized past what parquet footers can answer
    (footers keep min/max/null-count but no sum; the container's writer
    folds it on the encoded planes at commit time, `plane_sum`).  With
    `n_valid` alongside, AVG = sum / n_valid is exact too.  SQL
    semantics: NULL lanes never contribute, an all-NULL segment adds
    nothing, and a column with no valid lane anywhere answers
    (None, 0) — SUM of the empty set is NULL.  Decimal columns come
    back as exact `decimal.Decimal` via the manifest's scale tag;
    integer sums are arbitrary-precision (a table-wide sum may exceed
    int64 — callers cast deliberately).  Loud failures: a stats-less
    legacy manifest entry, and a column whose kind carries no sum stat
    (strings, dictionaries, doubles, timestamps) — answering from
    metadata that does not exist would mean silently scanning."""
    # column → [value sum, n_valid, last stats entry (None: no valid lane)]
    agg: dict[str, list] = {c: [0, 0, None] for c in columns}
    for root, name, stats_json in _committed_entries(path):
        if not stats_json:
            raise ValueError(
                f"fledir: segment {name!r} has a stats-less manifest "
                "entry — metadata SUM needs the stats written at "
                "commit time"
            )
        st = json.loads(stats_json)
        for c in columns:
            e = st.get(c)
            if e is None:
                raise KeyError(
                    f"fledir: column {c!r} missing from segment "
                    f"{name!r} stats"
                )
            nv = e.get("nv")
            if nv == 0 or e["min"] is None:
                continue  # all-NULL segment: contributes nothing
            if "sum" not in e or nv is None:
                raise ValueError(
                    f"fledir: column {c!r} carries no sum stat in "
                    f"segment {name!r} — either the kind is not "
                    "summable (string/dict/double/temporal) or the "
                    "manifest predates the sum stat (rewrite or "
                    "compact the table to refresh it)"
                )
            a = agg[c]
            a[0] += int(e["sum"])
            a[1] += int(nv)
            a[2] = e
    return {
        c: (None, 0) if e is None else (fle_kinds.stat_to_value(e, total), nv)
        for c, (total, nv, e) in agg.items()
    }


def fledir_history(path: str) -> list[tuple]:
    """The commit timeline of ONE fledir directory:
    [(generation, n_segments, n_rows, readable), ...] ascending, folded
    from the `_history/` snapshot manifests alone (zero segment bytes;
    row counts from each snapshot's `__rows__` stats).  `readable`
    reports whether a generation read would succeed TODAY: every
    snapshot name still live or `.retired` — vacuum expires snapshots
    by reclaiming retired segments.  Deliberately carries no wall-clock
    timestamps: commit time is nondeterministic machine state, and the
    table's history must hash identically across reruns (pass
    timestamps through your own audit columns if you need them)."""
    out: list[tuple] = []
    for gen in _history_generations(path):
        snap = sealed_dir.read_manifest(sealed_dir.history_path(path, gen))
        n_rows = 0
        readable = True
        for name, stats_json in snap or ():
            stats = _entry_stats(stats_json) or {}
            n_rows += int(stats.get("__rows__") or 0)
            live = os.path.join(path, name)
            if not (
                os.path.exists(live) or os.path.exists(live + ".retired")
            ):
                readable = False
        out.append((gen, len(snap or ()), n_rows, readable))
    return out


def expire_fledir_snapshots(path: str) -> dict:
    """Drop every `_history/` snapshot that is no longer fully readable
    (some segment neither live nor retired) — the bookkeeping half of
    snapshot expiry; `vacuum_fledir` calls this after reclaiming
    retired files so the timeline never advertises generations a read
    would fail on.  The CURRENT generation is always readable (its
    manifest IS `_DONE`) and is never dropped."""
    dropped: list[int] = []
    for gen, _segs, _rows, readable in fledir_history(path):
        if not readable:
            try:
                os.remove(sealed_dir.history_path(path, gen))
                dropped.append(gen)
            except OSError:
                pass
    return {"path": path, "snapshots_dropped": dropped}


def materialize_fle_sum_dir(spark, sf_dir: str) -> str:
    """Write-once: the metadata-SUM fixture — lineitem reduced to one
    nullable int column (quantity, NULLed on every 7th orderkey so the
    null-exclusion path is live), one SIGNED int column (the discount
    recentered to −5..5, exercising the offset kind's base·n_valid
    term), and one decimal(12,2) column (unscaled-integer sum +
    scale-tag restore).  8 hash-scattered segments: nothing about the
    layout helps the aggregate — the manifest alone must."""
    from pyspark.sql import functions as F

    def build(out):
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select(
                F.when(
                    F.col("l_orderkey") % 7 != 0,
                    F.col("l_quantity").cast("long"),
                ).alias("qty"),
                (
                    F.round(F.col("l_discount") * 100).cast("long") - F.lit(5)
                ).alias("disc"),
                F.col("l_extendedprice").cast("decimal(12,2)").alias(
                    "price_dec"
                ),
            )
            .repartition(8)
        )
        write_fledir(frame, [
            ("qty", None, None), ("disc", np.int64, None),
            ("price_dec", None, ("dec", 12, 2)),
        ], out)

    return _fle_asset(spark, sf_dir, "fle_sum", build)


def materialize_fle_bloom_dir(spark, sf_dir: str) -> str:
    """Write-once: the bloom point-lookup fixture — lineitem keyed by a
    synthetic high-cardinality row id (``rid = l_orderkey·10 +
    l_linenumber``) plus its md5 fingerprint string, HASH-SCATTERED
    into 8 segments so every segment's min/max interval spans nearly
    the whole domain (stats pruning is provably useless — the layout a
    real id column has after any shuffle).  Written with
    ``bloomcols=rid,fp`` so each segment carries a bloom sidecar for
    the int id (splitmix-hashed value space) and the plain-string
    fingerprint (CRC-pair hashed), the two hash domains of
    hash-util.h:44-95."""
    from pyspark.sql import functions as F

    def build(out):
        rid = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select(
                rid.alias("rid"),
                F.md5(rid.cast("string")).alias("fp"),
                F.col("l_quantity").cast("long").alias("qty"),
            )
            .repartition(8, "rid")
        )
        write_fledir(frame, [
            ("rid", np.int64, None), ("fp", None, "str_plain"),
            ("qty", np.int64, None),
        ], out, bloomcols="rid,fp")

    return _fle_asset(spark, sf_dir, "fle_bloom", build)


def materialize_fle_history_dir(spark, sf_dir: str) -> str:
    """Write-once: the TIME-TRAVEL fixture — three committed
    generations of one flat fledir.  Gen 1 (overwrite): lineitem rows
    shipped before 1997.  Gen 2 (append): the 1997+ rows.  Gen 3:
    in-place compaction (`compact_fledir`), which RETIRES the gen-1/2
    segments behind merged ones — so generation 2 stays bit-readable
    through its retired sources while the live table reads the merged
    layout.  The timeline in `_history/` then has a snapshot per
    commit, and a generation-1 read must reproduce exactly the
    pre-append subset."""
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        compact_fledir,
    )

    def build(out):
        base = _table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.col("l_quantity").cast("long").alias("l_quantity"),
            "l_shipdate",
        )
        # the append phase offsets its segment ids: a reused name would
        # REWRITE a gen-1 segment instead of extending the table
        for mode, seg_base, pred in (
            ("overwrite", 0, F.col("l_shipdate") < "1997-01-01"),
            ("append", 10_000, F.col("l_shipdate") >= "1997-01-01"),
        ):
            frame = (
                base.filter(pred)
                .select("l_returnflag", "l_quantity")
                .repartition(4)
            )
            write_fledir(frame, _FLAG_QTY, out, mode, seg_base=seg_base)
        compact_fledir(spark, out)

    return _fle_asset(spark, sf_dir, "fle_history", build)


def materialize_fle_stream_sink_dir(spark, sf_dir: str) -> str:
    """Write-once: the STREAM-SINK fixture — lineitem (flag, quantity)
    committed as a 4-segment fledir FEED, then copied
    feed → `readStream` → `writeStream.format("fledir")` →
    SINK table under `trigger(availableNow)` with a checkpoint: the
    whole streaming loop (offset = file-name set on the read side,
    deterministic per-epoch names + prefix-replacement commits on the
    write side) exercised end-to-end, leaving a committed fledir the
    batch reader and the oracle then certify row-for-row."""
    from pyspark.sql import functions as F

    def build(root):
        feed = os.path.join(root, "feed")
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select(
                "l_returnflag",
                F.col("l_quantity").cast("long").alias("l_quantity"),
            )
            .repartition(4)
        )
        write_fledir(frame, _FLAG_QTY, feed)
        q = (
            spark.readStream.format("fledir")
            .option("path", feed)
            .load()
            .writeStream.format("fledir")
            .option("path", os.path.join(root, "sink"))
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        q.stop()
        if not finished:
            # a timed-out availableNow run left a PARTIAL sink: fail
            # loudly so it is never published
            raise RuntimeError(
                "fledir stream-sink fixture: the availableNow copy did "
                "not finish within 300s — partial sink NOT published"
            )

    root = _fle_asset(spark, sf_dir, "fle_stream_sink", build)
    return os.path.join(root, "sink")


def materialize_fle_partitioned_dir(spark, sf_dir: str) -> str:
    """Write-once: a HIVE-STYLE PARTITIONED fledir — lineitem split
    into ``l_returnflag=A/N/R`` subdirectories (each its own committed
    fledir of (l_linestatus, l_quantity) segments, quantity-sorted so
    the manifest stats stay selective WITHIN a kept partition).  The
    per-partition-location + partition-key-literal table model of
    descriptors.h:178-262: the key column is never stored in the
    segments, conjuncts on it prune whole directories on the driver,
    and the reader materializes it from the directory name."""
    from pyspark.sql import functions as F

    def build(out):
        base = _table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus",
            F.col("l_quantity").cast("long").alias("l_quantity"),
        )
        # one committed write per key — the per-partition descriptor
        # model; the key set is tiny and known (a real partitioned sink
        # would shuffle by key first)
        for value in ("A", "N", "R"):
            frame = (
                base.filter(F.col("l_returnflag") == value)
                .select("l_linestatus", "l_quantity")
                .repartitionByRange(4, "l_quantity")
                .sortWithinPartitions("l_quantity")
            )
            write_fledir(frame, [
                ("l_linestatus", None, None), ("l_quantity", np.int64, None),
            ], os.path.join(out, f"l_returnflag={value}"))

    return _fle_asset(spark, sf_dir, "fle_partitioned", build)


def materialize_fle_docs_dir(spark, sf_dir: str) -> str:
    """Write-once: the DOCUMENTS table with its near-unique free-text
    column stored through the PLAIN byte-array kind — the reference
    writer's dictionary fallback surface
    (hdfs-parquet-table-writer.cc:59's MAX_DICTIONARY_ENTRIES, fallback
    flush 466-620).  `text` is explicitly hinted plain (a dictionary of
    ~distinct documents pays nothing and the u16 code domain caps at
    65535 entries — the encoder also falls back AUTOMATICALLY past the
    cap, test-pinned); `lang`/`source` stay low-cardinality
    order-preserving dictionaries, so one segment carries both string
    representations side by side."""

    def build(out):
        frame = _table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "text", "n_chars"
        )
        write_fledir(frame, [
            ("doc_id", np.int64, None), ("lang", None, None),
            ("source", None, None), ("text", None, "str_plain"),
            ("n_chars", np.int64, None),
        ], out)

    return _fle_asset(spark, sf_dir, "fle_docs", build)


def materialize_fle_two_key_dir(spark, sf_dir: str) -> str:
    """Write-once: a TWO-LEVEL hive-style partitioned fledir —
    ``l_returnflag=X/l_linestatus=Y/`` nested directories (3×2 leaves),
    each its own committed quantity-sorted fledir of (l_quantity,
    l_linenumber) segments.  The reference's clustering columns are
    plural (num_clustering_cols, descriptors.h:154-162); conjuncts on
    BOTH keys must be consumed on the driver."""
    from pyspark.sql import functions as F

    def build(out):
        base = _table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus",
            F.col("l_quantity").cast("long").alias("l_quantity"),
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
        )
        for rf in ("A", "N", "R"):
            for ls in ("F", "O"):
                frame = (
                    base.filter(
                        (F.col("l_returnflag") == rf)
                        & (F.col("l_linestatus") == ls)
                    )
                    .select("l_quantity", "l_linenumber")
                    .repartitionByRange(2, "l_quantity")
                    .sortWithinPartitions("l_quantity")
                )
                write_fledir(frame, [
                    ("l_quantity", np.int64, None),
                    ("l_linenumber", np.int64, None),
                ], os.path.join(
                    out, f"l_returnflag={rf}", f"l_linestatus={ls}"
                ))

    return _fle_asset(spark, sf_dir, "fle_two_key", build)


def materialize_fle_multi_dir(spark, sf_dir: str) -> str:
    """Write-once: the GENERAL container shape — four lineitem columns
    (two order-preserving dictionary strings + one nullable int + one
    plain int) in one segment stream, matching the reference's
    one-scanner-per-slot column model (hdfs-parquet-scanner.cc:
    1410-1451) rather than the two-column demo."""
    from pyspark.sql import functions as F

    def build(out):
        qty = F.col("l_quantity")
        frame = _table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus",
            F.when(qty != 10, qty).alias("l_quantity"),  # NaN marks NULL
            "l_linenumber",
        )
        write_fledir(frame, [
            ("l_returnflag", None, None), ("l_linestatus", None, None),
            ("l_quantity", None, None), ("l_linenumber", np.int64, None),
        ], out)

    return _fle_asset(spark, sf_dir, "fle_multi", build)


def materialize_fle_fact_dir(spark, sf_dir: str) -> str:
    """Write-once: a FACT-shaped container — lineitem's join key
    (l_suppkey), measure (l_quantity) and a dictionary string
    (l_returnflag) — the layout the runtime-filter path scans: a
    join-produced key set pushes as an IN conjunct and runs as code
    kernels on the l_suppkey planes (§2A #11 on the container)."""

    def build(out):
        frame = _table(spark, sf_dir, "lineitem").select(
            "l_suppkey", "l_quantity", "l_returnflag"
        )
        write_fledir(frame, [
            ("l_suppkey", np.int64, None), ("l_quantity", np.int64, None),
            ("l_returnflag", None, None),
        ], out)

    return _fle_asset(spark, sf_dir, "fle_fact", build)


def materialize_fle_zorder_dir(spark, sf_dir: str) -> str:
    """Write-once: lineitem (l_returnflag, l_quantity, price) laid out
    by the MORTON (Z-order) key of (l_quantity, price) — the
    two-dimensional generalization of the sorted layout, reusing the
    engine's JVM-side `zorder_value` bit-interleave (the parquet sink's
    Z-order path).  Each segment covers a narrow 2-D box, so the
    manifest's per-column min/max refute files for range predicates on
    EITHER dimension (a single-column sort gives one dimension locality
    and leaves the other spanning the full domain) — the 2-D form of
    the reference's order-preserving layout trick (dict-encoding.h:
    393-406 made spatial).  The price column rides the sortable-bits
    f64 kind, so its manifest stats and kernels answer fractional
    range literals exactly."""
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.sources.parquet_io import (
        zorder_value,
    )

    def build(out):
        df = _table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            "l_quantity",
            F.col("l_extendedprice").alias("price"),
        )
        # column min/max from one aggregate, broadcast as a single row
        # (no driver round-trip in the plan) — same recipe as the
        # parquet sink
        stats = df.agg(
            F.min("l_quantity").alias("_mna"),
            F.max("l_quantity").alias("_mxa"),
            F.min("price").alias("_mnb"),
            F.max("price").alias("_mxb"),
        )
        z = zorder_value(
            F.col("l_quantity"), F.col("price"),
            F.col("_mna"), F.col("_mxa"), F.col("_mnb"), F.col("_mxb"),
        )
        frame = (
            df.crossJoin(F.broadcast(stats))
            .withColumn("_z", z)
            .repartitionByRange(16, "_z")
            .sortWithinPartitions("_z")
            .select("l_returnflag", "l_quantity", "price")
        )
        write_fledir(frame, _FLAG_QTY + [("price", None, "f64")], out)

    return _fle_asset(spark, sf_dir, "fle_zorder", build)
