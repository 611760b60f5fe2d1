"""fledir maintenance: compaction, merge, delete, retention and vacuum.

A streaming or micro-batched writer leaves a fledir table as thousands
of tiny segments — each one a manifest entry, a file open, a header
parse, and a too-small unit of columnar work.  The reference engine has
the same operational problem with small parquet files and solves it the
same way every table format does: periodically rewrite many small files
into few large ones, preserving the data and the stats that make
pruning work (the reference's writer sizes files to the HDFS block for
exactly this reason — hdfs-parquet-table-writer.cc's row-group /
block-size file management, SURVEY §2A #17).

``compact_fledir`` is that rewrite for the fledir container:

- **planning is metadata-only** — bins are packed from the committed
  manifest's per-segment row counts (the ``__rows__`` stats key), no
  segment bytes are read on the driver;
- **the rewrite is distributed** — one Spark task per bin reads its
  segment files, decodes them through the container's own codec, and
  re-encodes one merged segment inside an Arrow batch
  (``mapInPandas``), so a 100 TB table compacts with cluster
  parallelism, never through the driver;
- **the rewrite is INCREMENTAL** — only multi-file bins are rewritten
  (a segment already at target size is carried in the manifest
  untouched), so a periodic compaction of a streaming table costs
  O(new data), not O(table);
- **commit is atomic and surgical** — the rewrite tasks stage the
  merged segments under temp names and the driver commits them in one
  append through ``commit_fledir`` with the merged-away sources passed
  as ``retire`` (lineage promoted first, rename at commit, atomic
  ``_DONE`` swap, then the merged-away sources RETIRED
  — renamed ``<name>.retired``, invisible to every reader but still
  serving a checkpointed stream's replay until :func:`vacuum_fledir`
  reclaims them), so a reader never observes a half-compacted
  directory and a crashed compaction leaves the old table fully
  readable;
- **stats survive** — the encoder recomputes the manifest min/max and
  the per-chunk BSTA footer on the merged values, so all three pruning
  tiers (manifest → chunk → kernels) keep working on the compacted
  layout, with *tighter* per-file stats when the input was sorted
  (concatenation in manifest order preserves a sorted layout's global
  order within each bin).

Compaction, MERGE and DELETE are one segment rewrite with different
transforms: :func:`_rewrite_segments` is the only job that rewrites
committed segments.  It names the new segments from
``fresh_seg_base`` (never a committed name), parses each group of
sources in a Spark task of its own, encodes and stages the caller's
transform of them, stages any insert segments through ``write_fledir``'s
encoder in the same job, and commits everything from the driver as one
append with the sources retired.  MERGE and
DELETE pick their candidate segments with one metadata probe
(:func:`_dml_candidates`: the scan's own manifest-stats pruning, then
the bloom sidecars) and drop matched rows with one exact matcher
(:func:`_conjunct_rows`).

Every operation here walks a table's leaves through one function,
``fledir_layout``: a flat fledir is the layout with no key columns and
one leaf, so compaction, vacuum, merge and delete run one loop over
(kept) leaves whatever the layout.

Maintenance reads committed rows the way every reader does: the change
feed (:func:`fledir_changes`) runs the batch scan's `FleDirReader.read`,
and the rewrite input, :func:`segment_reencode_columns`, is the only
other caller of the segment decoder.  Row counts come from
``segment_row_count``, the one manifest-entry count.

The exact decode→re-encode round trip is :func:`segment_reencode_columns`:
for every column kind it reconstructs precisely the ``(name, values,
kind_hint)`` input :func:`encode_segment_columns` expects, including the
NULL convention per kind, so compaction is lossless by construction (and
pinned by tests against every kind).
"""
from __future__ import annotations

import contextlib
import functools
import os
import shutil

import numpy as np

from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.sources import fle_kinds, sealed_dir
from impala_avx2_parquet_scanner_spark.sources.fle_kinds import null_cells
from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    _FLAG_QTY,
    FleDirReader,
    ParsedSegment,
    SegmentStager,
    _FleFilesPartition,
    _encode_frame,
    _fle_asset,
    _manifest_entries,
    _read_lineage,
    _segment_ddl,
    _segment_file,
    _table,
    _write_lineage_pending,
    bloom_eq_in_conjuncts,
    bloom_sidecar_refutes,
    decode_segment_columns,
    encode_segment_columns,
    expire_fledir_snapshots,
    fledir_layout,
    fledir_row_count,
    fresh_seg_base,
    kept_leaves,
    parse_segment,
    probe_first_segment,
    segment_id,
    segment_row_count,
    write_fledir,
)

__all__ = [
    "segment_reencode_columns",
    "merge_segments_columns",
    "sort_merged_columns",
    "zorder_merged_columns",
    "plan_compaction_bins",
    "compact_fledir",
    "vacuum_fledir",
    "expire_fledir_partitions",
    "merge_fledir",
    "delete_fledir",
    "fledir_changes",
    "materialize_fle_compact_dir",
]


def segment_reencode_columns(seg: ParsedSegment) -> list[tuple]:
    """Parsed segment → the exact ``(name, values, kind_hint)`` list
    that re-encodes to an equivalent segment: each kind's values in its
    encoder's NULL convention and its hint (`ColumnKind.writer_values`
    and `.hint`).  Dictionary strings pass no hint, so the writer's
    dictionary-vs-plain policy (the 2^16-1 cap fallback) re-decides on
    the MERGED cardinality; a double's NaN lane is a NULL, since the
    'f64' encoder refused genuine NaN data at the original write."""
    cols = decode_segment_columns(seg)
    return [
        (c.name, c.spec.writer_values(c, *cols[c.name]), c.spec.hint(c))
        for c in seg.columns
    ]


def _all_null(values) -> bool:
    """True iff every lane of a re-encode values array is a NULL marker
    (None / NaN / NaT per the kind conventions)."""
    arr = np.asarray(values)
    if arr.dtype == object:
        return bool(null_cells(arr).all())
    if arr.dtype.kind == "f":
        return bool(np.isnan(arr).all())
    if arr.dtype.kind == "M":
        return bool(np.isnat(arr).all())
    return arr.size == 0


def _merge_hint(name: str, hints: set):
    """One hint for a merged column whose source segments disagree.
    Disagreement is rare and always writer-policy-shaped: a numeric
    column that was all-non-negative in one segment (int planes) but
    signed in another (offset), or a string column that fell back to
    plain bytes in a high-cardinality segment while staying dictionary
    in another.  The union is the permissive kind; anything else is a
    genuine schema conflict and fails loudly."""
    if len(hints) == 1:
        return next(iter(hints))
    if hints == {"int", "offset"}:
        return "offset"
    if hints == {None, "str_plain"}:
        return None  # writer re-decides dict-vs-plain on merged values
    raise ValueError(
        f"fledir compaction: column {name!r} has incompatible kinds "
        f"across segments: {sorted(map(str, hints))}"
    )


def merge_segments_columns(segs: list[ParsedSegment]) -> list[tuple]:
    """Concatenate N parsed segments column-wise into one re-encodable
    column list.  Segment schemas must agree on the column-name set
    (the container's homogeneity contract); order follows the first
    segment."""
    names = [c.name for c in segs[0].columns]
    name_set = set(names)
    for s in segs[1:]:
        if {c.name for c in s.columns} != name_set:
            raise ValueError(
                "fledir compaction: segments disagree on column names: "
                f"{sorted(name_set)} vs {sorted(c.name for c in s.columns)}"
            )
    per_seg = [
        {e[0]: e for e in segment_reencode_columns(s)} for s in segs
    ]
    out: list[tuple] = []
    for name in names:
        entries = [p[name] for p in per_seg]
        # an ALL-NULL segment carries no type evidence: its stored kind
        # is whatever a hint-less empty inference defaulted to, so only
        # segments with at least one live lane vote on the merged hint
        # (review finding: one all-NULL segment of a nullable typed
        # column made _merge_hint raise on a perfectly scannable table)
        nullish = [_all_null(e[1]) for e in entries]
        live = [e for e, an in zip(entries, nullish) if not an]
        if live:
            hint = _merge_hint(name, {e[2] for e in live})
            values = np.concatenate([
                fle_kinds.for_hint(hint).null_fill(np.asarray(e[1]).size)
                if an else np.asarray(e[1])
                for e, an in zip(entries, nullish)
            ])
        else:
            hints = {e[2] for e in entries}
            hint = next(iter(hints)) if len(hints) == 1 else None
            values = np.concatenate(
                [np.asarray(e[1], dtype=object) for e in entries]
            )
        out.append((name, values, hint))
    return out


def sort_merged_columns(cols: list[tuple], sort_by: str) -> list[tuple]:
    """Reorder every merged column by `sort_by` ascending, NULLS LAST
    (Spark's default sort order).  A compaction that merges a
    locally-sorted layout's bins concatenates runs — re-sorting inside
    each merged segment restores monotone per-chunk BSTA stats, so the
    mid-file skip tier stays as selective after compaction as the
    original small segments' manifest stats were before it."""
    entry = next((e for e in cols if e[0] == sort_by), None)
    if entry is None:
        raise ValueError(
            f"fledir compaction: sort_by column {sort_by!r} not in "
            f"segment columns {[e[0] for e in cols]}"
        )
    vals = np.asarray(entry[1])
    if vals.dtype == object:
        # split NULLs out, then materialize the valid keys as a TYPED
        # numpy array so argsort runs vectorized ('<U…' for strings,
        # int64 for ints) instead of a per-element Python-object sort
        # — 2.5x on a string-sorted 1M-row merge (VERDICT r9 #7;
        # MICROBENCH.md row).  Keys numpy cannot type
        # (Decimal, datetime objects, mixed) keep the object sort.
        nulls = null_cells(vals)
        valid_idx = np.flatnonzero(~nulls)
        key = vals[valid_idx]
        try:
            typed = np.asarray(key.tolist())
            if typed.dtype == object:
                raise TypeError("untypeable sort key")
            sub = np.argsort(typed, kind="stable")
        except (TypeError, ValueError, OverflowError):
            sub = np.asarray(
                sorted(range(key.size), key=key.__getitem__),
                dtype=np.int64,
            )
        # NULLS LAST, original order preserved within ties and NULLs
        order = np.concatenate([valid_idx[sub], np.flatnonzero(nulls)])
    else:
        # native dtypes: stable argsort already puts NaN/NaT last —
        # exactly the NULL markers of the f64/ts/date conventions
        order = np.argsort(vals, kind="stable")
    return [
        (name, np.asarray(values)[order], *rest)
        for name, values, *rest in cols
    ]


def plan_compaction_bins(
    path: str, target_rows: int
) -> list[list[str]]:
    """Greedy first-fit bins over the committed manifest, in NUMERIC
    segment-id order (ids increase over a table's lifetime, so this is
    write order — a sorted layout's global order survives the merge,
    and a prior generation's big merged files never interleave
    lexically with newly appended tiny ones and split their bins);
    names without a numeric id fall back to manifest order after the
    numbered ones.  A single segment already at or above
    ``target_rows`` keeps its own bin.  Metadata-only: reads ``_DONE``
    (and, for legacy stats-less manifests, 14 header bytes per
    file)."""
    def order_key(item):
        sid = segment_id(item[0])
        return (1, item[0]) if sid is None else (0, sid)

    entries = sorted(_manifest_entries(path), key=order_key)
    bins: list[list[str]] = []
    cur: list[str] = []
    cur_rows = 0
    for name, s in entries:
        rows = segment_row_count(path, name, s)
        if cur and cur_rows + rows > target_rows:
            bins.append(cur)
            cur, cur_rows = [], 0
        cur.append(name)
        cur_rows += rows
    if cur:
        bins.append(cur)
    return bins


def _rewrite_segments(
    spark, path: str, groups: "list[list[str]]", transform, *,
    inserts=None, bloomcols: "str | None" = None, lineage: bool = False,
) -> None:
    """The one segment-rewrite job of compaction, merge and delete.
    Each group of committed segment names becomes ONE new segment: a
    Spark task parses the group's files, encodes
    ``transform(parsed_segments)`` (a column list for
    :func:`encode_segment_columns`) and stages it
    (:class:`SegmentStager`).  `inserts`, a ``(frame, columns)`` pair in
    :func:`write_fledir`'s column spec, stages further new segments in the
    same job.  The driver commits everything in ONE atomic append
    (:func:`commit_fledir`) whose new names start at ``fresh_seg_base``
    (a new name never reuses a replaced one), with every grouped source
    retired — a failed or crashed rewrite leaves the old table intact,
    and the replaced generation stays time-travel readable until vacuum.
    `lineage` stages merged name → source names before the job and has
    the commit promote it (compaction's stream-safety map); `bloomcols`
    builds sidecars for the new segments (compaction passes none, so
    its output drops them).  No group and no inserts: no commit."""
    if not groups and inserts is None:
        return
    base = fresh_seg_base(path)
    if lineage:
        # staged BEFORE the job: each merged name maps to its immediate
        # source names, and prior generations' entries are kept so a
        # checkpoint holding any generation's names still resolves (the
        # stream's covered() recursion).  The commit promotes `.pending`
        # to `_LINEAGE` atomically BEFORE the merged names appear; a
        # crashed job leaves it inert.
        staged = _read_lineage(path)
        for i, g in enumerate(groups):
            staged[f"seg_{base + i}.fle"] = sorted(g)
        _write_lineage_pending(path, staged)
    stage = SegmentStager(path, bloomcols)

    @trims
    def rewrite(batches):
        for pdf in batches:
            for seg_id, paths in zip(pdf["seg_id"], pdf["paths"]):
                segs = []
                for p in paths:
                    with open(p, "rb") as fh:
                        segs.append(parse_segment(fh.read()))
                yield stage(
                    int(seg_id), encode_segment_columns(transform(segs))
                )

    frame = (
        spark.createDataFrame(
            [
                (base + i, [os.path.join(path, n) for n in g])
                for i, g in enumerate(groups)
            ],
            "seg_id long, paths array<string>",
        )
        .repartition(max(len(groups), 1))
        .mapInPandas(rewrite, schema=stage.SCHEMA)
    )
    if inserts is not None:
        frame = frame.unionByName(
            _encode_frame(*inserts, base + len(groups), stage)
        )
    stage.commit(
        frame, retire={n for g in groups for n in g}, promote_lineage=lineage
    )


def _compact_leaf(
    spark, path: str, target_rows: int, sort_by: "str | None" = None,
    zorder_by: "tuple[str, str] | None" = None,
) -> dict:
    bins = plan_compaction_bins(path, target_rows)
    n_before = sum(len(b) for b in bins)
    # INCREMENTAL: only multi-file bins are rewritten (review finding —
    # re-encoding a 10M-row segment that is already at target size made
    # every maintenance cycle O(table) instead of O(new data)); kept
    # files stay untouched in the manifest via the append-mode commit
    bins = [b for b in bins if len(b) > 1]
    n_sources = sum(len(b) for b in bins)
    report = {
        "path": path,
        "files_before": n_before,
        "files_after": n_before - n_sources + len(bins),
        "files_retired": n_sources,
        "compacted": bool(bins),
    }
    if not bins:  # every bin is a single file: no-op
        return report

    def merged(segs):
        cols = merge_segments_columns(segs)
        if zorder_by is not None:
            return zorder_merged_columns(cols, *zorder_by)
        if sort_by is not None:
            return sort_merged_columns(cols, sort_by)
        return cols

    _rewrite_segments(spark, path, bins, merged, lineage=True)
    return report


def compact_fledir(
    spark, path: str, target_rows: int = 1 << 20,
    sort_by: "str | None" = None,
    zorder_by: "tuple[str, str] | None" = None,
) -> dict:
    """Compact a fledir table (flat or hive-partitioned) in place.

    Partitioned roots compact each leaf directory independently — the
    partition-key directories ARE the layout, so compaction never moves
    a row across partitions.  Returns a report with before/after file
    counts (aggregated over leaves).  ``target_rows`` bounds each merged
    segment's row count, which in turn bounds per-task memory in the
    rewrite (one bin's decoded columns); size it like
    ``maxRecordsPerFile`` on the parquet sink.  ``sort_by`` re-sorts
    each merged segment's rows by that column (ascending, NULLS last)
    before encoding — restores monotone per-chunk BSTA stats when the
    input was locally sorted (see :func:`sort_merged_columns`).

    ``zorder_by=(col_a, col_b)`` instead re-sorts each merged segment
    by the MORTON key of two numeric columns — OPTIMIZE ZORDER as a
    rewrite of existing data (see :func:`zorder_merged_columns`);
    mutually exclusive with ``sort_by``.

    STREAM-SAFE: the streaming reader's offset is the processed
    file-name set, so a naive rewrite would make a checkpointed stream
    re-emit every merged row.  Compaction therefore records a lineage
    sidecar (merged name → immediate source names, prior generations
    kept) staged before the job and promoted atomically by the
    commit; the stream absorbs a merged file whose sources
    were all processed, emits one whose sources were all unprocessed,
    and refuses loudly on a partial overlap (see FleStreamReader.read
    — the file-format analog of Delta's remove-actions)."""
    if target_rows <= 0:
        raise ValueError("fledir compaction: target_rows must be positive")
    if sort_by is not None and zorder_by is not None:
        raise ValueError(
            "fledir compaction: sort_by and zorder_by are mutually "
            "exclusive"
        )
    reports = [
        _compact_leaf(spark, leaf, target_rows, sort_by, zorder_by)
        for _, leaf in fledir_layout(path)[1]
    ]
    return {
        "path": path,
        "leaves": len(reports),
        "files_before": sum(r["files_before"] for r in reports),
        "files_after": sum(r["files_after"] for r in reports),
        "files_retired": sum(r["files_retired"] for r in reports),
        "compacted": any(r["compacted"] for r in reports),
    }


def _vacuum_one_leaf(leaf: str) -> int:
    """Delete one leaf's `.retired` files, then expire the `_history/`
    snapshots those files were keeping readable (a timeline must never
    advertise a generation a read would fail on); → count removed.
    Module level so the distributed path can ship it to executors."""
    removed = 0
    for f in os.listdir(leaf):
        if f.endswith(".retired"):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(leaf, f))
                removed += 1
    expire_fledir_snapshots(leaf)
    return removed


def _per_leaf_job(spark, leaves: list, fn) -> int:
    """Run `fn(leaf) -> int` over every leaf and sum the counts — as a
    Spark job when a session is supplied (each task owns whole leaves,
    so any per-leaf ordering inside `fn` is preserved), else a driver
    loop.  A 100k-leaf object-store table makes the driver-side
    sequential listdir/delete loop the bottleneck (VERDICT r9 #5);
    leaf-level fan-out is the same shape as `_compact_leaf`'s
    distributed rewrite."""
    if spark is None or len(leaves) <= 1:
        return sum(fn(leaf) for leaf in leaves)
    sc = spark.sparkContext
    return sum(
        sc.parallelize(sorted(leaves), min(len(leaves), 64))
        .map(fn)
        .collect()
    )


def vacuum_fledir(path: str, spark=None) -> dict:
    """Reclaim retired segment files (flat or partitioned root).
    Compaction RETIRES its merged-away sources (`<name>.retired`,
    invisible to every reader) instead of deleting them, so a
    checkpointed stream can replay a batch planned before the
    compaction; vacuum is the operator's statement that no such replay
    is pending (the Delta VACUUM half of the remove-action split).
    Lineage entries stay — the stream's coverage check needs only
    names, never bytes.  Pass `spark` to run the per-leaf deletion as
    a distributed job (one task per group of leaves) instead of a
    driver-side loop."""
    leaves = [leaf for _, leaf in fledir_layout(path)[1]]
    removed = _per_leaf_job(spark, leaves, _vacuum_one_leaf)
    return {"path": path, "files_removed": removed}


def materialize_fle_compact_dir(spark, sf_dir: str) -> str:
    """Write-once: lineitem (l_returnflag, l_quantity) deliberately
    written as MANY TINY segments (a micro-batched writer's layout),
    then compacted in place by :func:`compact_fledir` before the asset
    is published."""

    def build(out):
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_quantity")
            # many small input partitions → many tiny segments: the
            # layout a micro-batched/streaming writer accumulates
            .repartition(48)
        )
        write_fledir(frame, _FLAG_QTY, out)
        compact_fledir(spark, out, target_rows=100_000)
        vacuum_fledir(out)  # fixture has no checkpointed stream to serve

    return _fle_asset(spark, sf_dir, "fle_compact", build)


def zorder_merged_columns(
    cols: list[tuple], col_a: str, col_b: str, bits: int = 16
) -> list[tuple]:
    """Reorder every merged column by the MORTON (Z-order) key of two
    numeric columns.  Scope is honest and per-segment: a within-bin
    reorder cannot tighten FILE-level manifest stats (each merged file
    still spans its input rows' full 2-D range) — what it buys is the
    CHUNK tier: after the Z-sort, each BSTA chunk covers a narrow 2-D
    box, so the mid-file skip refutes chunk windows for range
    predicates on EITHER dimension (test-pinned: summed per-chunk
    spans shrink several-fold on both columns vs an unordered merge).
    File-level 2-D pruning needs the global range-partitioned Z layout
    the ingest path writes (`materialize_fle_zorder_dir`).  Quantizes
    both columns to `bits` over their merged min/max (NULLs sort last,
    like :func:`sort_merged_columns`); numpy bit-interleave mirrors
    the JVM-side `zorder_value` of the parquet sink."""

    def quantized(name: str) -> tuple[np.ndarray, np.ndarray]:
        entry = next((e for e in cols if e[0] == name), None)
        if entry is None:
            raise ValueError(
                f"fledir compaction: zorder_by column {name!r} not in "
                f"segment columns {[e[0] for e in cols]}"
            )
        raw = np.asarray(entry[1])
        if raw.dtype == object:
            nulls = null_cells(raw)
            vals = np.array(
                [0.0 if n else float(v) for v, n in zip(raw, nulls)]
            )
        else:
            vals = raw.astype(np.float64)
            nulls = np.isnan(vals)
            vals = np.where(nulls, 0.0, vals)
        ok = ~nulls
        lo = vals[ok].min() if ok.any() else 0.0
        hi = vals[ok].max() if ok.any() else 0.0
        span = (hi - lo) or 1.0
        q = np.clip(
            ((vals - lo) / span * ((1 << bits) - 1)).astype(np.uint64),
            0, (1 << bits) - 1,
        )
        return q, nulls

    qa, na = quantized(col_a)
    qb, nb = quantized(col_b)
    z = np.zeros(qa.size, dtype=np.uint64)
    for i in range(bits):
        z |= ((qa >> np.uint64(i)) & np.uint64(1)) << np.uint64(2 * i)
        z |= ((qb >> np.uint64(i)) & np.uint64(1)) << np.uint64(2 * i + 1)
    # NULL in either dimension sorts after every real point
    z = np.where(na | nb, np.uint64(~np.uint64(0)), z)
    order = np.argsort(z, kind="stable")
    return [
        (name, np.asarray(values)[order], *rest)
        for name, values, *rest in cols
    ]


def _cutoff_comparable(v, cutoff) -> bool:
    """True iff a partition-key value and the retention cutoff share a
    comparison domain.  bool is excluded from the numeric family on
    BOTH sides (Python's `isinstance(True, int)` would let a boolean
    cutoff silently compare against int keys — VERDICT r9)."""
    if isinstance(v, bool) or isinstance(cutoff, bool):
        return type(v) is type(cutoff)
    if isinstance(v, (int, float)) and isinstance(cutoff, (int, float)):
        return True
    return type(v) is type(cutoff)


def _expire_one_leaf(leaf: str, root: "str | None" = None) -> int:
    """Retire one expired leaf; → rows dropped (from its manifest,
    zero segment bytes).  The leaf's `_DONE` is removed FIRST (readers
    planning afterwards see an uncommitted leaf and skip it — nothing
    is half-seen), then its files, then the empty directory.  Module
    level so the distributed path can ship it to executors; the
    unseal→delete ordering lives INSIDE the per-leaf unit, so the
    fan-out preserves it."""
    rows = fledir_row_count(leaf)
    sealed_dir.discard(os.path.join(leaf, sealed_dir.DONE))  # unseal FIRST
    # then the files and the leaf's snapshot timeline (_history/)
    shutil.rmtree(leaf, ignore_errors=True)
    # prune now-empty intermediate key directories up to (never
    # including) the table root — expiring every day= leaf under a
    # status must not strand an empty status= directory.  rmdir on a
    # non-empty parent raises and stops the walk; two tasks racing on a
    # shared parent resolve the same way (one wins, the other's ENOENT
    # lands here too).
    if root is not None:
        p = os.path.dirname(os.path.abspath(leaf))
        with contextlib.suppress(OSError):
            while p != os.path.abspath(root):
                os.rmdir(p)
                p = os.path.dirname(p)
    return rows


def expire_fledir_partitions(
    path: str, cutoff, *, key: "str | None" = None, spark=None
) -> dict:
    """RETENTION delete on a hive-partitioned fledir: atomically drop
    every leaf directory whose `key` partition value compares strictly
    below `cutoff` (the typed value the directory name parses to —
    int keys compare numerically, string keys lexically).  `key`
    defaults to the LEADING partition key; any level of a multi-key
    layout works (a ``year=…/month=…`` table can expire on `month` —
    the reference's per-partition model is n-level,
    descriptors.h:178-262).

    The unit of deletion is the PARTITION: no segment is rewritten, no
    manifest edited — each expired leaf's `_DONE` is removed FIRST
    (readers planning afterwards see a missing manifest and skip
    nothing silently: discovery lists only committed leaves), then its
    files, then the empty directory.  Expiring never touches a kept
    leaf, so a crash mid-expire leaves a smaller-but-valid table.
    Pass `spark` to distribute the per-leaf retire work as a Spark job
    (one task per group of leaves; the unseal→delete ordering holds
    inside each leaf).  Returns {partitions_dropped, partitions_kept,
    rows_dropped} (rows from the manifests — zero segment bytes
    read)."""
    keys, leaves = fledir_layout(path)
    if not keys:
        raise ValueError(
            f"fledir: {path} is not hive-partitioned — retention "
            "expiry drops whole col=value partitions"
        )
    ki = 0
    if key is not None:
        if key not in keys:
            raise ValueError(
                f"fledir: retention key {key!r} is not a partition "
                f"key of this layout (keys: {keys})"
            )
        ki = keys.index(key)
    expired: list[str] = []
    kept = 0
    for values, leaf in leaves:
        v = values[ki]
        if not _cutoff_comparable(v, cutoff):
            raise TypeError(
                f"fledir: cutoff {cutoff!r} does not compare against "
                f"partition key value {v!r}"
            )
        if v < cutoff:
            expired.append(leaf)
        else:
            kept += 1
    rows_dropped = _per_leaf_job(
        spark, expired, functools.partial(_expire_one_leaf, root=path)
    )
    return {
        "partitions_dropped": len(expired),
        "partitions_kept": kept,
        "rows_dropped": rows_dropped,
    }


def materialize_fle_retention_dir(spark, sf_dir: str) -> str:
    """Write-once: lineitem partitioned by ``ship_year=YYYY`` leaves,
    then the pre-1997 partitions RETIRED through
    :func:`expire_fledir_partitions` before the asset is published.
    What remains is the post-retention table the `scan_fle_retention`
    query certifies against the raw rows."""
    from pyspark.sql import functions as F

    def build(root):
        df = _table(spark, sf_dir, "lineitem").select(
            F.year("l_shipdate").alias("ship_year"),
            F.col("l_quantity").cast("long").alias("l_quantity"),
        )
        # bounded partition-key discovery for the write-once fixture build
        # (~7 distinct years — the same driver-side dimension
        # materialization Spark's own partitioned writes perform)
        years = [
            r["ship_year"]
            for r in df.select("ship_year").distinct().collect()
        ]
        for y in sorted(years):
            write_fledir(
                df.filter(F.col("ship_year") == int(y)).select("l_quantity"),
                [("l_quantity", np.int64, None)],
                os.path.join(root, f"ship_year={int(y)}"),
            )
        expire_fledir_partitions(root, 1997)

    return _fle_asset(spark, sf_dir, "fle_retention", build)


def materialize_fle_retention_multi_dir(spark, sf_dir: str) -> str:
    """Write-once: lineitem as a TWO-LEVEL
    ``l_linestatus=X/ship_year=YYYY`` hive layout, then the pre-1996
    years RETIRED on the SECOND key through
    :func:`expire_fledir_partitions(key="ship_year", spark=...)` —
    retention at any partition level, distributed per-leaf (the
    reference's partition model is n-level, descriptors.h:178-262;
    VERDICT r9 #4/#5)."""
    from pyspark.sql import functions as F

    def build(root):
        df = _table(spark, sf_dir, "lineitem").select(
            "l_linestatus",
            F.year("l_shipdate").alias("ship_year"),
            F.col("l_quantity").cast("long").alias("l_quantity"),
        )
        # bounded key discovery for the write-once fixture build (2
        # status values x ~7 years)
        pairs = [
            (r["l_linestatus"], int(r["ship_year"]))
            for r in df.select("l_linestatus", "ship_year")
            .distinct()
            .collect()
        ]
        for ls, y in sorted(pairs):
            frame = (
                df.filter(
                    (F.col("l_linestatus") == ls)
                    & (F.col("ship_year") == y)
                )
                .select("l_quantity")
                .coalesce(2)
            )
            write_fledir(
                frame, [("l_quantity", np.int64, None)],
                os.path.join(root, f"l_linestatus={ls}", f"ship_year={y}"),
            )
        expire_fledir_partitions(root, 1996, key="ship_year", spark=spark)

    return _fle_asset(spark, sf_dir, "fle_retention_multi", build)


def merge_fledir(
    spark,
    path: str,
    updates,
    key: str,
    *,
    max_update_rows: int = 2_000_000,
    rows_per_segment: int = 1 << 20,
    bloomcols: "str | None" = None,
) -> dict:
    """MERGE (upsert) a batch of keyed full rows into a fledir (flat
    or hive-partitioned) — Delta's ``MERGE INTO ... WHEN MATCHED
    UPDATE WHEN NOT MATCHED INSERT`` for the container, at
    segment-rewrite granularity.

    ``updates`` is a DataFrame carrying exactly the stored columns
    (full replacement rows) with a non-NULL, duplicate-free ``key``
    column; every stored row whose key appears in ``updates`` is
    replaced, every other update row is inserted.  On a PARTITIONED
    root the updates must ALSO carry the partition-key columns: rows
    route to their leaf (per-leaf atomic merges, the retention
    contract), a partition value no existing leaf has CREATES that
    leaf (dynamic-partition insert), and — because rows never move
    across partition directories — a "matched" key in a DIFFERENT
    partition is an insert there, exactly the semantics of a
    partition-keyed table.  The per-leaf key sets stay inside the
    global ``max_update_rows`` budget.

    Scale shape: only the KEY SET is ever materialized on the driver
    (bounded by ``max_update_rows`` — the same bounded-collect contract
    as the join runtime filter; a bigger merge is a rewrite job, use
    overwrite).  Affected segments are found from METADATA alone: the
    manifest's per-segment key min/max refutes non-overlapping files,
    and a bloom sidecar (when the table was written with ``bloomcols``)
    refutes overlapping-but-absent ones — the same two tiers the read
    path prunes with, reused to bound WRITE amplification: a merge
    touching k segments rewrites k segments, not the table.  The
    rewrite and the insert encode run as one distributed Arrow-batch
    job (:func:`_rewrite_segments`), and the whole merge lands in ONE
    atomic append commit (rewritten + inserted segments visible
    together; replaced segments RETIRED, so the pre-merge generation
    stays time-travel readable until vacuum, and a crashed merge leaves
    the old table intact).

    Streaming caveat (Delta parity): a checkpointed stream tailing the
    directory treats rewritten segments as new files and will re-emit
    their rows — MERGE is a batch-table operation; append-only stream
    consumers of a merged-into table must tolerate replays (the
    ``ignoreChanges`` contract).

    Returns {segments_rewritten, segments_untouched, rows_matched,
    rows_inserted}, plus {leaves_created, leaves_untouched} on a
    partitioned root."""
    from pyspark.sql import functions as F

    keys, leaves = fledir_layout(path)
    missing = [c for c in keys if c not in updates.columns]
    if missing:
        raise ValueError(
            f"fledir: partitioned merge needs the partition key "
            f"columns {keys} in the updates frame (missing "
            f"{missing}) — rows route to their leaf by them"
        )
    # one job counts the update rows per leaf they route to (a flat
    # table is one group)
    groups = sorted(
        ((tuple(r)[:-1], r[-1])
         for r in updates.groupBy(*keys).count().collect()),
        key=lambda g: str(g[0]),
    )
    n_up = sum(n for _, n in groups)
    if n_up > max_update_rows:
        raise ValueError(
            f"fledir: {n_up} update rows exceed the merge budget "
            f"({max_update_rows}) — at that scale rewrite the table "
            "(overwrite) instead of merging segment-by-segment"
        )
    if any(v is None for values, _ in groups for v in values):
        raise ValueError(
            "fledir: partition-key values in a merge must be non-NULL"
        )
    # leaves match by DIRECTORY-NAME form, so an int-typed layout and an
    # int update value land in the same leaf
    by_dir = {tuple(map(str, values)): leaf for values, leaf in leaves}
    report = {
        "path": path, "segments_rewritten": 0, "segments_untouched": 0,
        "rows_matched": 0, "rows_inserted": 0,
    }
    created = 0
    for values, n in groups:
        rows = updates
        for c, v in zip(keys, values):
            rows = rows.filter(F.col(c) == F.lit(v))
        rows = rows.drop(*keys)
        leaf = by_dir.get(tuple(map(str, values)))
        if leaf is None:
            # a partition value no leaf has: dynamic-partition insert
            leaf = os.path.join(
                path, *[f"{c}={v}" for c, v in zip(keys, values)]
            )
            _append_leaf_rows(
                leaf, rows, n, leaves[0][1], rows_per_segment, bloomcols
            )
            report["rows_inserted"] += n
            created += 1
            continue
        counts = _merge_leaf(
            spark, leaf, rows, n, key, rows_per_segment, bloomcols
        )
        for k, v in counts.items():
            report[k] += v
    if keys:
        report["leaves_created"] = created
        report["leaves_untouched"] = len(leaves) - len(groups) + created
    return report


def _merge_leaf(
    spark, leaf: str, updates, n_up: int, key: str,
    rows_per_segment: int, bloomcols: "str | None",
) -> dict:
    """Merge `n_up` full rows into one existing leaf: segments holding
    a matched key rewrite without it, the update rows insert, all in
    one atomic append commit → the leaf's segment and row counts."""
    first = probe_first_segment(leaf)
    if first is None:
        raise ValueError(f"fledir: {leaf} has no committed segments")
    if key not in [c.name for c in first.columns]:
        raise KeyError(f"fledir: key column {key!r} not stored in {leaf}")
    inserts = _full_rows(first, updates, n_up, rows_per_segment)
    keys = [r[0] for r in updates.select(key).collect()]
    if any(k is None for k in keys):
        raise ValueError("fledir: merge keys must be non-NULL")
    if len(set(keys)) != len(keys):
        raise ValueError(
            "fledir: duplicate keys in the update set — last-write "
            "order would be nondeterministic"
        )

    # a stored row is replaced exactly when its key is IN the update
    # set: delete's probe picks the segments, delete's matcher the rows
    conjunct = (key, "in", keys)
    affected, untouched = _dml_candidates(leaf, [conjunct])
    matched = _prepared([conjunct])
    rows_before = fledir_row_count(leaf)
    _rewrite_segments(
        spark, leaf, [[n] for n in affected],
        lambda segs: _drop_matching(segs[0], matched),
        inserts=inserts, bloomcols=bloomcols,
    )
    rows_after = fledir_row_count(leaf)
    return {
        "segments_rewritten": len(affected),
        "segments_untouched": untouched,
        "rows_matched": rows_before + n_up - rows_after,
        "rows_inserted": n_up,
    }


def _full_rows(first: ParsedSegment, rows, n: int, rows_per_segment: int):
    """`rows`, checked to be full rows (exactly the stored columns), as
    the ``(frame, columns)`` insert of :func:`write_fledir`: `n` rows in
    segments of at most `rows_per_segment`, encoded with the kinds of
    `first`, a segment of the table."""
    stored = [c.name for c in first.columns]
    if sorted(rows.columns) != sorted(stored):
        raise ValueError(
            f"fledir: merge updates must carry exactly the stored "
            f"columns {sorted(stored)} (full replacement rows); "
            f"got {sorted(rows.columns)}"
        )
    return (
        rows.select(*stored).repartition(max(1, -(-n // rows_per_segment))),
        [(c.name, None, c.spec.insert_hint(c)) for c in first.columns],
    )


def materialize_fle_merge_dir(spark, sf_dir: str) -> str:
    """Write-once: the MERGE/upsert fixture — orders keyed by the
    unique ``o_orderkey``, HASH-SCATTERED into 8 bloom-carrying
    segments (every segment's key interval spans the domain, so only
    the blooms bound write amplification), then merged with a
    deterministic update set: every ``key % 10 == 3`` row's price
    bumped by 1000 (full-row replacement), plus brand-new keys
    (``key + 10_000_000``, status 'X') for the ``key % 100 == 7``
    subset.  The decimal price keeps every sum exact."""
    from pyspark.sql import functions as F

    def build(out):
        base = _table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(12,2)").alias("price_dec"),
        )
        write_fledir(base.repartition(8, "o_orderkey"), [
            ("o_orderkey", np.int64, None), ("o_orderstatus", None, None),
            ("price_dec", None, ("dec", 12, 2)),
        ], out, bloomcols="o_orderkey")
        upd = base.filter(F.col("o_orderkey") % 10 == 3).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("price_dec") + 1000).cast("decimal(12,2)").alias(
                "price_dec"
            ),
        )
        new = base.filter(F.col("o_orderkey") % 100 == 7).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("X").alias("o_orderstatus"),
            (F.col("price_dec") * 2).cast("decimal(12,2)").alias(
                "price_dec"
            ),
        )
        merge_fledir(
            spark, out, upd.unionByName(new), key="o_orderkey",
            bloomcols="o_orderkey",
        )

    return _fle_asset(spark, sf_dir, "fle_merge", build)


_DELETE_OPS = {
    "eq", "lt", "le", "gt", "ge", "in", "is_null", "is_not_null",
}


class _InList:
    """An IN literal list normalized once for every segment it is
    matched against: NULLs are dropped when it is built (they never
    match); the set for object lanes, and per column dtype the array of
    the literals that dtype represents EXACTLY, are built at first use.
    A literal the dtype cannot represent can never match, so it is
    dropped; CASTING it is not correct (np.isin with dtype=int64 would
    truncate 1.5 → 1 and silently over-match; review finding)."""

    def __init__(self, values):
        self.values = [v for v in values if v is not None]
        self._typed: dict = {}

    @functools.cached_property
    def set(self) -> set:
        return set(self.values)

    def typed(self, arr: np.ndarray) -> np.ndarray:
        """The literals as an array of `arr`'s dtype."""
        if arr.dtype not in self._typed:
            if arr.dtype.kind == "M":
                vv = [np.datetime64(v) for v in self.values]
            elif arr.dtype.kind in ("i", "u"):
                vv = [
                    int(v) for v in self.values
                    if not isinstance(v, bool) and (
                        isinstance(v, (int, np.integer))
                        or (isinstance(v, float) and v.is_integer())
                    )
                ]
            else:
                vv = self.values
            self._typed[arr.dtype] = np.asarray(vv, dtype=arr.dtype)
        return self._typed[arr.dtype]


def _conjunct_rows(vals, op: str, value, n: int) -> np.ndarray:
    """One (column OP literal) conjunct evaluated EXACTLY on decoded
    values → boolean matched-rows vector.  Kleene semantics: a NULL
    lane never matches a comparison (only is_null does) — the same
    3VL the read kernels implement on validity words.  An IN literal
    may come as an :class:`_InList`, normalized once for many calls;
    membership is then O(rows) per call on object lanes and one
    `np.isin` on typed ones."""
    arr = np.asarray(vals)
    if arr.dtype == object:
        null = null_cells(arr)
    elif arr.dtype.kind == "f":
        null = np.isnan(arr)
    elif arr.dtype.kind == "M":
        null = np.isnat(arr)
    else:
        null = np.zeros(n, dtype=bool)
    if op == "is_null":
        return null
    if op == "is_not_null":
        return ~null
    if op == "in" and not isinstance(value, _InList):
        value = _InList(value)
    if arr.dtype.kind == "M" and op != "in" and not isinstance(
        value, np.datetime64
    ):
        value = np.datetime64(value)
    out = np.zeros(n, dtype=bool)
    if arr.dtype == object:
        # object lanes (nullable ints / strings / decimals): per-lane
        # exact Python compares, NULLs skipped
        import operator as _op

        live = np.flatnonzero(~null)
        if op == "in":
            out[live] = [arr[i] in value.set for i in live]
        else:
            f = {
                "eq": _op.eq, "lt": _op.lt, "le": _op.le,
                "gt": _op.gt, "ge": _op.ge,
            }[op]
            out[live] = [bool(f(arr[i], value)) for i in live]
        return out
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # NaT comparisons
        if op == "in":
            res = np.isin(arr, value.typed(arr))
        else:
            res = {
                "eq": arr == value, "lt": arr < value,
                "le": arr <= value, "gt": arr > value,
                "ge": arr >= value,
            }[op]
    return np.asarray(res, dtype=bool) & ~null


def delete_fledir(
    spark,
    path: str,
    conjuncts: "list[tuple]",
    *,
    bloomcols: "str | None" = None,
) -> dict:
    """DELETE WHERE on a fledir (flat or hive-partitioned): drop every
    row matching ALL `conjuncts` — each a ``(column, op, literal)`` in
    the container's pushed-predicate mini-language (op ∈ eq/lt/le/gt/
    ge/in/is_null/is_not_null: exactly the SimplePredicates operator
    set, simple-predicates.h:30-205, reused as the DML predicate).  On
    a partitioned root, conjuncts on partition KEYS prune whole leaves
    driver-side and the data conjuncts run per leaf (per-leaf atomic,
    like retention); an all-partition-key predicate refuses and points
    at `expire_fledir_partitions`, the metadata-only form.

    Write amplification is bounded by the SAME metadata tiers the read
    path prunes with: a segment whose manifest stats refute the
    conjunction is untouched by construction (its name survives in the
    manifest), an eq/in conjunct additionally probes the bloom
    sidecars, and only the surviving segments are rewritten — decoded,
    matched rows dropped with exact Kleene semantics (NULL lanes never
    match a comparison), re-encoded — in a distributed Arrow-batch job
    landing in ONE atomic append commit.  Replaced segments RETIRE, so
    the pre-delete generation stays time-travel readable until vacuum
    and a crashed delete leaves the old table intact.  A conjunct the
    stats tier cannot reason about (exotic literal/column type) simply
    disables pruning — every segment rewrites, correctness never rests
    on the stats.  Streaming caveat as for merge: rewritten segments
    replay to checkpointed streams.

    Returns {segments_rewritten, segments_untouched, rows_deleted},
    plus leaves_pruned on a partitioned root."""
    if not conjuncts:
        raise ValueError(
            "fledir: delete needs at least one conjunct (a full-table "
            "delete is mode('overwrite') with an empty frame)"
        )
    for c3 in conjuncts:
        if len(c3) != 3 or c3[1] not in _DELETE_OPS:
            raise ValueError(
                f"fledir: bad delete conjunct {c3!r} — expected "
                f"(column, op, literal) with op in {sorted(_DELETE_OPS)}"
            )
    # key conjuncts prune WHOLE leaves on the driver (exact typed
    # evaluation, the scan's partition pruning) and — since a key
    # conjunct holds for every row of a kept leaf — drop out of the
    # per-leaf conjunction; the data conjuncts run per leaf.  Atomicity
    # is per leaf (each leaf commits its own generation), the same
    # contract as retention expiry.
    layout = fledir_layout(path)
    keys = layout[0]
    data_conj = [c3 for c3 in conjuncts if c3[0] not in keys]
    if not data_conj:
        raise ValueError(
            "fledir: every delete conjunct targets a partition "
            "key — that is a partition drop, use "
            "expire_fledir_partitions (metadata-only, no rewrite)"
        )
    kept = kept_leaves(layout, conjuncts)
    matched = _prepared(data_conj)
    report = {
        "path": path, "segments_rewritten": 0,
        "segments_untouched": 0, "rows_deleted": 0,
    }
    for _, leaf in kept:
        affected, untouched = _dml_candidates(leaf, data_conj)
        rows_before = fledir_row_count(leaf)
        _rewrite_segments(
            spark, leaf, [[n] for n in affected],
            lambda segs: _drop_matching(segs[0], matched),
            bloomcols=bloomcols,
        )
        report["segments_rewritten"] += len(affected)
        report["segments_untouched"] += untouched
        report["rows_deleted"] += rows_before - fledir_row_count(leaf)
    if keys:
        report["leaves_pruned"] = len(layout[1]) - len(kept)
    return report


def _dml_candidates(path: str, conjuncts: "list[tuple]") -> tuple:
    """The committed segments of one leaf that may hold a row
    matching ALL `conjuncts`, from metadata alone → (names, count of the
    others).  The read path's own two tiers: the manifest stats
    (`FleDirReader._manifest_files` with the conjuncts pushed), then the
    bloom sidecars for eq/in conjuncts.  Stats pruning only when every
    conjunct passes the reader's type-directed pushability vetting (the
    refutation logic is shared with the scan; feeding it a literal it
    would never accept could refute wrongly) — otherwise every segment
    is a candidate; correctness never rests on the stats."""
    r = FleDirReader({"path": path})
    stored = r._column_kinds()
    for col, _op, _v in conjuncts:
        if col not in stored:
            raise KeyError(f"fledir: column {col!r} not stored in {path}")
    if all(r._literal_pushable(c, o, v) for c, o, v in conjuncts):
        r.pushed = list(conjuncts)
    bf_conj = bloom_eq_in_conjuncts(conjuncts)  # hashed ONCE
    affected = []
    for name, _rows in r._manifest_files(path):
        bf = os.path.join(path, name + ".bf")
        if not (
            bf_conj and os.path.exists(bf)
            and bloom_sidecar_refutes(bf, bf_conj)
        ):
            affected.append(name)
    return affected, len(_manifest_entries(path)) - len(affected)


def _prepared(conjuncts: "list[tuple]") -> "list[tuple]":
    """`conjuncts` with each IN list normalized ONCE (:class:`_InList`),
    so a job matching many segments does not redo it per segment."""
    return [
        (c, o, _InList(v) if o == "in" else v) for c, o, v in conjuncts
    ]


def _drop_matching(seg: ParsedSegment, conjuncts: "list[tuple]") -> list:
    """`seg`'s re-encode column list without the rows matching ALL
    `conjuncts` (exact Kleene semantics, :func:`_conjunct_rows`)."""
    cols = segment_reencode_columns(seg)
    values = {name: v for name, v, _h in cols}
    matched = np.ones(seg.n, dtype=bool)
    for c, o, v in conjuncts:
        matched &= _conjunct_rows(values[c], o, v, seg.n)
    return [(name, np.asarray(v)[~matched], h) for name, v, h in cols]


def materialize_fle_delete_dir(spark, sf_dir: str) -> str:
    """Write-once: the DELETE-WHERE fixture — lineitem (flag, quantity)
    range-sorted by quantity into 8 segments, then
    ``DELETE WHERE l_quantity >= 45 AND l_returnflag = 'R'`` run
    through :func:`delete_fledir`.  The sorted layout makes the
    manifest stats tier visibly bound write amplification: only the
    top-of-range segments can hold qty ≥ 45, the rest survive
    untouched."""
    from pyspark.sql import functions as F

    def build(out):
        frame = (
            _table(spark, sf_dir, "lineitem")
            .select(
                "l_returnflag",
                F.col("l_quantity").cast("long").alias("l_quantity"),
            )
            .repartitionByRange(8, "l_quantity")
            .sortWithinPartitions("l_quantity")
        )
        write_fledir(frame, _FLAG_QTY, out)
        delete_fledir(
            spark, out,
            [("l_quantity", "ge", 45), ("l_returnflag", "eq", "R")],
        )

    return _fle_asset(spark, sf_dir, "fle_delete", build)


def _append_leaf_rows(
    leaf: str, df, n: int, template_leaf: str,
    rows_per_segment: int, bloomcols: "str | None",
) -> None:
    """Dynamic-partition insert: encode `df`'s `n` rows as fresh
    segments of a not-yet-existing leaf, kinds pinned from a sibling
    leaf's first segment so the new leaf's schema matches the table's.
    One atomic append commit."""
    first = probe_first_segment(template_leaf)
    if first is None:
        raise ValueError(
            f"fledir: template leaf {template_leaf} has no committed "
            "segment to pin the new partition's schema from"
        )
    write_fledir(
        *_full_rows(first, df, n, rows_per_segment),
        leaf, "append", bloomcols=bloomcols or None,
    )


def _segments_df(spark, path: str, names: "list[str]"):
    """Explicit segment set → DataFrame of its rows, read by
    `FleDirReader.read` inside one `mapInArrow` job over input
    partitions planned here on the resolved paths.  Columns follow the
    first committed segment's order (Spark maps Arrow columns by
    position); a segment missing one fails loudly."""
    first = probe_first_segment(path)
    if first is None:
        raise ValueError(f"fledir: {path} has no committed segments")
    ddl = _segment_ddl(first)
    if not names:
        return spark.createDataFrame([], ddl)
    paths = []
    for name in sorted(names):
        found = _segment_file(path, name)
        if found is None:
            raise ValueError(
                f"fledir: segment {name} of the requested generation was "
                "vacuumed — the change feed for that span has expired"
            )
        paths.append(found)
    parts = [_FleFilesPartition(b) for b in sealed_dir.deal(paths, 32)]
    reader = FleDirReader(
        {"path": path}, wanted=[c.name for c in first.columns]
    )

    @trims
    def decode(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from reader.read(parts[i])

    return spark.range(0, len(parts), numPartitions=len(parts)).mapInArrow(
        decode, ddl
    )


def fledir_changes(
    spark, path: str, from_gen: int, to_gen: int
):
    """CHANGE DATA FEED between two committed generations of one
    fledir directory — Delta's ``table_changes`` for the container.
    Returns a DataFrame of the table's columns plus ``_change_type``
    ('insert' / 'delete'; an update surfaces as its delete+insert
    pair, the retire-based DML's native decomposition).

    Two-tier computation, both exact:

    1. FILE tier — diff the two snapshot manifests, then ABSORB pure
       re-shuffles through the compaction lineage sidecar: a segment
       added between the generations whose sources are transitively
       covered by the from-generation's name set moved rows without
       changing them (the stream reader's own absorb rule), so neither
       it nor its source closure enters the row diff.  A compaction-
       only span therefore reads ZERO segment bytes and returns an
       empty feed.
    2. ROW tier — exact multiset difference (``exceptAll``) over only
       the genuinely-changed segments' rows: added-file rows minus
       removed-file rows are the inserts, the reverse are the deletes.
       Rows a rewrite carried over unchanged cancel; at 100 TB the
       shuffle is sized by the CHANGED files, not the table.

    Snapshot segments resolve to their live or `.retired` file through
    the same resolver as generation reads, and the changed segments' rows
    come from the batch scan's own `FleDirReader.read` (one `mapInArrow`
    job per side, :func:`_segments_df`); a vacuumed span fails loudly —
    an expired feed is not a feed."""
    from pyspark.sql import functions as F

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        _history_generations,
        _lineage_covered,
    )

    if fledir_layout(path)[0]:
        raise ValueError(
            "fledir: fledir_changes addresses ONE directory's "
            "timeline — point the path at a leaf"
        )

    def snap_names(gen: int) -> set:
        snap = sealed_dir.read_manifest(sealed_dir.history_path(path, gen))
        if snap is None:
            raise ValueError(
                f"fledir: generation {gen} has no snapshot in {path} "
                f"— committed generations: "
                f"{_history_generations(path) or 'none'}"
            )
        return {n for n, _ in snap}

    if from_gen >= to_gen:
        raise ValueError(
            "fledir: change feeds run forward (from_gen < to_gen)"
        )
    from_names = snap_names(from_gen)
    to_names = snap_names(to_gen)
    added = to_names - from_names
    removed = from_names - to_names
    lineage = _read_lineage(path)
    memo: dict = {}
    absorbed_sources: set = set()
    genuine_added: list = []
    for n in sorted(added):
        if n in lineage and _lineage_covered(
            n, from_names, lineage, memo
        ):
            # pure re-shuffle: collect its source closure down to
            # from-generation names — those are not deletes
            stack = list(lineage.get(n) or ())
            while stack:
                s = stack.pop()
                if s in from_names:
                    absorbed_sources.add(s)
                else:
                    stack.extend(lineage.get(s) or ())
        else:
            genuine_added.append(n)
    genuine_removed = sorted(removed - absorbed_sources)

    added_df = _segments_df(spark, path, genuine_added)
    removed_df = _segments_df(spark, path, genuine_removed)
    inserts = added_df.exceptAll(removed_df).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = removed_df.exceptAll(added_df).withColumn(
        "_change_type", F.lit("delete")
    )
    return inserts.unionByName(deletes)
