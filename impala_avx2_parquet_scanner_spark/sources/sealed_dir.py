"""The sealed-directory protocol shared by `fledir`, `avrodir` and `ppmdir`.

A sealed directory holds data files plus one manifest, `_DONE`, that names
the committed ones, one per line: ``name`` or ``name<TAB>meta`` (fledir
keeps each segment's stats JSON in `meta`).  Readers open only what the
manifest names.  The writer follows the reference table writer's
stage-then-publish discipline (hdfs-parquet-table-writer.cc:89-1107):

1. each task writes its files under invisible temp names,
   ``<name>.tmp-<token>-<attempt>`` (:class:`Staged`), where `token` is
   the write job's, drawn once on the driver, and `attempt` tells two
   attempts of one task apart; a failed job's driver removes every file
   of the job, its failed tasks' included, with :func:`discard_token`;
2. the driver's :func:`commit` renames them to their final names, each
   sidecar (``<name><suffix>``) before its file; a reused name that
   brings no new sidecar loses its old one;
3. it swaps `_DONE` atomically (:func:`write_manifest`: a temp file, then
   ``os.replace``);
4. it runs ``after_swap`` (fledir records its `_history` snapshot there);
5. only then it removes what the new manifest dropped, or renames retired
   files ``<name>.retired``.

Nothing is removed before step 3 and nothing a reader trusts changes
before it, so a commit killed at any point leaves the old table or the new
one, whole — unless the commit reuses a committed name, whose old bytes
its rename replaces in step 2.  A format that must publish something
before the new names appear (fledir's `_LINEAGE`) does so before calling
:func:`commit`.

Streams read the same manifest: :class:`SealedStreamReader`'s offset is
the sorted set of file names already emitted.  A directory without
`_DONE` is a feed from a producer that writes no manifest; its files are
listed by suffix, and each format's ``_sealed`` check keeps a file out
until it parses whole.  `_history/<gen>.manifest` snapshots use the
manifest format and are written and read only through this module.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql.datasource import (
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from impala_avx2_parquet_scanner_spark.pyworker import trims

DONE = "_DONE"
HISTORY_DIR = "_history"
#: the rows one input partition is sized for (see :func:`partition_count`)
ROWS_PER_TASK = 262_144


def read_manifest(path: str) -> "list[tuple[str, str]] | None":
    """(name, meta) pairs of the manifest file `path` — `_DONE` or a
    `_history/<gen>.manifest`; meta is "" on a bare-name line.  None when
    the file does not exist."""
    try:
        with open(path) as fh:
            lines = fh.read().splitlines()
    except FileNotFoundError:
        return None
    return [
        (n, m) for n, _, m in (ln.partition("\t") for ln in lines if ln)
    ]


def write_manifest(path: str, entries) -> None:
    """Replace the manifest file `path` with `entries`, sorted, in one
    atomic step: write a temp file, then ``os.replace`` it."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(
            "\n".join(f"{n}\t{m}" if m else n for n, m in sorted(entries))
        )
    os.replace(tmp, path)


def history_path(dirpath: str, gen: int) -> str:
    """The `_history` snapshot manifest of generation `gen`."""
    return os.path.join(dirpath, HISTORY_DIR, f"{gen}.manifest")


def history_generations(dirpath: str) -> list[int]:
    """The generations of `dirpath` that have a snapshot, ascending."""
    try:
        names = os.listdir(os.path.join(dirpath, HISTORY_DIR))
    except FileNotFoundError:
        return []
    gens = (f[: -len(".manifest")] for f in names if f.endswith(".manifest"))
    return sorted(int(g) for g in gens if g.isdigit())


def committed(dirpath: str) -> "list[tuple[str, str]] | None":
    """The `_DONE` entries of `dirpath`; None if it was never committed."""
    return read_manifest(os.path.join(dirpath, DONE))


def listing(dirpath: str, suffix: str) -> "tuple[list[str], bool]":
    """(sorted names a reader may open, whether `_DONE` named them): the
    manifest's names when there is one, else every `suffix` file."""
    entries = committed(dirpath)
    if entries is not None:
        return sorted(n for n, _ in entries), True
    names = sorted(f for f in os.listdir(dirpath) if f.endswith(suffix))
    return names, False


def partition_count(
    n_files: int, rows: int = 0, n_parts: "int | None" = None
) -> int:
    """Input partitions for a scan of `n_files` files holding `rows` rows
    (0 when unknown).  An explicit `numPartitions` wins; otherwise one per
    ~8 files or per ~:data:`ROWS_PER_TASK` rows, whichever asks for more,
    within [1, 64].  Every input partition is one Python worker call with
    a fixed cost (MICROBENCH.md), so a small scan runs as one task."""
    if n_parts is not None:
        return max(n_parts, 1)
    return min(64, max(1, -(-n_files // 8), -(-rows // ROWS_PER_TASK)))


def deal(items: list, n: int) -> list[list]:
    """`items` dealt round-robin into at most `n` non-empty lists."""
    return [b for b in (items[i::n] for i in range(n)) if b]


def discard(path: str) -> None:
    """Remove the file `path` if it is there."""
    with contextlib.suppress(OSError):
        os.remove(path)


def new_token() -> str:
    return uuid.uuid4().hex[:12]


def discard_token(dirpath: str, token: str) -> None:
    """Remove every file staged in `dirpath` under the job token
    `token`, by any task attempt."""
    with contextlib.suppress(FileNotFoundError):
        for f in os.listdir(dirpath):
            if f".tmp-{token}-" in f:
                discard(os.path.join(dirpath, f))


class Staged(WriterCommitMessage):
    """One task attempt's output under invisible temp names, sent to the
    driver's :func:`commit`.  `token` is the write job's; each instance
    adds its own attempt tag, so attempts staging the same name never
    share a temp file.  `entries` holds (final name, temp name, manifest
    meta, {sidecar suffix: temp name}) per file."""

    def __init__(self, dirpath: str, token: str):
        self.dir = dirpath
        self.tag = f"{token}-{new_token()}"
        self.entries: list[tuple[str, str, str, dict]] = []

    @property
    def files(self) -> list[str]:
        return [e[0] for e in self.entries]

    def _write(self, name: str, data: bytes) -> str:
        os.makedirs(self.dir, exist_ok=True)
        tmp = f"{name}.tmp-{self.tag}"
        with open(os.path.join(self.dir, tmp), "wb") as fh:
            fh.write(data)
        return tmp

    def put(
        self, name: str, data: bytes, meta: str = "",
        sidecars: "dict | None" = None,
    ) -> None:
        """Stage `data` as `name`; `sidecars` maps a suffix to the bytes
        of ``<name><suffix>``."""
        side = {
            s: self._write(name + s, b) for s, b in (sidecars or {}).items()
        }
        self.entries.append((name, self._write(name, data), meta, side))


def staged(messages) -> list[tuple[str, str, str, dict]]:
    """Every entry of the tasks' :class:`Staged` messages (None = a
    failed task)."""
    return [e for m in messages if m is not None for e in m.entries]


def commit(
    dirpath: str,
    entries: list,
    *,
    suffix: str,
    overwrite: bool = False,
    drop=None,
    retire=frozenset(),
    sidecars: tuple = (),
    after_swap=None,
) -> None:
    """Seal the staged `entries` into `dirpath`: renames, manifest swap,
    ``after_swap(manifest, previous)``, then the sweep or retire, in that
    order.

    * `overwrite`: the manifest lists only `entries`; after the swap every
      other `suffix` file, its sidecars and every `.retired` file go.
    * `drop(name)`: for an append, the previous entries that leave the
      manifest; after the swap their files go, and so do unmanifested
      `suffix` files matching `drop` (a wider killed attempt's leftovers).
    * `retire`: previous entries that leave the manifest; after the swap
      each file is renamed ``<name>.retired`` and its sidecars go.
    * `sidecars`: the suffixes of the sidecars this format may stage.

    A name listed in `entries` replaces a previous entry of that name."""
    previous = committed(dirpath) or []
    new: dict[str, str] = {}
    for name, tmp, meta, side in entries:
        for s in sidecars:
            if s in side:
                os.replace(
                    os.path.join(dirpath, side[s]),
                    os.path.join(dirpath, name + s),
                )
            else:
                discard(os.path.join(dirpath, name + s))
        os.replace(os.path.join(dirpath, tmp), os.path.join(dirpath, name))
        new[name] = meta
    gone = (lambda n: True) if overwrite else drop
    manifest = sorted(
        [*new.items()]
        + [
            (n, m)
            for n, m in previous
            if n not in new and n not in retire and not (gone and gone(n))
        ]
    )
    write_manifest(os.path.join(dirpath, DONE), manifest)
    if after_swap is not None:
        after_swap(manifest, previous)
    if gone is not None:
        keep = {n for n, _ in manifest}
        for f in os.listdir(dirpath):
            base = next(
                (f[: -len(s)] for s in sidecars if f.endswith(suffix + s)), f
            )
            if (overwrite and f.endswith(".retired")) or (
                base.endswith(suffix) and base not in keep and gone(base)
            ):
                discard(os.path.join(dirpath, f))
    for name in retire:
        path = os.path.join(dirpath, name)
        if os.path.exists(path):
            with contextlib.suppress(OSError):
                os.replace(path, path + ".retired")
        for s in sidecars:
            discard(path + s)


class SealedStreamReader(SimpleDataSourceStreamReader):
    """A sealed directory read as a stream of files.  The offset is the
    sorted set of names already emitted, so `readBetweenOffsets` replays
    a planned batch exactly after a restart, whatever the arrival order.
    Subclasses set `fmt` and `suffix` and give ``_rows(names)``, which
    returns a list (the framework pickles prefetched rows), and
    ``_sealed(name)``, which is asked only for files of a directory
    without `_DONE`."""

    fmt = ""
    suffix = ""

    def __init__(self, options):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError(f"{self.fmt} requires option 'path'")

    def initialOffset(self) -> dict:
        return {"names": []}

    def _listing(self) -> "tuple[list[str], bool]":
        return listing(self.dir, self.suffix)

    def _split(
        self, names: list[str], seen: set
    ) -> "tuple[list[str], list[str]]":
        """(names to emit, names to take into the offset without rows)."""
        return names, []

    @trims
    def read(self, start: dict):
        seen = set(start.get("names", []))
        names, manifested = self._listing()
        fresh = [
            f for f in names
            if f not in seen and (manifested or self._sealed(f))
        ]
        emit, absorbed = self._split(fresh, seen)
        # iter() over a list: the framework wants an iterator, and a
        # list_iterator pickles where a generator does not
        offset = {"names": sorted(seen.union(emit, absorbed))}
        return iter(self._rows(emit)), offset

    @trims
    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start.get("names", []))
        emit, _ = self._split(sorted(set(end.get("names", [])) - seen), seen)
        return iter(self._rows(emit))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to prune
