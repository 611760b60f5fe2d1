"""Custom Python DataSource: a user-defined PPM-directory scanner.

The reference's entire identity is a CUSTOM SCANNER registered into a
scan framework — `HdfsParquetScanner` plugged into Impala's scan-node
machinery via the descriptor layer (hdfs-parquet-scanner.h:71-120,
descriptors.h:149-290).  Spark 4's Python DataSource API is the
PySpark-native way to do exactly that: implement `DataSource` /
`DataSourceReader`, register it on the session, and `spark.read
.format(...)` plans it like any built-in source — with partition-parallel
reads (one `InputPartition` per file batch = the reference's scan-range
splits, hdfs-parquet-scanner.cc:111-147) and full Catalyst integration
above the scan.

The scanner here reads a directory of binary PPM (P6) image files —
parsing real bytes off disk with the same header grammar as
`pipeline.multimodal.decode_ppm` — and emits one row per file:
(doc_id from the filename, parsed width/height, raster byte count, and
SHA-256 of the hex-encoded raster).  The fixture images are derived
deterministically from `documents.text`, so the DuckDB oracle replays
every output value from the base table: a hash match proves the custom
scanner read, parsed, and fingerprinted the actual file bytes correctly.

Scale: `partitions()` splits the file listing into fixed batches, each
read independently on an executor — the same elasticity as any file
source; a 10^9-file directory needs only a bigger listing (or a manifest
table driving the partitions).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.registry import query

try:  # Spark >= 4.0
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    DATASOURCE_API_AVAILABLE = True
except ImportError:  # pragma: no cover - older Spark
    DATASOURCE_API_AVAILABLE = False

    class DataSource:  # type: ignore[no-redef]
        pass

    class DataSourceReader:  # type: ignore[no-redef]
        pass

    class InputPartition:  # type: ignore[no-redef]
        pass


#: Max image width (pixels); the raster is the first width*3 text bytes.
PPM_MAX_W = 64
PPM_DOC_LIMIT = 200

_SCHEMA = "doc_id bigint, width int, height int, n_raster_bytes bigint, raster_sha string"


class _PpmFilesPartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class PpmDirReader(DataSourceReader):
    def __init__(self, options):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("ppmdir requires option 'path'")
        # Python DataSource options arrive lower-cased.  No option →
        # adaptive: ~8 files per InputPartition, floor 8, cap 64 (the
        # fledir reader's sizing rule — a many-thousand-file table must
        # not scan with 8 tasks)
        np_opt = options.get("numpartitions")
        self.n_parts = int(np_opt) if np_opt is not None else None
        self._doc_lo: int | None = None  # inclusive
        self._doc_hi: int | None = None  # inclusive
        self._doc_in: set[int] | None = None

    def _bucket_count(self, n_files: int) -> int:
        if self.n_parts is not None:
            return min(self.n_parts, max(n_files, 1))
        return min(64, max(8, (n_files + 7) // 8), max(n_files, 1))

    def pushFilters(self, filters):
        """Predicate pushdown INTO the custom scanner — the reference's
        defining feature (simple-predicates.h:30-205: eq/lt/le/gt/ge/in
        evaluated inside the scan) re-expressed through Spark 4's
        `pushFilters`.  doc_id range/equality/IN filters are accepted and
        applied as FILE SKIPS in `partitions()` (the filename encodes
        doc_id, so non-matching files are never opened — the skip-ahead
        analog, §2A #10); everything else is yielded back to Spark as a
        residual (§2A #6)."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        def _lo(v):
            self._doc_lo = v if self._doc_lo is None else max(self._doc_lo, v)

        def _hi(v):
            self._doc_hi = v if self._doc_hi is None else min(self._doc_hi, v)

        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("doc_id",):
                if isinstance(f, EqualTo):
                    _lo(f.value); _hi(f.value)
                    continue
                if isinstance(f, GreaterThan):
                    _lo(f.value + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    _lo(f.value)
                    continue
                if isinstance(f, LessThan):
                    _hi(f.value - 1)
                    continue
                if isinstance(f, LessThanOrEqual):
                    _hi(f.value)
                    continue
                if isinstance(f, In):
                    vals = set(f.value)
                    self._doc_in = vals if self._doc_in is None else (self._doc_in & vals)
                    continue
            yield f  # residual: Spark re-evaluates after the scan

    def _keep(self, doc_id: int) -> bool:
        if self._doc_lo is not None and doc_id < self._doc_lo:
            return False
        if self._doc_hi is not None and doc_id > self._doc_hi:
            return False
        if self._doc_in is not None and doc_id not in self._doc_in:
            return False
        return True

    def partitions(self):
        files = sorted(
            f
            for f in os.listdir(self.dir)
            if f.endswith(".ppm")
            and self._keep(int(f[len("doc_"):-len(".ppm")]))
        )
        batches: list[list[str]] = [
            [] for _ in range(self._bucket_count(len(files)))
        ]
        for i, f in enumerate(files):
            batches[i % len(batches)].append(os.path.join(self.dir, f))
        return [_PpmFilesPartition(b) for b in batches if b]

    def read(self, partition):
        # real file IO + header parse on the executor, one batch per split
        for path in partition.paths:
            with open(path, "rb") as fh:
                payload = fh.read()
            # P6 header: magic, width, height, maxval, single whitespace
            parts = payload.split(b"\n", 3)
            if parts[0] != b"P6":
                raise ValueError(f"{path}: not a P6 PPM")
            w, h = (int(x) for x in parts[1].split())
            raster = parts[3]
            if len(raster) != w * h * 3:
                raise ValueError(f"{path}: truncated raster")
            doc_id = int(os.path.basename(path)[len("doc_"):-len(".ppm")])
            yield (
                doc_id,
                w,
                h,
                len(raster),
                hashlib.sha256(raster.hex().encode()).hexdigest(),
            )


try:  # writer half needs the same Spark >= 4 module
    from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

    class _PpmCommit(WriterCommitMessage):
        def __init__(self, files: list[str], tmps: "list[str] | None" = None):
            self.files = files
            self.tmps = tmps or []

    class PpmDirWriter(DataSourceWriter):  # type: ignore[no-redef]
        """Custom SINK (the writer half of the scanner registration —
        §2A #17's role for this format), hardened round 8 to the same
        protocol as the fledir writer: each task writes its rows'
        payloads under TEMP names (`doc_<id>.ppm.tmp-<token>` —
        invisible to both reader halves, which list/consume `.ppm`
        names only), so a half-written or aborted attempt can never be
        observed; `commit` renames every temp into its final name,
        atomically replaces the `_DONE` manifest (append mode merges
        the previous manifest), and only then — for mode('overwrite')
        — removes stale previous `.ppm` files; `abort` deletes this
        attempt's temps — a failed or aborted overwrite leaves the old
        committed data fully readable.  Input schema: (doc_id bigint,
        payload binary) where payload is a complete P6 file."""

        def __init__(self, options, overwrite: bool):
            self.dir = options.get("path")
            if not self.dir:
                raise ValueError("ppmdir requires option 'path'")
            self.overwrite = overwrite

        def write(self, rows):
            import uuid as _uuid

            os.makedirs(self.dir, exist_ok=True)
            token = _uuid.uuid4().hex[:12]
            written: list[str] = []
            tmps: list[str] = []
            for row in rows:
                name = f"doc_{row.doc_id}.ppm"
                tmp = f"{name}.tmp-{token}"
                with open(os.path.join(self.dir, tmp), "wb") as fh:
                    fh.write(bytes(row.payload))
                written.append(name)
                tmps.append(tmp)
            return _PpmCommit(written, tmps)

        def commit(self, messages):
            done = os.path.join(self.dir, "_DONE")
            previous: list[str] = []
            if os.path.exists(done):
                with open(done) as fh:
                    previous = [ln for ln in fh.read().splitlines() if ln]
            new_files: list[str] = []
            for m in messages:
                tmps = getattr(m, "tmps", None) or m.files
                for name, tmp in zip(m.files, tmps):
                    os.replace(
                        os.path.join(self.dir, tmp),
                        os.path.join(self.dir, name),
                    )
                    new_files.append(name)
            if not self.overwrite:
                new_files += [f for f in previous if f not in set(new_files)]
            all_files = sorted(set(new_files))
            tmp_done = done + ".tmp"
            with open(tmp_done, "w") as fh:
                fh.write("\n".join(all_files))
            os.replace(tmp_done, done)  # atomic manifest swap
            if self.overwrite:
                # destruction only after the new manifest is durable
                keep = set(all_files)
                for f in os.listdir(self.dir):
                    if f.endswith(".ppm") and f not in keep:
                        try:
                            os.remove(os.path.join(self.dir, f))
                        except OSError:
                            pass

        def abort(self, messages):
            for m in messages:
                if m is None:
                    continue
                for f in getattr(m, "tmps", None) or m.files:
                    try:
                        os.remove(os.path.join(self.dir, f))
                    except OSError:
                        pass

    WRITER_API_AVAILABLE = True
except ImportError:  # pragma: no cover
    WRITER_API_AVAILABLE = False


class PpmDataSource(DataSource):
    @classmethod
    def name(cls):
        return "ppmdir"

    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        return PpmDirReader(self.options)

    def writer(self, schema, overwrite):
        if not WRITER_API_AVAILABLE:
            raise NotImplementedError("DataSourceWriter requires Spark >= 4.0")
        return PpmDirWriter(self.options, overwrite)


def materialize_ppm_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write-once: derive one P6 file per document (doc_id < PPM_DOC_LIMIT,
    raster = first width*3 UTF-8 text bytes, height 1) via
    `foreachPartition` — files are written ON THE EXECUTORS, no driver
    collect (in local mode that is still this machine's filesystem; on a
    cluster the target would be a shared mount/object store)."""
    from impala_avx2_parquet_scanner_spark.assets import publish
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # cache-hit path skips table(); pushdown conf required

    def build(out):
        def write_files(it):
            for row in it:
                data = row.text.encode("utf-8")
                w = min(len(data) // 3, PPM_MAX_W)
                if w < 1:
                    continue
                raster = data[: w * 3]
                with open(os.path.join(out, f"doc_{row.doc_id}.ppm"), "wb") as fh:
                    fh.write(b"P6\n%d 1\n255\n" % w + raster)

        table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < PPM_DOC_LIMIT
        ).select("doc_id", "text").foreachPartition(write_files)

    return publish(sf_dir, "ppm", build)


_PPM_DS_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE doc_id < {PPM_DOC_LIMIT}
)
SELECT doc_id,
       CAST(LEAST(n // 3, {PPM_MAX_W}) AS INTEGER) AS width,
       CAST(1 AS INTEGER) AS height,
       CAST(LEAST(n // 3, {PPM_MAX_W}) * 3 AS BIGINT) AS n_raster_bytes,
       sha256(substring(hx, 1, LEAST(n // 3, {PPM_MAX_W}) * 6)) AS raster_sha
FROM d WHERE n >= 3
"""


@query(
    "scan_custom_datasource",
    oracle=_PPM_DS_ORACLE,
    tags=("scan", "datasource", "multimodal"),
)
def scan_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-scanner registration end-to-end (the reference's core move,
    re-expressed): materialize real P6 image files from `documents`, then
    read them back through the registered `ppmdir` Python DataSource —
    partition-parallel file scans + header parsing + raster fingerprints,
    value-verified by a DuckDB oracle that recomputes every field from the
    base table."""
    if not DATASOURCE_API_AVAILABLE:
        raise NotImplementedError("Python DataSource API requires Spark >= 4.0")
    path = materialize_ppm_dir(spark, sf_dir)
    try:
        spark.dataSource.register(PpmDataSource)
    except Exception:  # already registered on this session
        pass
    return (
        spark.read.format("ppmdir")
        .option("path", path)
        .option("numPartitions", "8")
        .load()
    )


_PPM_DS_PUSH_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE doc_id < {PPM_DOC_LIMIT}
)
SELECT doc_id,
       CAST(LEAST(n // 3, {PPM_MAX_W}) AS INTEGER) AS width,
       sha256(substring(hx, 1, LEAST(n // 3, {PPM_MAX_W}) * 6)) AS raster_sha
FROM d
WHERE n >= 3 AND doc_id >= 50 AND doc_id <= 149
  AND LEAST(n // 3, {PPM_MAX_W}) * 3 > 60
"""


@query(
    "scan_custom_datasource_pushdown",
    oracle=_PPM_DS_PUSH_ORACLE,
    tags=("scan", "datasource", "pushdown"),
)
def scan_custom_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown INTO the registered custom scanner: the doc_id
    range filter reaches `PpmDirReader.pushFilters` and becomes file
    skips (100 of 200 files never opened — verified at the reader level
    in tests/test_sources.py), while the n_raster_bytes filter is
    yielded back as a residual Spark evaluates after the scan — the
    reference's pushed-vs-residual conjunct split (§2A #5/#6,
    hdfs-parquet-scanner.cc:1825-1834) inside a user-defined source."""
    df = scan_custom_datasource(spark, sf_dir)
    return (
        df.filter(
            (F.col("doc_id") >= 50)
            & (F.col("doc_id") <= 149)
            & (F.col("n_raster_bytes") > 60)
        )
        .select("doc_id", "width", "raster_sha")
    )


try:  # streaming half (Spark >= 4.0)
    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    class PpmStreamReader(SimpleDataSourceStreamReader):
        """Streaming form of the custom scanner: the directory is a live
        feed, each micro-batch picks up files not yet processed, and the
        OFFSET is the exact sorted file-name set — so
        `readBetweenOffsets` replays any batch deterministically after a
        failure (exactly-once file processing under checkpointing,
        arrival-order independent).  The reference has no streaming
        surface; this is the scan-framework story carried into
        Structured Streaming (SURVEY §2B streaming row)."""

        def __init__(self, options):
            self.dir = options.get("path")
            if not self.dir:
                raise ValueError("ppmdir requires option 'path'")

        def initialOffset(self) -> dict:
            return {"names": []}

        def _parse(self, names):
            # returns a LIST: the stream framework pickles prefetched rows
            out = []
            for name in names:
                path = os.path.join(self.dir, name)
                with open(path, "rb") as fh:
                    payload = fh.read()
                parts = payload.split(b"\n", 3)
                if parts[0] != b"P6":
                    raise ValueError(f"{path}: not a P6 PPM")
                w, h = (int(x) for x in parts[1].split())
                raster = parts[3]
                out.append(
                    (
                        int(name[len("doc_"):-len(".ppm")]),
                        w,
                        h,
                        len(raster),
                        hashlib.sha256(raster.hex().encode()).hexdigest(),
                    )
                )
            return out

        def _sealed(self, name: str) -> bool:
            """True iff the file parses as a complete P6 image.  The
            engine's writer makes torn files unobservable (temp-name +
            rename), but a FOREIGN producer writing `.ppm` names in
            place can be caught mid-write — such a file stays out of
            the batch AND the offset until it parses complete."""
            try:
                with open(os.path.join(self.dir, name), "rb") as fh:
                    payload = fh.read()
                parts = payload.split(b"\n", 3)
                if parts[0] != b"P6" or len(parts) < 4:
                    return False
                w, h = (int(x) for x in parts[1].split())
                return len(parts[3]) >= w * h * 3
            except Exception:
                return False

        def read(self, start: dict):
            seen = set(start.get("names", []))
            current = sorted(
                f for f in os.listdir(self.dir) if f.endswith(".ppm")
            )
            fresh = [
                f for f in current if f not in seen and self._sealed(f)
            ]
            # iter() over the materialized list: the framework requires an
            # ITERATOR, and a list_iterator pickles (a generator does not)
            return iter(self._parse(fresh)), {"names": sorted(seen | set(fresh))}

        def readBetweenOffsets(self, start: dict, end: dict):
            fresh = sorted(set(end.get("names", [])) - set(start.get("names", [])))
            return iter(self._parse(fresh))

        def commit(self, end: dict) -> None:
            pass  # offsets live in the query checkpoint; nothing to prune

    STREAM_API_AVAILABLE = True
except ImportError:  # pragma: no cover
    STREAM_API_AVAILABLE = False


def _simple_stream_reader(self, schema):
    if not STREAM_API_AVAILABLE:
        raise NotImplementedError("streaming DataSource requires Spark >= 4.0")
    return PpmStreamReader(self.options)


PpmDataSource.simpleStreamReader = _simple_stream_reader
