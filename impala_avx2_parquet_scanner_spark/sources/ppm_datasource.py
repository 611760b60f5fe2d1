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

Scale: `partitions()` splits the file listing into batches sized by
`sealed_dir.partition_count`, each read independently on an executor —
the same elasticity as any file source.

The writer, the `_DONE` manifest the readers trust and the stream offset
are the sealed-directory protocol of `sources/sealed_dir.py`, shared with
`fledir` and `avrodir`.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
)

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.registry import query
from impala_avx2_parquet_scanner_spark.sources import sealed_dir

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
        # Python DataSource options arrive lower-cased
        np_opt = options.get("numpartitions")
        self.n_parts = int(np_opt) if np_opt is not None else None
        self._doc_lo: int | None = None  # inclusive
        self._doc_hi: int | None = None  # inclusive
        self._doc_in: set[int] | None = None

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

    @trims
    def partitions(self):
        names, _ = sealed_dir.listing(self.dir, ".ppm")
        files = [
            os.path.join(self.dir, f) for f in names if self._keep(_doc_id(f))
        ]
        n = sealed_dir.partition_count(len(files), n_parts=self.n_parts)
        return [_PpmFilesPartition(b) for b in sealed_dir.deal(files, n)]

    @trims
    def read(self, partition):
        # real file IO + header parse on the executor, one batch per split
        yield from map(_parse_ppm, partition.paths)


def _doc_id(name: str) -> int:
    return int(os.path.basename(name)[len("doc_"):-len(".ppm")])


def _parse_ppm(path: str) -> tuple:
    """One P6 file → its output row."""
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
    return (
        _doc_id(path),
        w,
        h,
        len(raster),
        hashlib.sha256(raster.hex().encode()).hexdigest(),
    )


class PpmDirWriter(DataSourceWriter):
    """Custom SINK (the writer half of the scanner registration —
    §2A #17's role for this format) under the sealed-directory protocol
    (`sealed_dir`): each task stages its rows' payloads as
    `doc_<id>.ppm.tmp-<token>`, invisible to both reader halves, and
    `commit` renames them, swaps the `_DONE` manifest (an append keeps
    the previous entries) and only then, for mode('overwrite'), removes
    the stale `.ppm` files; `abort` deletes this attempt's temps.  Input
    schema: (doc_id bigint, payload binary) where payload is a complete
    P6 file."""

    def __init__(self, options, overwrite: bool):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("ppmdir requires option 'path'")
        self.overwrite = overwrite

    @trims
    def write(self, rows):
        msg = sealed_dir.Staged(self.dir)
        for row in rows:
            msg.put(f"doc_{row.doc_id}.ppm", bytes(row.payload))
        return msg

    @trims
    def commit(self, messages):
        sealed_dir.commit(
            self.dir, sealed_dir.staged(messages), suffix=".ppm",
            overwrite=self.overwrite,
        )

    @trims
    def abort(self, messages):
        sealed_dir.abort(self.dir, messages)


class PpmDataSource(DataSource):
    @classmethod
    def name(cls):
        return "ppmdir"

    @trims
    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        return PpmDirReader(self.options)

    @trims
    def writer(self, schema, overwrite):
        return PpmDirWriter(self.options, overwrite)

    def simpleStreamReader(self, schema):
        return PpmStreamReader(self.options)


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


class PpmStreamReader(sealed_dir.SealedStreamReader):
    """Streaming form of the custom scanner: each micro-batch picks up
    the files not yet processed, with the file-name-set offset of
    `sealed_dir.SealedStreamReader` (exactly-once file processing under
    checkpointing, arrival-order independent).  The reference has no
    streaming surface; this is the scan-framework story carried into
    Structured Streaming (SURVEY §2B streaming row)."""

    fmt = "ppmdir"
    suffix = ".ppm"

    def _rows(self, names):
        # a LIST: the stream framework pickles prefetched rows
        return [_parse_ppm(os.path.join(self.dir, n)) for n in names]

    def _sealed(self, name: str) -> bool:
        """True iff the file parses as a complete P6 image — asked only
        in a directory without `_DONE`, where a FOREIGN producer writing
        `.ppm` names in place can be caught mid-write; such a file stays
        out of the batch AND the offset until it parses complete."""
        try:
            _parse_ppm(os.path.join(self.dir, name))
            return True
        except Exception:
            return False
