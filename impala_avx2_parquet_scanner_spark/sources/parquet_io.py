"""Parquet source/sink — reference operators #17-19 (SURVEY.md §2A).

The reference's HdfsParquetTableWriter (hdfs-parquet-table-writer.cc:89-1107)
builds dictionary-encoded pages with PLAIN fallback past 2^16-1 entries,
snappy by default, and rolls files at HDFS-block-size; its scanner resolves
file schemas against the table schema with missing-column→NULL semantics
(hdfs-parquet-scanner.cc:1437-1445).  Spark equivalents, pinned here:

* dictionary encoding + fallback → parquet-mr defaults (`parquet.enable.
  dictionary=true`, fallback automatic past `parquet.dictionary.page.size`)
* snappy default compression → `compression=snappy`
* file rolling → `spark.sql.files.maxRecordsPerFile` / block size
* schema evolution → `mergeSchema` or explicit `.schema(...)` read
* partitioned layout (HdfsPartitionDescriptor) → `partitionBy(...)`
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from impala_avx2_parquet_scanner_spark.assets import input_stamp
from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

#: Writer defaults mirroring the reference sink.
WRITER_OPTIONS = {
    "compression": "snappy",             # hdfs-parquet-table-writer.cc default codec
    "parquet.enable.dictionary": "true",  # FLE_DICTIONARY-first behavior
}


#: Codecs the reference sink accepts (hdfs-parquet-table-writer.cc:
#: snappy default / gzip / none) plus Spark-native extras.
SUPPORTED_CODECS = ("snappy", "gzip", "none", "uncompressed", "zstd", "lz4")


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    compression: str | None = None,
    bloom_filter_columns: tuple[str, ...] = (),
) -> None:
    """Write with reference-sink semantics (snappy + dictionary, optional
    partitioned layout and file-size cap).

    `compression` selects the codec (reference sink: snappy default,
    gzip, none — hdfs-parquet-table-writer.cc codec dispatch); `None`
    keeps the snappy default.  `max_records_per_file` is the Spark analog
    of the reference's HDFS-block-derived file rolling
    (hdfs-parquet-table-writer.cc:932-978).  `bloom_filter_columns`
    embeds a parquet bloom filter per named column
    (`parquet.bloom.filter.enabled#col`) — the persisted cousin of the
    reference's runtime bitmap filter (hdfs-parquet-scanner.cc:464-470):
    point-lookup scans skip row groups whose bloom filter excludes the
    probe value, complementing dictionary/stats-based skipping for
    high-cardinality columns where min/max ranges are useless."""
    if compression is not None and compression not in SUPPORTED_CODECS:
        raise ValueError(
            f"unsupported codec {compression!r}; expected one of {SUPPORTED_CODECS}"
        )
    writer = df.write.mode(mode)
    options = dict(WRITER_OPTIONS)
    if compression is not None:
        options["compression"] = compression
    for key, value in options.items():
        writer = writer.option(key, value)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    for col in bloom_filter_columns:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


class SessionMemo:
    """Per-session dicts kept ON the session object, under the attribute
    `attr`.  Each memoized frame holds its session, so a memo keyed by
    the session anywhere else (even weakly) would keep every session it
    saw alive; on the session, memo and session form one cycle the
    garbage collector frees together once the session is dropped."""

    def __init__(self, attr: str):
        self.attr = attr

    def setdefault(self, spark: SparkSession, default: dict) -> dict:
        return spark.__dict__.setdefault(self.attr, default)


#: Per-session memo of resolved parquet relations, the catalog cache of
#: this engine (Impala keeps file and schema metadata in its catalog for
#: the same reason).  ``spark.read.parquet`` lists the paths and runs a
#: Spark job to infer the schema from the footers on EVERY call; a
#: DataFrame is an immutable logical plan, so one resolved frame serves
#: every later read of unchanged files.  No data is cached: every action
#: still scans the files.
_RELATIONS = SessionMemo("_spark_graft_relations")

#: Session confs Spark reads when it CREATES a parquet relation: the
#: source version (V1 file scan or V2), and how footer types map to the
#: inferred schema.  A frame made under other values would replay them,
#: so they are part of the memo key.
RELATION_CONFS = (
    "spark.sql.sources.useV1SourceList",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _conf(spark: SparkSession, key: str):
    try:
        return spark.conf.get(key)
    except Exception:  # a conf this Spark build does not know
        return None


def read_parquet(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read with engine confs applied.  With an explicit `schema`, files
    missing a column yield NULLs for it — the reference's schema-evolution
    contract (missing column → NULL template tuple,
    hdfs-parquet-scanner.cc:1437-1445); extra file columns are ignored
    (hdfs-parquet-scanner.h:184-186).

    The frame is memoized per session (:data:`_RELATIONS`), keyed by the
    paths' realpaths, `schema`, `merge_schema` and
    :data:`RELATION_CONFS`.  Each hit is checked against the
    ``assets.input_stamp`` of every path, so a rewritten file or a file
    added to a directory is read afresh.  A path with no stamp (a glob,
    a URI, nothing there) is never memoized."""
    ensure_runtime_confs(spark)
    paths = [path] if isinstance(path, str) else list(path)
    stamp = tuple(input_stamp(p) for p in paths)
    if not all(stamp):
        return _resolve(spark, paths, schema, merge_schema)
    key = (
        tuple(os.path.realpath(p) for p in paths),
        None if schema is None else schema.json(),
        bool(merge_schema),
        tuple(_conf(spark, k) for k in RELATION_CONFS),
    )
    # two threads that miss together both resolve, and the later frame
    # stays: either is a correct frame for these files
    memo = _RELATIONS.setdefault(spark, {})
    hit = memo.get(key)
    if hit is None or hit[0] != stamp:
        hit = memo[key] = (stamp, _resolve(spark, paths, schema, merge_schema))
    return hit[1]


def _resolve(
    spark: SparkSession,
    paths: list[str],
    schema: StructType | None,
    merge_schema: bool,
) -> DataFrame:
    """Create the relation: list `paths` and, without a `schema`, infer
    one from the footers."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: tuple[str, ...],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    num_files: int | None = None,
) -> None:
    """Write with rows sorted (range-partitioned + sorted within files) on
    `sort_cols` — the Spark-native analog of the reference's
    order-preserving dictionary (dict-encoding.h:393-406): the reference
    sorts dictionary codes so RANGE predicates evaluate on encoded data;
    here the global sort tightens parquet row-group/page min-max
    statistics so the same range predicates skip whole row groups at scan
    time.  At 100 TB this is the difference between a range scan reading
    every file and reading only the matching key range."""
    parted = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        # without an explicit count AQE may coalesce small shuffles to one
        # file; at real scale that's the right default
        else df.repartitionByRange(*sort_cols)
    )
    writer = parted.sortWithinPartitions(*sort_cols).write.mode(mode)
    for key, value in WRITER_OPTIONS.items():
        writer = writer.option(key, value)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: tuple[str, ...]
) -> None:
    """Idempotent partitioned backfill: replace ONLY the partitions present
    in `df`, leaving every other partition untouched (dynamic partition
    overwrite).

    This is the operational primitive a 100 TB partitioned layout needs:
    re-running a day's pipeline rewrites that day's directory atomically
    per-partition instead of truncating the whole table (static overwrite)
    or duplicating rows (append).  The reference's per-partition file
    management (HdfsPartitionDescriptor, descriptors.h:178-262) implies
    the same partition-directory granularity."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        write_parquet(df, path, mode="overwrite", partition_by=partition_by)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _quantize(c, mn, mx, bits: int):
    """Min-max normalize a column into [0, 2^bits) as BIGINT."""
    span = F.greatest(mx.cast("double") - mn.cast("double"), F.lit(1e-300))
    norm = (c.cast("double") - mn.cast("double")) / span
    top = (1 << bits) - 1
    return F.least(F.floor(norm * F.lit(float(top))).cast("bigint"), F.lit(top))


def zorder_value(
    col_a, col_b, min_a, max_a, min_b, max_b, bits: int = 16
):
    """Morton (Z-order) key: bit-interleave two quantized columns.

    Sorting by this key gives BOTH columns spatial locality (~sqrt of the
    per-file span a single-column sort would give each), so parquet
    min/max row-group statistics prune range predicates on either
    dimension — the two-dimensional generalization of the reference's
    order-preserving dictionary trick (dict-encoding.h:393-406)."""
    qa = _quantize(col_a, min_a, max_a, bits)
    qb = _quantize(col_b, min_b, max_b, bits)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        abit = F.shiftright(qa, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(qb, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return z


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    mode: str = "overwrite",
    num_files: int | None = None,
    bits: int = 16,
) -> None:
    """Write range-partitioned + sorted on the Z-order key of two columns.

    Column min/max come from one cheap aggregate (broadcast as a single
    row — no driver round-trip in the plan), the Z key is pure JVM-side
    bit arithmetic, and the layout shuffle is `repartitionByRange` on the
    key — exactly one extra exchange over a plain write, independent of
    data size."""
    stats = df.agg(
        F.min(col_a).alias("_mna"),
        F.max(col_a).alias("_mxa"),
        F.min(col_b).alias("_mnb"),
        F.max(col_b).alias("_mxb"),
    )
    z = zorder_value(
        F.col(col_a), F.col(col_b),
        F.col("_mna"), F.col("_mxa"), F.col("_mnb"), F.col("_mxb"),
        bits=bits,
    )
    keyed = df.crossJoin(F.broadcast(stats)).withColumn("_z", z)
    parted = (
        keyed.repartitionByRange(num_files, "_z")
        if num_files
        else keyed.repartitionByRange("_z")
    )
    writer = (
        parted.sortWithinPartitions("_z")
        .drop("_z", "_mna", "_mxa", "_mnb", "_mxb")
        .write.mode(mode)
    )
    for key, value in WRITER_OPTIONS.items():
        writer = writer.option(key, value)
    writer.parquet(path)


def compact_partitions(
    spark: "SparkSession",  # noqa: F821 - forward ref, imported by callers
    path: str,
    partition_by: tuple[str, ...],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction for a partitioned parquet layout: re-read the
    table, coalesce each partition's data to ceil(bytes / target) files,
    and rewrite in place via dynamic partition overwrite.

    Streaming ingest (see stream_demo.foreach_batch_upsert_sink) and
    frequent backfills fragment partitions into many tiny files; at 100 TB
    the resulting footer/open overhead dominates scan time (the reference
    pays the same cost per ProcessSplit — one footer + dictionary decode
    per file, hdfs-parquet-scanner.cc).  Compaction is the standing
    maintenance job: one `repartition(n, keys)` shuffle sized from the
    partitions' actual on-disk bytes, then the same idempotent
    partition-scoped overwrite the ingest path uses — safe to re-run, and
    partitions not present in the read are untouched.

    Returns {"files_before": ..., "files_after": ...} for observability."""
    import math
    import os

    def _stats() -> tuple[int, int]:
        n_files, n_bytes = 0, 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        return n_files, n_bytes

    files_before, total_bytes = _stats()
    df = spark.read.parquet(path)
    n_parts = max(df.select(*partition_by).distinct().count(), 1)
    files_per_part = max(
        math.ceil(total_bytes / max(n_parts, 1) / target_file_bytes), 1
    )
    compacted = df.repartition(n_parts * files_per_part, *partition_by)
    overwrite_partitions(compacted, path, partition_by)
    return {"files_before": files_before, "files_after": _stats()[0]}
