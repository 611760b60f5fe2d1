"""Oracle-checked multi-format scan queries: delimited text (CSV), JSON
lines, and ORC.

The reference's descriptor layer dispatches per-format scanners —
delimited text with configurable separators (descriptors.h:181-184), Avro
(descriptors.h:258-259), sequence/HBase (descriptors.h:264-290) — around
the parquet core.  These queries upgrade this engine's non-parquet scan
evidence from pytest round-trips to full driver-grade value hashes: each
format's layout is materialized ONCE from the fixture (a write-once asset,
see `assets.py`, like the partitioned/nested parquet layouts), read
back through the format's reader with an explicit schema, and aggregated;
the DuckDB oracle replays the aggregate on the PARQUET base table — so a
hash match proves the format encode→decode round-trip is value-lossless,
not merely that both engines parse the same file.

Scale notes: format conversion is a narrow scan→write job (no shuffle);
the read-back aggregations follow the exact-decimal discipline so they
are bit-stable at any parallelism.  CSV/JSON carry no column statistics,
so unlike parquet there is no row-group skipping — the queries still push
column pruning (CSV reads only referenced columns at the parser level via
the explicit schema) and run map-side-combinable aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from impala_avx2_parquet_scanner_spark.assets import publish
from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.exprs import sum_dbl
from impala_avx2_parquet_scanner_spark.registry import query

#: Timestamp-free lineitem projection: CSV/JSON round-trip of numerics and
#: strings without committing to a timestamp serialization format (the
#: timestamp path is pinned separately in tests/test_sources.py).
_LI_COLS = ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")

_LI_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType(), True),
        StructField("l_linenumber", IntegerType(), True),
        StructField("l_quantity", DoubleType(), True),
        StructField("l_extendedprice", DoubleType(), True),
        StructField("l_returnflag", StringType(), True),
    ]
)


def _materialize(spark: SparkSession, sf_dir: str, fmt: str, **options) -> str:
    """Write-once conversion of the lineitem projection into `fmt`."""
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # cache-hit path skips table(); confs still required

    def build(path):
        src = table(spark, sf_dir, "lineitem").select(*_LI_COLS)
        writer = src.write.mode("overwrite").format(fmt)
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.save(path)

    return publish(sf_dir, f"lineitem_{fmt}", build)


_AGG_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_line
FROM lineitem
GROUP BY l_returnflag
"""


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        sum_dbl(F.col("l_quantity").cast("decimal(12,2)"), "sum_qty"),
        sum_dbl(F.col("l_extendedprice").cast("decimal(12,2)"), "sum_price"),
        F.sum(F.col("l_linenumber").cast("bigint")).alias("sum_line"),
    )


@query("scan_csv_roundtrip", oracle=_AGG_ORACLE, tags=("scan", "csv", "format"))
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text scan (§2A #20, descriptors.h:181-184): lineitem
    written as '|'-separated text with a header (the classic TPC-H tbl
    shape), read back with an explicit schema, aggregated; the oracle
    replays on the parquet base — a hash match proves the text
    encode→parse round-trip loses nothing."""
    path = _materialize(spark, sf_dir, "csv", sep="|", header="true")
    df = (
        spark.read.schema(_LI_SCHEMA)
        .option("sep", "|")
        .option("header", "true")
        .csv(path)
    )
    return _roundtrip_agg(df)


@query("scan_json_roundtrip", oracle=_AGG_ORACLE, tags=("scan", "json", "format"))
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan: the same projection serialized as newline-delimited
    JSON objects and read back with an explicit schema (no inference pass
    — one read of the data, and the declared types pin the doubles)."""
    path = _materialize(spark, sf_dir, "json")
    df = spark.read.schema(_LI_SCHEMA).json(path)
    return _roundtrip_agg(df)


@query("scan_orc_roundtrip", oracle=_AGG_ORACLE, tags=("scan", "orc", "format"))
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan: the columnar sibling format (typed, striped, stats) —
    Spark's built-in vectorized ORC reader plays the same role as the
    parquet path; DuckDB cannot read ORC, but the oracle does not need
    to: it replays the aggregate on the parquet base, so the hash still
    verifies the ORC write→read bytes."""
    path = _materialize(spark, sf_dir, "orc")
    df = spark.read.orc(path)
    return _roundtrip_agg(df)


_SINK_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_returnflag
"""


@query("sink_sorted_roundtrip", oracle=_SINK_ORACLE, tags=("sink", "parquet", "format"))
def sink_sorted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SINK round-trip (§2A #17) through the engine's own writer:
    lineitem re-laid-out with `write_sorted_parquet` on l_shipdate (the
    order-preserving-dictionary analog, dict-encoding.h:393-406 — the
    sort tightens row-group min/max so the date predicate skips stripes),
    read back with the same predicate, aggregated incl. the timestamp
    min/max; the oracle replays on the original fixture.  A hash match
    proves the full sink path — dictionary+snappy encode, range
    partitioning, sorted write, timestamp round-trip — is value-lossless;
    the stats-tightening behavior itself is pinned in
    test_sorted_write_tightens_rowgroup_stats."""
    from impala_avx2_parquet_scanner_spark.sources.parquet_io import (
        write_sorted_parquet,
    )
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # cache-hit path skips table(); UTC TZ still required

    def build(path):
        src = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"
        )
        write_sorted_parquet(src, path, sort_cols=("l_shipdate",), num_files=8)

    path = publish(sf_dir, "lineitem_sorted_shipdate", build)
    df = spark.read.parquet(path).filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz")
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        sum_dbl(F.col("l_quantity").cast("decimal(12,2)"), "sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
