"""Table catalog: loads the test-fixture parquet tables as DataFrames.

Mirrors the reference's descriptor/catalog layer (descriptors.h:149-262 —
table + partition descriptors resolved against file schemas).  In Spark the
descriptor table collapses to `spark.read.parquet` + schema resolution; the
one real piece of work here is guarding the `events.ts` column's physical
type.  The shipped fixtures carry TIMESTAMP(µs), which Spark reads
natively; if a fixture instead shipped int64 nanoseconds (which Spark's
vectorized reader surfaces as bigint under
`spark.sql.legacy.parquet.nanosAsLong`), `_events` floor-converts it
to microsecond `timestamp_ntz`, matching DuckDB's ns→µs truncation so
oracle comparisons agree either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.sources.parquet_io import (
    SessionMemo,
    read_parquet,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Per-session memo of the frames this module DERIVES from a base table
#: (the `events` conversion, the spread).  Base tables themselves are
#: `parquet_io.read_parquet` frames, memoized there and checked against
#: the files' stamp on every call.  Each entry here holds the base frame
#: it was derived from, and a base that was resolved again (its file was
#: rewritten, or a relation conf changed) is derived again.  Kept on
#: the session, like `parquet_io._RELATIONS`.
_DERIVED = SessionMemo("_spark_graft_derived")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-required confs applied."""
    base = read_parquet(spark, _path(sf_dir, name))
    if name != "events":
        return base
    return _derived(spark, ("events", os.path.realpath(sf_dir)), base,
                    _events)


def _derived(spark: SparkSession, key: tuple, base: DataFrame, derive):
    """``derive(base)``, memoized per session under `key` for as long as
    the same `base` frame comes back."""
    memo = _DERIVED.setdefault(spark, {})
    hit = memo.get(key)
    if hit is None or hit[0] is not base:
        hit = memo[key] = (base, derive(base))
    return hit[1]


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _events(df: DataFrame) -> DataFrame:
    """Dtype guard for events.ts.  The shipped fixtures are TIMESTAMP(µs)
    and pass through untouched; a nanos-int64 fixture (read as bigint under
    nanosAsLong) is floor-converted ns → µs → timestamp_ntz (session TZ is
    UTC so the LTZ→NTZ hop is the identity).  DuckDB performs the same
    floor when it reads such a file, so both engines see identical
    microsecond values either way."""
    ts_field = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    if ts_field.get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def pin_above_spread(col):
    """Identity on every row, but nondeterministic to the optimizer:
    ``when(spark_partition_id() >= 0, col)`` — partition ids are always
    non-negative, so the branch always takes ``col``.

    Why: Catalyst pushes deterministic filters AND pruning projections
    straight through ``spread_table``'s repartition back into the
    single-split scan task, re-serializing exactly the CPU the spread
    exists to parallelize (round-10 stage profiles: pipeline_curate's
    whole 12-regex lang-ID gate and the text family's tokenize
    projections all ran below the exchange).  Wrapping the expensive
    expression in this tautology makes its parent operator
    nondeterministic, which blocks the push, so the work lands after the
    exchange on every core.  A standalone nondeterministic conjunct does
    NOT suffice (the push splits conjunctions and takes the
    deterministic parts), and ``rand(seed) > -1`` specifically is
    constant-folded away by Spark 4.1's Rand range analysis.  When
    spread is a no-op (splits ≥ cores — any real scale) there is no
    exchange and the pin is inert stage-wise.

    Schema note (ADVICE r10): ``when()`` without ``otherwise()`` makes
    the wrapped column nullable in the output schema.  Values are
    unchanged (the condition is always true), and the driver's
    canonicalizer compares column NAMES + values, never nullability —
    but a downstream consumer adding a not-null assumption on a pinned
    column should read this first."""
    return F.when(F.spark_partition_id() >= F.lit(0), col)


def spread_table(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """`table`, hash-repartitioned to the session's parallelism when the
    scan would otherwise under-parallelize — guide §2.5 input skew: the
    text/curate family fuses tokenize/regex/hash CPU into the scan stage,
    so a table that arrives as one small file (every local fixture) runs
    that CPU in ONE task.  The probe is the scan's own split count: on a
    real-scale table (splits ≥ cores) this returns the base plan
    unchanged — no added exchange at 100 TB — while locally one small
    hash shuffle of the raw rows buys every-core parallelism for the
    expensive projections downstream.  Hash (not round-robin) keyed so no
    sort-before-repartition cost and a deterministic row→partition map.
    Memoized per base frame (`_derived`) so the split probe runs once per
    session."""
    return _derived(
        spark, ("spread", os.path.realpath(sf_dir), name, key),
        table(spark, sf_dir, name), lambda base: _spread(spark, base, key),
    )


def _spread(spark: SparkSession, df: DataFrame, key: str) -> DataFrame:
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, key)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (SQL-API entry point)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
