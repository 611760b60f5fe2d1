"""Scan-path operators: projection pruning, metadata-only count(*), limit,
top-n — SURVEY.md §2A rows 1-4, 10, 12.

The reference creates one column reader + IO range per *materialized slot*
(hdfs-parquet-scanner.cc:1410-1451) and short-circuits count(*) from footer
metadata (hdfs-parquet-scanner.cc:1377-1396).  Spark's FileSourceScanExec
does both natively; these queries pin the behavior (and tests assert the
ReadSchema / PushedAggregation in the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.registry import query


@query(
    "scan_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
""",
    tags=("scan", "projection"),
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection pruning (#4): only 3 of 11 lineitem columns are read;
    the parquet ReadSchema contains exactly these columns."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "count_star",
    oracle="SELECT COUNT(*) AS n FROM lineitem",
    tags=("scan", "metadata"),
)
def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only count(*) (#3): no materialized slots → row count from
    footer metadata (`spark.sql.parquet.aggregatePushdown`)."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@query(
    "count_star_grouped",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag
""",
    tags=("scan", "aggregate"),
)
def count_star_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped count: reads exactly one column (the group key)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "limit_topn",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 20
""",
    tags=("scan", "limit"),
)
def limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT early-exit (#12) made deterministic via total order → Spark
    plans TakeOrderedAndProject (per-partition top-k, no full sort)."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(20)
    )


def _full_scan(name: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return table(spark, sf_dir, name)

    fn.__name__ = f"scan_full_{name}"
    fn.__doc__ = (
        f"Whole-table scan of `{name}`: pins byte-exact decode of every "
        "column/type in the fixture (the broadest correctness net — any "
        "reader/encoding drift shows up as a hash mismatch)."
    )
    return fn


# dimension tables are small enough to hash whole at the t2 scale
for _t in ("region", "nation", "supplier", "customer", "part", "documents"):
    query(f"scan_full_{_t}", oracle=f"SELECT * FROM {_t}", tags=("scan", "full"))(
        _full_scan(_t)
    )


@query(
    "scan_min_max",
    oracle="""
SELECT MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem
""",
    tags=("scan", "metadata"),
)
def scan_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX candidates for parquet statistics pushdown (footer column
    stats — the same metadata the reference's row-group pruning reads)."""
    return table(spark, sf_dir, "lineitem").agg(
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_PROFILE_COLS = ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount")

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(MIN({c}) AS DOUBLE) AS min_v,
       CAST(MAX({c}) AS DOUBLE) AS max_v,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS ndv
FROM lineitem"""
    for c in _PROFILE_COLS
)


@query("scan_profile", oracle=_PROFILE_ORACLE, tags=("scan", "statistics"))
def scan_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (min/max/null-count/NDV per column) —
    the statistics-collection pass a catalog runs to feed the CBO, and
    the first query of any data-quality audit.

    One aggregate per column unioned together rather than one wide
    aggregate with N COUNT(DISTINCT)s: each branch's parquet scan reads
    exactly one column (pruned ReadSchema) and avoids Spark's expand-by-N
    plan for multi-distinct — at 100 TB the branches run as independent
    column-pruned scans, each a map-side-combinable aggregation.
    min/max are picked values (not accumulated sums), so doubles are
    hash-exact.

    100 TB note: exact NDV (`countDistinct`) shuffles every distinct
    value per branch; at cluster scale run the profile with
    `approx_count_distinct` instead (the `agg_approx` query's HLL path —
    map-side-combinable sketches, one small shuffle) unless exact NDV is
    a hard requirement."""
    l = table(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            l.select(c).agg(
                F.min(c).cast("double").alias("min_v"),
                F.max(c).cast("double").alias("max_v"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.countDistinct(c).alias("ndv"),
            ).select(F.lit(c).alias("column_name"), "min_v", "max_v", "n_null", "ndv")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PROFILE_APPROX_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(MIN({c}) AS DOUBLE) AS min_v,
       CAST(MAX({c}) AS DOUBLE) AS max_v,
       COUNT(*) - COUNT({c}) AS n_null,
       TRUE AS ndv_within_5pct
FROM lineitem"""
    for c in _PROFILE_COLS
)


@query("scan_profile_approx", oracle=_PROFILE_APPROX_ORACLE, tags=("scan", "statistics"))
def scan_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of `scan_profile`: identical min/max/null-count
    (exact, map-side combinable) but NDV via `approx_count_distinct`
    (HLL++, rsd 2%) — sketches merge map-side, so each branch's shuffle
    carries one sketch per partition instead of every distinct value.

    Oracle contract: exact fields compare exactly; the approximate NDV is
    pinned as a tolerance BOOLEAN (within ±5% of the exact count) — the
    same oracle technique as `agg_approx`.  The in-plan exact NDV exists
    ONLY to compute that verification boolean; the production profile
    drops it (and the distinct-value shuffle with it), leaving the
    sketch-only plan the docstring above describes."""
    l = table(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            l.select(c)
            .agg(
                F.min(c).cast("double").alias("min_v"),
                F.max(c).cast("double").alias("max_v"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.approx_count_distinct(c, 0.02).alias("andv"),
                F.countDistinct(c).alias("xndv"),
            )
            .select(
                F.lit(c).alias("column_name"),
                "min_v",
                "max_v",
                "n_null",
                (
                    (F.col("andv") >= F.col("xndv") * 0.95)
                    & (F.col("andv") <= F.col("xndv") * 1.05)
                ).alias("ndv_within_5pct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_EVOLUTION_ORACLE = """
SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS r_comment FROM region
"""


@query(
    "scan_schema_evolution",
    oracle=_EVOLUTION_ORACLE,
    tags=("scan", "schema"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: declared table schema is wider than the file
    schema → the missing column materializes as NULL for every row.

    The reference resolves each slot's col_path against the file schema
    and fills absent columns with NULL in the template tuple
    (hdfs-parquet-scanner.h:184-186, hdfs-parquet-scanner.cc:1437-1445);
    Spark's parquet reader does the same when the user-supplied read
    schema declares a column the footer lacks.  The fixture `region`
    table carries only (r_regionkey, r_name), so declaring the classic
    TPC-H `r_comment` exercises the fill path.  Extra file columns are
    the dual (ignored via projection) — covered by `scan_project`."""
    import os

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    declared = StructType(
        [
            StructField("r_regionkey", IntegerType(), True),
            StructField("r_name", StringType(), True),
            StructField("r_comment", StringType(), True),  # absent in file
        ]
    )
    path = os.path.join(sf_dir, "region.parquet")
    return spark.read.schema(declared).parquet(path)


def partitioned_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently materialize lineitem as a Hive-partitioned layout
    (`l_returnflag=A/N/R` directories) as a write-once asset and return
    the path.  Subsequent calls reuse the layout, so the registry query's
    steady-state plan is pure partition-pruned read."""
    from impala_avx2_parquet_scanner_spark.assets import publish
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # cache-hit path skips table(); confs still required

    def build(path):
        table(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy(
            "l_returnflag"
        ).parquet(path)

    return publish(sf_dir, "lineitem_by_returnflag", build)


def nested_documents_path(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently materialize documents in a NESTED layout —
    ``doc_id, meta: struct<lang, source, n_chars>, text`` — under a
    per-fixture cache dir (write-once) and return the path.  Exercises
    parquet's Dremel-style nested storage: each struct leaf is its own
    column chunk, so field-level projection and predicates can prune at
    the storage layer exactly like top-level columns."""
    from impala_avx2_parquet_scanner_spark.assets import publish
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # cache-hit path skips table(); confs still required

    def build(path):
        table(spark, sf_dir, "documents").select(
            "doc_id",
            F.struct("lang", "source", "n_chars").alias("meta"),
            "text",
        ).write.mode("overwrite").parquet(path)

    return publish(sf_dir, "documents_nested", build)


_NESTED_PRUNED_ORACLE = """
SELECT doc_id, source AS src, n_chars
FROM documents WHERE lang = 'en'
"""


@query(
    "scan_nested_pruned",
    oracle=_NESTED_PRUNED_ORACLE,
    tags=("scan", "nested"),
)
def scan_nested_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-column pruning + nested predicate pushdown: documents laid
    out with a ``meta`` struct, read with a struct-field filter and a
    struct-field projection.

    The reference resolves each slot against a column *path* through the
    parquet schema tree (descriptors.h SlotDescriptor col_path;
    hdfs-parquet-scanner.cc:1410-1451 creates one reader per materialized
    leaf), so a nested leaf is scanned independently of its siblings.
    Spark's analog: `nestedSchemaPruning` narrows the ReadSchema to
    `meta.lang`/`meta.source`/`meta.n_chars` (the unused `text` — ~95% of
    the bytes — is never read) and the `meta.lang = 'en'` predicate
    pushes down to the scan (plan-asserted in test_pushdown_plans.py).
    The DuckDB oracle replays on the flat base table, proving the nested
    round-trip is value-lossless."""
    path = nested_documents_path(spark, sf_dir)
    d = spark.read.parquet(path)
    return (
        d.filter(F.col("meta.lang") == "en")
        .select(
            "doc_id",
            F.col("meta.source").alias("src"),
            F.col("meta.n_chars").alias("n_chars"),
        )
    )


_PARTITION_PRUNED_ORACLE = """
SELECT l_linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_linestatus
"""


@query(
    "scan_partition_pruned",
    oracle=_PARTITION_PRUNED_ORACLE,
    tags=("scan", "partition"),
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: lineitem laid out Hive-partitioned on
    l_returnflag, read back with an equality partition filter.

    The reference resolves clustering/partition columns from the partition
    descriptor rather than file data (descriptors.h:154-162,178-262) and
    carries the partition id in each scan range (hdfs-parquet-scanner.cc:
    111-115), so a partition predicate never touches file bytes.  Spark's
    analog: the filter lands in `PartitionFilters` on the FileSourceScan
    (asserted in tests/test_pushdown_plans.py) and non-matching partition
    directories are never listed into the scan — the 100 TB behavior where
    a date/flag-partitioned table reads only the requested partitions.
    The DuckDB oracle replays the same aggregate on the unpartitioned base
    table, proving layout + pruning preserve the data."""
    from impala_avx2_parquet_scanner_spark.exprs import sum_dbl

    path = partitioned_lineitem_path(spark, sf_dir)
    part = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return part.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        sum_dbl(F.col("l_quantity").cast("decimal(12,2)"), "sum_qty"),
        sum_dbl(F.col("l_extendedprice").cast("decimal(12,2)"), "sum_price"),
    )


_FLE_KERNELS_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (l_quantity <= 25) AS BIGINT) AS n_le25,
       CAST(COUNT(*) FILTER (l_quantity = 25) AS BIGINT) AS n_eq25,
       CAST(COUNT(*) FILTER (l_quantity > 40) AS BIGINT) AS n_gt40,
       CAST(COUNT(*) FILTER (l_quantity < 2) AS BIGINT) AS n_lt2,
       CAST(COUNT(*) FILTER (l_quantity >= 49) AS BIGINT) AS n_ge49,
       CAST(COUNT(*) FILTER (l_quantity IN (1, 5, 10)) AS BIGINT) AS n_in,
       CAST(COUNT(*) FILTER (NULLIF(l_quantity, 10) <= 25) AS BIGINT)
         AS n_le25_nullable,
       CAST(COUNT(*) FILTER (NULLIF(l_quantity, 10) IS NULL) AS BIGINT)
         AS n_null,
       l_returnflag <= 'N' AS rf_le_n
FROM lineitem
GROUP BY l_returnflag
"""


@query(
    "scan_fle_kernels",
    oracle=_FLE_KERNELS_ORACLE,
    tags=("scan", "encoding", "fle", "pandas_udf"),
)
def scan_fle_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline feature run end-to-end: predicates
    evaluated DIRECTLY ON FLE-ENCODED DATA, value-verified against raw
    rows.  Inside each Arrow batch on the executors, l_quantity is
    packed into bit-plane-transposed 64-value blocks (fle-encoding.h:
    242-342; 6-bit codes) and l_returnflag through the order-preserving
    dictionary (dict-encoding.h:393-447; codes then FLE-packed), then
    ALL SIX SimplePredicates operators — eq/lt/le/gt/ge/in
    (simple-predicates.h:30-205) — run as bit-sliced BitWeaving kernels
    over the plane words, 64 rows per word-op, with zero decode
    (fle-encoding.h:7962-8313); group membership itself comes from
    dictionary-code Eq kernels, and the dictionary RANGE translation
    (binary-search literal → integer compare on codes, dict-encoding.h:
    461-541) is pinned by the rf_le_n column.  NULL semantics run
    through the FLE definition-level path: a validity word per block
    (pack_validity — the reference packs def levels with the same
    encoder) is ANDed into every kernel, so a NULL row never satisfies
    a predicate; the n_le25_nullable / n_null columns evaluate a
    derived nullable column (NULLIF(l_quantity, 10)) kernel-side and
    the oracle replays the SQL three-valued semantics.  Per-batch
    bitset popcounts roll up through one map-side-combinable groupBy;
    the DuckDB oracle recomputes every count from the raw rows — one
    wrong bit in pack, kernel walk, dictionary remap, or def-level
    mask flips the hash.

    Scale: encode+kernel work is embarrassingly per-batch (numpy word
    ops ≈ the AVX2 lanes), the only shuffle carries a few counter rows
    per flag per partition."""
    from collections.abc import Iterator as _Iter

    import numpy as np
    import pandas as pd

    from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
        FleKernels,
        code_bound,
        fle_pack,
        order_preserving_codes,
        pack_validity,
        popcount,
    )

    out_schema = (
        "l_returnflag string, n_rows long, n_le25 long, n_eq25 long, "
        "n_gt40 long, n_lt2 long, n_ge49 long, n_in long, "
        "n_le25_nullable long, n_null long, rf_le_n boolean"
    )

    @trims
    def run(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        for pdf in batches:
            qty = pdf["l_quantity"].to_numpy().astype(np.uint64)
            qplanes, qn = fle_pack(qty, 6)
            qk = FleKernels(qplanes, 6, qn)
            # def-level path: NULLIF(l_quantity, 10) — validity words
            # mask the NULL lanes out of every kernel
            nk = FleKernels(qplanes, 6, qn, validity=pack_validity(qty != 10))
            preds = {
                "n_le25": qk.le(25),
                "n_eq25": qk.eq(25),
                "n_gt40": qk.gt(40),
                "n_lt2": qk.lt(2),
                "n_ge49": qk.ge(49),
                "n_in": qk.in_((1, 5, 10)),
                "n_le25_nullable": nk.le(25),
                "n_null": nk.is_null(),
            }
            rf = pdf["l_returnflag"].to_numpy()
            dictionary, codes = order_preserving_codes(rf)
            width = max(int(codes.max()).bit_length(), 1) if len(codes) else 1
            rplanes, rn = fle_pack(codes, width)
            rk = FleKernels(rplanes, width, rn)
            rows = []
            for flag in dictionary:
                op = code_bound(dictionary, "eq", flag)
                assert op and op[0] == "eq"
                mask = rk.eq(op[1])
                # dictionary RANGE translation, evaluated on codes
                rng = code_bound(dictionary, "le", "N")
                if rng is True:
                    le_n = mask
                elif rng is False:
                    le_n = np.zeros_like(mask)
                else:
                    le_n = mask & rk.le(rng[1])
                rows.append(
                    (
                        flag,
                        popcount(mask),
                        *(popcount(mask & preds[c]) for c in (
                            "n_le25", "n_eq25", "n_gt40", "n_lt2",
                            "n_ge49", "n_in", "n_le25_nullable", "n_null",
                        )),
                        popcount(le_n) == popcount(mask),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "l_returnflag", "n_rows", "n_le25", "n_eq25", "n_gt40",
                    "n_lt2", "n_ge49", "n_in", "n_le25_nullable", "n_null",
                    "rf_le_n",
                ],
            )

    partials = (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity")
        .mapInPandas(run, schema=out_schema)
    )
    sums = [
        F.sum(c).cast("long").alias(c)
        for c in ("n_rows", "n_le25", "n_eq25", "n_gt40", "n_lt2",
                  "n_ge49", "n_in", "n_le25_nullable", "n_null")
    ]
    return partials.groupBy("l_returnflag").agg(
        *sums, F.every("rf_le_n").alias("rf_le_n")
    )


_FLE_ROUNDTRIP_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(NULLIF(CAST(l_quantity AS BIGINT), 10)) AS BIGINT)
         AS n_present,
       CAST(SUM(NULLIF(CAST(l_quantity AS BIGINT), 10)) AS BIGINT)
         AS sum_qty,
       CAST(MIN(NULLIF(CAST(l_quantity AS BIGINT), 10)) AS BIGINT)
         AS min_qty,
       CAST(MAX(NULLIF(CAST(l_quantity AS BIGINT), 10)) AS BIGINT)
         AS max_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query(
    "scan_fle_roundtrip",
    oracle=_FLE_ROUNDTRIP_ORACLE,
    tags=("scan", "encoding", "fle", "datasource"),
)
def scan_fle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLE as an ON-DISK round-trip (the other half of `scan_fle_kernels`,
    which pins the kernels in-plan): lineitem (l_returnflag,
    NULLIF(l_quantity, 10)) is encoded into bit-plane-transposed `.fle`
    segment files through the WRITER half of the registered `fledir`
    DataSource (FleEncoder::Put/Flush → file, fle-encoding.h:8315-8365,
    9806-9812) and read back through its READER half, which parses raw
    file bytes and decodes via `fle_unpack` into Arrow batches
    (FleDecoder::Get, fle-encoding.h:344-567).  The NULLIF derivation
    makes the stored column genuinely nullable, so the validity words
    (the reference packs def levels with the same encoder) round-trip
    through file bytes too — n_present/sum/min/max all silently corrupt
    if one validity bit flips.  The DuckDB oracle replays the aggregate
    from the raw parquet rows: a hash match proves pack → serialize →
    file → parse → unpack is the identity on every value AND every
    null.

    Scale: encode runs inside `mapInPandas` Arrow batches on executors;
    each segment is an independent InputPartition on read; the only
    shuffle carries one row per returnflag per partition."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_dir,
        register_fledir,
    )

    path = materialize_fle_dir(spark, sf_dir)
    register_fledir(spark)
    df = spark.read.format("fledir").option("path", path).load()
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_present"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_FLE_PUSHDOWN_ORACLE = """
WITH stored AS (
  SELECT l_returnflag,
         NULLIF(CAST(l_quantity AS BIGINT), 10) AS q
  FROM lineitem
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(q) AS BIGINT) AS sum_qty,
       CAST(MIN(q) AS BIGINT) AS min_qty,
       CAST(MAX(q) AS BIGINT) AS max_qty
FROM stored
WHERE l_returnflag = 'R' AND q >= 30 AND q % 3 <> 1
"""


@query(
    "scan_fle_pushdown",
    oracle=_FLE_PUSHDOWN_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown"),
)
def scan_fle_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown INTO the FLE scanner — the reference's whole
    identity in one query: conjuncts on a column stored as bit-plane
    FLE segments reach `FleDirReader.pushFilters` and are evaluated as
    BitWeaving kernels ON THE ENCODED PLANE WORDS (fle-encoding.h:
    7962-8313) before anything is decoded; the string equality
    translates through the order-preserving dictionary to a code-space
    Eq kernel (dict-encoding.h:461-541); whole segments whose combined
    bitset is empty are skipped with ZERO value decodes (the skip-ahead
    analog, hdfs-parquet-scanner.cc:1006-1038); and the non-pushable
    `q % 3 <> 1` conjunct is yielded back as a residual Spark evaluates
    after the scan — the pushed-vs-residual split
    (hdfs-parquet-scanner.cc:1825-1834).  The NULL path matters: the
    stored column is NULLIF(l_quantity, 10), and the `>= 30` kernel
    ANDs the validity words, so a NULL lane can never satisfy the
    pushed predicate.  The DuckDB oracle replays the whole thing from
    raw rows."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_dir,
        register_fledir,
    )

    path = materialize_fle_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_quantity") >= 30)
            & (F.col("l_quantity") % 3 != 1)
        )
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_FLE_STAT_PRUNED_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 47 AND 49
GROUP BY l_returnflag
"""


@query(
    "scan_fle_stat_pruned",
    oracle=_FLE_STAT_PRUNED_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "layout"),
)
def scan_fle_stat_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file pruning on a SORTED FLE layout (round 7):
    lineitem is range-partitioned + sorted by quantity before
    segmentation, so each `.fle` segment covers a narrow quantity range
    and carries exact per-column min/max in the `_DONE` manifest —
    computed ON the encoded planes at write time (`plane_min_max`, zero
    decode).  The pushed `BETWEEN 47 AND 49` range lets
    `FleDirReader.partitions()` refute most segments on the DRIVER:
    files whose [min,max] cannot intersect the range are never opened —
    the parquet footer-stats row-group skip
    (hdfs-parquet-scanner.cc:1006-1038) at file granularity, on the
    engine's own storage format.  Survivors still run the BitWeaving
    range kernels + block-skipping decode.  The DuckDB oracle replays
    the aggregate from raw parquet rows, so a wrongly-pruned file
    (missing rows) or a wrong stat (extra rows) flips count, sum, and
    extrema.

    Scale: pruning cost is one manifest read on the driver — O(files)
    string parsing, no data IO; everything else is the standard
    per-segment InputPartition path."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_sorted_dir,
        register_fledir,
    )

    path = materialize_fle_sorted_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(F.col("l_quantity").between(47, 49))
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_FLE_CHUNK_PRUNED_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 23 AND 24
GROUP BY l_returnflag
"""


@query(
    "scan_fle_chunk_pruned",
    oracle=_FLE_CHUNK_PRUNED_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "layout"),
)
def scan_fle_chunk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk stats skipping MID-FILE (round 8) — the tier between
    the manifest's file-level min/max and the kernel mask's block-level
    decode skip: lineitem is sorted WITHIN partitions but NOT range-
    partitioned across them, so every `.fle` segment spans (nearly) the
    full quantity domain — `partitions()` can refute NOTHING from the
    manifest and must open every file — while inside each segment
    values ascend, so the `BSTA` footer's per-1024-value code-space
    min/max refutes all but the narrow band of chunks intersecting
    `BETWEEN 23 AND 24`: `_chunk_kernel` runs the BitWeaving range
    kernels only on candidate blocks and never loads refuted chunks'
    plane words (the page-level statistics read, vs row-group level —
    hdfs-parquet-scanner.cc:1125-1132's all-false batch skip).  The
    DuckDB oracle replays the aggregate from raw parquet rows, so a
    wrongly-refuted chunk (missing rows) or a stale footer (extra rows)
    flips count, sum, and extrema.

    Scale: the footer is ~0.2% of segment bytes and the skip is
    O(n_chunks) comparisons per conjunct before any plane word is
    touched — on the 60M-row microbench this path cut the open-every-
    file scan 216→145 ms and the kernel walk 50→13 ms (MICROBENCH.md
    round-8 section)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_chunked_dir,
        register_fledir,
    )

    path = materialize_fle_chunked_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(F.col("l_quantity").between(23, 24))
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_FLE_SIGNED_ORACLE = """
WITH stored AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) - 25 AS balance
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(balance) AS BIGINT) AS sum_bal,
       CAST(MIN(balance) AS BIGINT) AS min_bal,
       CAST(MAX(balance) AS BIGINT) AS max_bal
FROM stored
WHERE balance >= -10 AND balance <= 5
GROUP BY l_returnflag
"""


@query(
    "scan_fle_signed",
    oracle=_FLE_SIGNED_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown"),
)
def scan_fle_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGNED integers in the FLE container (round 8): the plane codes
    are unsigned (fle-encoding.h packs non-negative codes only), so a
    signed column stores as the OFFSET kind — an i64 base (the column
    minimum) plus ``value - base`` codes, the order-preserving remap
    the reference applies to dictionaries (dict-encoding.h:393-447)
    carried over to the integer domain.  Pushed literals translate by
    the same subtraction, so the BitWeaving kernels, the per-chunk
    BSTA stats, and the manifest's value-space min/max all work
    unchanged; the crossing-zero range here exercises negative
    literals, a negative stored domain, and both stats tiers at once.
    The DuckDB oracle replays the aggregate from raw parquet rows —
    one wrong offset anywhere flips sum, extrema, and count."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_signed_dir,
        register_fledir,
    )

    path = materialize_fle_signed_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(F.col("balance").between(-10, 5))
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("balance").alias("sum_bal"),
        F.min("balance").alias("min_bal"),
        F.max("balance").alias("max_bal"),
    )


_FLE_DOUBLE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price
FROM lineitem
WHERE l_extendedprice > 901.5 AND l_extendedprice <= 25000.25
GROUP BY l_returnflag
"""


@query(
    "scan_fle_double",
    oracle=_FLE_DOUBLE_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "layout"),
)
def scan_fle_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUBLE columns in the FLE container (round 8): IEEE-754 doubles
    store through the SORTABLE-BITS bijection (flip the sign bit of
    non-negatives, all bits of negatives) minus a per-segment code
    base — a monotone map onto the u64 plane domain, so the unsigned
    BitWeaving comparison kernels answer double range predicates
    EXACTLY on encoded data, fractional literals included (the
    order-preserving-dictionary idea, dict-encoding.h:393-447, applied
    to the double domain without a dictionary; the reference's own
    kernels are int-only, fle-encoding.h:212-217).  The layout is
    range-partitioned + sorted by price, so BOTH stats tiers engage in
    value space: the manifest's typed (f64-tagged) min/max prunes
    whole files on the driver, and the per-chunk BSTA footer skips
    plane words mid-file.  The DuckDB oracle replays the aggregate
    from raw parquet rows — a single ULP of error anywhere in the
    map, the base arithmetic, or the literal translation flips min,
    max, and count."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_typed_dir,
        register_fledir,
    )

    path = materialize_fle_typed_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        # subset read schema: Python DSv2 relations don't receive
        # Catalyst's column pruning, so the query declares the two
        # columns it consumes and the reader decodes ONLY their plane
        # sections (the other four never unpack)
        spark.read.schema("l_returnflag string, price double")
        .format("fledir")
        .option("path", path)
        .load()
        .filter(
            (F.col("price") > 901.5) & (F.col("price") <= 25000.25)
        )
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
        F.sum(F.col("price").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_price"),
    )


_FLE_TEMPORAL_ORACLE = """
WITH stored AS (
  SELECT l_shipdate AS ship_ts,
         CAST(l_shipdate AS DATE) AS ship_date,
         (l_returnflag = 'R') AS returned,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price_dec
  FROM lineitem
)
SELECT CAST(EXTRACT(YEAR FROM ship_date) AS INT) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_dec) AS DOUBLE) AS sum_dec,
       MIN(ship_ts) AS min_ts,
       MAX(ship_date) AS max_date
FROM stored
WHERE ship_ts >= TIMESTAMP '1995-06-17 00:00:00'
  AND ship_date < DATE '1997-01-01'
  AND returned
  AND price_dec < 30000.50
GROUP BY ship_year
"""


@query(
    "scan_fle_temporal",
    oracle=_FLE_TEMPORAL_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown"),
)
def scan_fle_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP / DATE / BOOLEAN / DECIMAL columns in the FLE
    container (round 8) — the rest of the reference scanner's type
    dispatch (hdfs-parquet-scanner.cc:670-720: INT96 timestamps,
    bit-packed booleans at width 1, FIXED_LEN_BYTE_ARRAY decimals as
    exact unscaled integers; DATE, which the reference declares NYI at
    parquet-common.h:51-53, comes free because the kernels are
    domain-agnostic).  Every kind reduces to the same u64 planes
    through an order-preserving integer map (epoch micros / days /
    unscaled via the signed offset), so all four pushed conjuncts —
    a timestamp bound, a date bound, a boolean equality, and a
    DECIMAL literal with MORE fractional digits than the column scale
    (30000.50 < scale-2 domain translates via exact floor/ceil
    bounds) — run as plane-word kernels with both stats tiers.  The
    DuckDB oracle replays everything from raw parquet rows."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_typed_dir,
        register_fledir,
    )
    from decimal import Decimal

    path = materialize_fle_typed_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        # subset read schema (see scan_fle_double): only the four
        # consumed columns' plane sections decode
        spark.read.schema(
            "ship_ts timestamp, ship_date date, returned boolean, "
            "price_dec decimal(12,2)"
        )
        .format("fledir")
        .option("path", path)
        .load()
        .filter(
            (F.col("ship_ts")
             >= F.lit("1995-06-17 00:00:00").cast("timestamp"))
            & (F.col("ship_date") < F.lit("1997-01-01").cast("date"))
            & F.col("returned")
            & (F.col("price_dec") < Decimal("30000.50"))
        )
    )
    return (
        df.groupBy(F.year("ship_date").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # exact decimal sum, then ONE deterministic double cast —
            # the engine's sum_dbl convention (a float-space sum would
            # be order-dependent; DuckDB also surfaces decimal sums as
            # doubles, so both sides canonicalize identically)
            F.sum("price_dec").cast("double").alias("sum_dec"),
            F.min("ship_ts").alias("min_ts"),
            F.max("ship_date").alias("max_date"),
        )
    )


_FLE_LIKE_ORACLE = """
SELECT p_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(p_name) AS min_name,
       MAX(p_name) AS max_name,
       CAST(SUM(p_size) AS BIGINT) AS sum_size
FROM part
WHERE p_brand LIKE 'Brand#1%'
  AND p_name LIKE '%ol%'
  AND p_name LIKE '%t'
GROUP BY p_type
"""


@query(
    "scan_fle_like",
    oracle=_FLE_LIKE_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "string"),
)
def scan_fle_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING predicates on dictionary columns (round 8): LIKE
    'Brand#1%' / '%ol%' / '%t' push into the container as
    StringStartsWith / StringContains / StringEndsWith and evaluate
    ONCE PER DICTIONARY ENTRY — |dict| string tests instead of |rows|
    (the reference's dictionary-predicate evaluation,
    dict-encoding.h:461-541; Impala's dictionary filtering taken to
    row granularity).  On the sorted order-preserving dictionary the
    prefix match is a CONTIGUOUS code range (two range kernels with
    chunk-stat skipping); suffix/infix matches run the in-kernel over
    the matching code set.  The p_brand-sorted layout additionally
    lets the manifest's string min/max refute whole files for the
    prefix on the driver.  The DuckDB oracle replays all three LIKEs
    from raw parquet rows."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_part_dir,
        register_fledir,
    )

    path = materialize_fle_part_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            F.col("p_brand").startswith("Brand#1")
            & F.col("p_name").contains("ol")
            & F.col("p_name").endswith("t")
        )
    )
    return df.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("p_name").alias("min_name"),
        F.max("p_name").alias("max_name"),
        F.sum("p_size").alias("sum_size"),
    )


_FLE_NEGATION_ORACLE = """
WITH stored AS (
  SELECT l_returnflag,
         NULLIF(CAST(l_quantity AS BIGINT), 10) AS l_quantity
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(MIN(l_quantity) AS BIGINT) AS min_qty,
       CAST(MAX(l_quantity) AS BIGINT) AS max_qty
FROM stored
WHERE l_quantity != 30
  AND l_quantity NOT IN (1, 2, 3)
  AND l_returnflag != 'A'
GROUP BY l_returnflag
"""


@query(
    "scan_fle_negation",
    oracle=_FLE_NEGATION_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown"),
)
def scan_fle_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound NOT pushed into the container (round 8): `!=`, NOT IN,
    and a negated string equality arrive as Not(EqualTo)/Not(In) and
    evaluate as the COMPLEMENT of the child's kernel mask against the
    valid-lane words — SQL three-valued semantics preserved, since a
    NULL operand fails the negated comparison exactly like the
    positive one (compound-predicates.cc:24-245's NotPredicate over
    the def-level words).  The stored l_quantity is genuinely nullable
    (NULLIF at encode), so the NULL-excluded-by-NOT path runs on real
    validity words; the DuckDB oracle replays the same NOT/NOT-IN
    conjunction from raw rows."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_dir,
        register_fledir,
    )

    path = materialize_fle_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            (F.col("l_quantity") != 30)
            & ~F.col("l_quantity").isin(1, 2, 3)
            & (F.col("l_returnflag") != "A")
        )
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_FLE_PARTITIONED_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
FROM lineitem
WHERE l_returnflag IN ('A', 'R')
  AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30
  AND l_linestatus = 'F'
GROUP BY l_returnflag, l_linestatus
"""


@query(
    "scan_fle_partitioned",
    oracle=_FLE_PARTITIONED_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "layout"),
)
def scan_fle_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVE-STYLE PARTITIONED fledir (round 8): lineitem lives as
    ``l_returnflag=A/N/R`` subdirectories — the reference's
    HdfsPartitionDescriptor table model (descriptors.h:178-262:
    per-partition location, partition-key LITERAL never stored in the
    data files).  The pushed IN ('A','R') on the key prunes the N
    directory on the DRIVER before any manifest is read (partition
    pruning, §2A #4); the quantity range then prunes files via each
    kept partition's manifest stats (quantity-sorted layout), the
    linestatus equality runs as dictionary-code kernels, and the
    reader materializes the key column from the directory name as a
    constant.  The DuckDB oracle replays everything from the flat
    parquet rows — a mispruned partition or a wrong constant key
    flips group counts."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_partitioned_dir,
        register_fledir,
    )

    path = materialize_fle_partitioned_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            F.col("l_returnflag").isin("A", "R")
            & F.col("l_quantity").between(20, 30)
            & (F.col("l_linestatus") == "F")
        )
    )
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "scan_fle_count_meta",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
    tags=("scan", "encoding", "fle", "metadata"),
)
def scan_fle_count_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) on the FLE container (round 8): every
    manifest entry carries its segment's row count, so the total is a
    driver-side manifest read with ZERO segment bytes touched — the
    same shortcut Spark's parquet aggregate pushdown takes from
    footers (§2A #3) and the reference takes from row-group metadata
    (hdfs-parquet-scanner.cc:1377-1396).  The count is computed at
    planning time and surfaced as a one-row DataFrame; the DuckDB
    oracle recomputes it from the raw parquet rows, certifying the
    manifest counts agree with the data (the same certification
    `scan_footer_metadata` gives parquet footers)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_row_count,
        materialize_fle_dir,
    )

    path = materialize_fle_dir(spark, sf_dir)
    n = fledir_row_count(path)
    return spark.createDataFrame([(n,)], "n_rows bigint")


_FLE_MULTICOLUMN_ORACLE = """
WITH stored AS (
  SELECT l_returnflag,
         l_linestatus,
         NULLIF(CAST(l_quantity AS BIGINT), 10) AS q,
         CAST(l_linenumber AS BIGINT) AS ln
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(q) AS BIGINT) AS sum_qty,
       CAST(SUM(ln) AS BIGINT) AS sum_ln,
       CAST(MIN(q) AS BIGINT) AS min_qty,
       CAST(MAX(q) AS BIGINT) AS max_qty
FROM stored
WHERE l_linestatus = 'F' AND q >= 25 AND ln IN (1, 2, 3)
GROUP BY l_returnflag
"""


@query(
    "scan_fle_multicolumn",
    oracle=_FLE_MULTICOLUMN_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown"),
)
def scan_fle_multicolumn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCHEMA-GENERAL fledir container (round 7): four lineitem
    columns — two order-preserving dictionary strings, one nullable int
    (NULLIF-derived, so validity words carry real NULLs), one plain int
    — stored as independent per-column plane sections in one segment
    stream, the reference's one-scanner-per-materialized-slot model
    (hdfs-parquet-scanner.cc:1410-1451) rather than the two-column demo
    layout.  The filter pushes THREE conjuncts that each route to a
    DIFFERENT column's kernels: a dictionary equality (code-space Eq,
    dict-encoding.h:461-541), an int `>= 25` (BitWeaving plane walk ANDed
    with the validity words, so NULL lanes never qualify), and an int
    IN-list (OR of Eq words, fle-encoding.h:8236-8313) — the per-conjunct
    routing of simple-predicates.h:30-205.  Segments whose combined
    bitset is empty decode nothing.  The DuckDB oracle replays everything
    from raw parquet rows, so one wrong bit in any column's planes,
    validity words, or dictionary flips the hash.

    Scale: encode runs inside `mapInPandas` Arrow batches on executors;
    each segment is an independent InputPartition; the only shuffle
    carries one row per returnflag per partition."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_multi_dir,
        register_fledir,
    )

    path = materialize_fle_multi_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            (F.col("l_linestatus") == "F")
            & (F.col("l_quantity") >= 25)
            & F.col("l_linenumber").isin(1, 2, 3)
        )
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_linenumber").alias("sum_ln"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_FLE_DICT_FALLBACK_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(text) AS min_text,
       MAX(text) AS max_text
FROM documents
WHERE lang = 'en' AND text LIKE '%the%' AND n_chars >= 120
GROUP BY source
"""


@query(
    "scan_fle_dict_fallback",
    oracle=_FLE_DICT_FALLBACK_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "string"),
)
def scan_fle_dict_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cardinality strings on the FLE container (round 9): the
    documents table's near-unique free-text column is stored through
    the PLAIN byte-array kind — the reference writer's dictionary
    fallback (MAX_DICTIONARY_ENTRIES = 2^16-1,
    hdfs-parquet-table-writer.cc:59; fallback flush 466-620).  Without
    it a near-unique column (URLs, doc bodies) would bloat every
    segment with a dictionary the size of the data, and past 65535
    distinct values the u16 code domain could not represent it at all
    (the encoder falls back automatically at the cap, test-pinned;
    this materializer hints the text column plain up front, the call a
    writer makes for known free-text).  Predicate split: `lang = 'en'`
    pushes as a dictionary-code kernel and `n_chars >= 120` as an int
    plane kernel, while `text LIKE '%the%'` stays RESIDUAL — plain
    sections have no dictionary to evaluate against and no code space,
    so Spark re-checks it after the scan (the documented contract).
    min/max(text) in the aggregate pin the decoded plain bytes
    end-to-end against the DuckDB oracle's raw parquet replay."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_docs_dir,
        register_fledir,
    )

    path = materialize_fle_docs_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        # subset read schema: doc_id's plane sections never decode
        # (projection pruning — §2A #4 on the container)
        .schema("lang string, source string, text string, n_chars bigint")
        .option("path", path)
        .load()
        .filter(
            (F.col("lang") == "en")
            & F.col("text").contains("the")
            & (F.col("n_chars") >= 120)
        )
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


_FLE_EVOLUTION_ORACLE = """
WITH stored AS (
  SELECT l_returnflag,
         l_linestatus,
         NULLIF(CAST(l_quantity AS BIGINT), 10) AS l_quantity,
         CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(NULL AS DOUBLE) AS l_bonus
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(COUNT(l_bonus) AS BIGINT) AS n_bonus,
       CAST(SUM(COALESCE(l_bonus, 1.0)) AS DOUBLE) AS sum_bonus1
FROM stored
WHERE l_linestatus = 'F' AND l_quantity >= 25
GROUP BY l_returnflag
"""


@query(
    "scan_fle_schema_evolution",
    oracle=_FLE_EVOLUTION_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "schema-evolution"),
)
def scan_fle_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPT-IN fledir schema evolution (round 9): the read schema
    declares `l_bonus double`, a column stored in NO committed segment
    — with option `schemaEvolution=true` the reader materializes it as
    typed NULLs, the reference's missing-column template-tuple NULL
    (hdfs-parquet-scanner.cc:1437-1445), mirroring the parquet path's
    `scan_schema_evolution`.  The decision is made on the DRIVER from
    the manifests' per-segment stats keys (zero segment bytes): absent
    everywhere → NULL-fill; present in only SOME segments → loud error
    (heterogeneous segment schemas stay outside the contract, and a
    bare typo without the option still fails loudly).  Predicates on
    the evolved column never push (no kernels, no stats); the pushed
    linestatus/quantity conjuncts still run as code kernels on the
    stored columns.  COUNT(l_bonus)=0 and SUM(COALESCE(l_bonus,1))
    pin both the NULL-ness and the declared double type against the
    oracle's explicit CAST(NULL AS DOUBLE)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_multi_dir,
        register_fledir,
    )

    path = materialize_fle_multi_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .schema(
            "l_returnflag string, l_linestatus string, "
            "l_quantity bigint, l_bonus double"
        )
        .option("path", path)
        .option("schemaEvolution", "true")
        .load()
        .filter(
            (F.col("l_linestatus") == "F") & (F.col("l_quantity") >= 25)
        )
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count("l_bonus").alias("n_bonus"),
        F.sum(F.coalesce(F.col("l_bonus"), F.lit(1.0))).alias(
            "sum_bonus1"
        ),
    )


_FLE_PARTITIONED_MULTI_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_ln
FROM lineitem
WHERE l_returnflag IN ('N', 'R')
  AND l_linestatus = 'O'
  AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 40
GROUP BY l_returnflag, l_linestatus
"""


@query(
    "scan_fle_partitioned_multi",
    oracle=_FLE_PARTITIONED_MULTI_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "layout"),
)
def scan_fle_partitioned_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL hive-style partitioned fledir (round 9): lineitem as
    ``l_returnflag=X/l_linestatus=Y/`` nested directories — the
    reference's clustering columns are PLURAL (num_clustering_cols,
    descriptors.h:154-162), so partition pruning must consume
    conjuncts on EVERY key level.  The pushed IN ('N','R') and
    `= 'O'` conjuncts prune 4 of the 6 leaves on the DRIVER before
    any manifest is read; the quantity range then prunes files via
    each kept leaf's manifest stats (quantity-sorted layout), and the
    reader materializes BOTH key columns as constants from the
    directory names.  A root mixing different key names at one level
    errors with the layout rule instead of scanning as flat (round-8
    review item).  The DuckDB oracle replays from the flat parquet
    rows — a leaf mispruned on either key flips group counts."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_two_key_dir,
        register_fledir,
    )

    path = materialize_fle_two_key_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            F.col("l_returnflag").isin("N", "R")
            & (F.col("l_linestatus") == "O")
            & F.col("l_quantity").between(10, 40)
        )
    )
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_linenumber").alias("sum_ln"),
    )


_FLE_COMPACTED_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 12 AND 37
GROUP BY l_returnflag
"""


@query(
    "scan_fle_compacted",
    oracle=_FLE_COMPACTED_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "maintenance"),
)
def scan_fle_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION on the fledir container (round 9): the
    materializer writes lineitem as ~48 tiny segments (a micro-batched
    writer's layout), then `compact_fledir` rewrites them in place —
    metadata-only bin planning from the manifest row counts, one Spark
    task per bin decoding + re-encoding through the container's own
    codec, and the existing atomic overwrite commit (temp names →
    rename → `_DONE` swap → stale sweep), so a reader never observes a
    half-compacted table.  This is the operational half of the
    reference writer's file-size management (row-group / HDFS-block
    sizing, hdfs-parquet-table-writer.cc — SURVEY §2A #17): at 100 TB a
    streaming ingest MUST compact or every scan pays per-tiny-file
    open/parse overheads.  The scan then runs a pushed quantity range
    over the COMPACTED segments (manifest min/max + BSTA chunk stats
    are recomputed on the merged values, so all three pruning tiers
    survive the rewrite); the DuckDB oracle replays from the original
    parquet rows — any row lost, duplicated, or corrupted by the
    decode→merge→re-encode cycle flips the counts."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        materialize_fle_compact_dir,
    )

    path = materialize_fle_compact_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(F.col("l_quantity").between(12, 37))
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "scan_fle_count_by_partition",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    tags=("scan", "encoding", "fle", "metadata", "layout"),
)
def scan_fle_count_by_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED metadata-only count(*) on the partitioned FLE container
    (round 9): when the GROUP BY key IS the partition key, the entire
    aggregate folds from the leaf manifests' row counts — one manifest
    walk per `l_returnflag=X` directory, ZERO segment bytes read (the
    grouped form of `scan_fle_count_meta`; the reference's partition
    descriptors carry per-partition locations whose file metadata
    answers exactly this, descriptors.h:178-262 + the count(*)
    shortcut hdfs-parquet-scanner.cc:1377-1396).  At 100 TB this is
    the difference between a dashboard's per-partition row counts
    costing a full scan and costing a metadata read.  The DuckDB
    oracle recomputes the group counts from the raw parquet rows,
    certifying every leaf's manifest against the data — a row routed
    to the wrong partition directory at write time flips two groups."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_partition_row_counts,
        materialize_fle_partitioned_dir,
    )

    path = materialize_fle_partitioned_dir(spark, sf_dir)
    keys, rows = fledir_partition_row_counts(path)
    return partition_counts_df(spark, keys, rows)


def partition_counts_df(spark: SparkSession, keys, rows) -> DataFrame:
    """(keys, typed rows) from `fledir_partition_row_counts` → a
    DataFrame whose key columns carry the VALUE-derived Spark type:
    partition-key values come back typed (int for int-round-tripping
    directory names like ship_year, str otherwise), so hardcoding
    `string` broke every int-keyed layout (ADVICE r9)."""
    key_types = [
        "bigint"
        if rows and all(
            isinstance(r[i], int) and not isinstance(r[i], bool)
            for r in rows
        )
        else "string"
        for i in range(len(keys))
    ]
    return spark.createDataFrame(
        rows,
        ", ".join(f"{k} {t}" for k, t in zip(keys, key_types))
        + ", n_rows bigint",
    )


@query(
    "scan_fle_retention",
    oracle="""
SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE YEAR(l_shipdate) >= 1997
GROUP BY 1
""",
    tags=("scan", "encoding", "fle", "maintenance", "layout"),
)
def scan_fle_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION expiry on the partitioned FLE container (round 9):
    lineitem lives as ``ship_year=YYYY`` leaves and
    `expire_fledir_partitions` atomically retires every pre-1997
    partition — the unit of deletion is the PARTITION, exactly the
    per-partition location model retention uses on every hive-layout
    table (descriptors.h:178-262); each expired leaf's manifest is
    removed FIRST so planning never half-sees it, no kept byte is
    rewritten, and a crash mid-expiry leaves a smaller-but-valid
    table.  At 100 TB this is how data ages out: a metadata operation,
    not a scan-and-rewrite.  The query then aggregates the surviving
    table per year with the key materialized from the directory
    names; the DuckDB oracle replays the retention predicate
    (`YEAR(l_shipdate) >= 1997`) over the raw parquet rows — an
    over-expired or under-expired partition flips whole groups."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        materialize_fle_retention_dir,
    )

    path = materialize_fle_retention_dir(spark, sf_dir)
    register_fledir(spark)
    df = spark.read.format("fledir").option("path", path).load()
    return df.groupBy("ship_year").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


@query(
    "scan_fle_retention_multi",
    oracle="""
SELECT l_linestatus,
       CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE YEAR(l_shipdate) >= 1996
GROUP BY 1, 2
""",
    tags=("scan", "encoding", "fle", "maintenance", "layout"),
)
def scan_fle_retention_multi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RETENTION on a NON-LEADING partition key (round 10): lineitem
    lives as two-level ``l_linestatus=X/ship_year=YYYY`` leaves and
    `expire_fledir_partitions(key="ship_year")` retires every
    pre-1996 year under EVERY status — the reference's partition
    model is n-level (descriptors.h:178-262), so retention must
    address any key, not just the leading one (VERDICT r9 #4).  The
    per-leaf retire work runs as a DISTRIBUTED Spark job (one task
    per group of leaves, unseal→delete ordering kept inside each
    leaf): at a 100k-leaf object-store table the driver-side delete
    loop is the bottleneck, the fan-out is not (VERDICT r9 #5).  The
    query aggregates the surviving table with BOTH keys materialized
    from the directory names; the DuckDB oracle replays the retention
    predicate over the raw parquet rows — an over- or under-expired
    leaf flips whole groups."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        materialize_fle_retention_multi_dir,
    )

    path = materialize_fle_retention_multi_dir(spark, sf_dir)
    register_fledir(spark)
    df = spark.read.format("fledir").option("path", path).load()
    return df.groupBy("l_linestatus", "ship_year").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


_FLE_MINMAX_META_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_returnflag) AS min_flag, MAX(l_returnflag) AS max_flag,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
       CAST(MIN(l_shipdate) AS VARCHAR) AS min_ts,
       CAST(MAX(l_shipdate) AS VARCHAR) AS max_ts,
       MIN(CAST(l_shipdate AS DATE)) AS min_date,
       MAX(CAST(l_shipdate AS DATE)) AS max_date,
       MIN(l_returnflag = 'R') AS min_ret,
       MAX(l_returnflag = 'R') AS max_ret,
       CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           AS min_dec,
       CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           AS max_dec
FROM lineitem
"""


@query(
    "scan_fle_minmax_meta",
    oracle=_FLE_MINMAX_META_ORACLE,
    tags=("scan", "encoding", "fle", "metadata"),
)
def scan_fle_minmax_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only MIN/MAX on the FLE container (round 9): the other
    half of the aggregate-from-metadata shortcut (§2A #3 — Spark's
    `parquet.aggregatePushdown` answers MIN/MAX from footer statistics;
    the reference short-circuits count(*) from row-group metadata,
    hdfs-parquet-scanner.cc:1377-1396).  Every manifest entry carries
    per-column VALUE-SPACE min/max computed on the encoded planes at
    write time (plane_min_max — no decode even then), so the fold is a
    driver-side manifest read with zero segment bytes touched, across
    the WHOLE type matrix: dictionary-string endpoints, sortable-bits
    doubles, epoch-micros timestamps, epoch-days dates, booleans, and
    unscaled decimals (the `t` tags route each back to its logical
    domain).  All-NULL segments carry the empty interval and are
    skipped — SQL MIN/MAX semantics.  The DuckDB oracle recomputes all
    six columns' extrema from the raw parquet rows, certifying the
    manifest stats against the data — the same certification
    `scan_fle_count_meta` gives the row counts (a wrong stat anywhere
    would also silently misprune files, so this pins the pruning
    tier's inputs too)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_min_max,
        fledir_row_count,
        materialize_fle_typed_dir,
    )

    path = materialize_fle_typed_dir(spark, sf_dir)
    mm = fledir_min_max(
        path,
        ["l_returnflag", "price", "ship_ts", "ship_date", "returned",
         "price_dec"],
    )
    row = (
        fledir_row_count(path),
        mm["l_returnflag"][0], mm["l_returnflag"][1],
        float(mm["price"][0]), float(mm["price"][1]),
        str(mm["ship_ts"][0]), str(mm["ship_ts"][1]),
        mm["ship_date"][0], mm["ship_date"][1],
        bool(mm["returned"][0]), bool(mm["returned"][1]),
        float(mm["price_dec"][0]), float(mm["price_dec"][1]),
    )
    return spark.createDataFrame(
        [row],
        "n_rows bigint, min_flag string, max_flag string, "
        "min_price double, max_price double, min_ts string, "
        "max_ts string, min_date date, max_date date, "
        "min_ret boolean, max_ret boolean, min_dec double, "
        "max_dec double",
    )


_FLE_CHANGES_ORACLE = """
SELECT 'insert' AS change_type, l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
UNION ALL
SELECT 'delete' AS change_type, l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE CAST(l_quantity AS BIGINT) >= 45 AND l_returnflag = 'R'
GROUP BY l_returnflag
"""


@query(
    "scan_fle_changes",
    oracle=_FLE_CHANGES_ORACLE,
    tags=("scan", "encoding", "fle", "maintenance", "cdc"),
)
def scan_fle_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between generations (round 10): Delta's
    ``table_changes`` for the container, riding the snapshot timeline
    the commits already record.  `fledir_changes(from, to)` diffs the
    two snapshot manifests at FILE granularity first — compaction
    re-shuffles absorb through the lineage sidecar exactly as the
    stream reader absorbs them, so a compaction-only span reads zero
    bytes — then takes the EXACT multiset row difference (exceptAll)
    over only the genuinely-changed segments: added-rows minus
    removed-rows are the inserts, the reverse the deletes (an update
    is its delete+insert pair, retire-based DML's native
    decomposition).  At 100 TB the shuffle is sized by the CHANGED
    files, never the table.  The query reads two feeds: the history
    fixture's append span (pure inserts — the 1997+ rows) and the
    delete fixture's delete span (pure deletes — the qty≥45 'R'
    rows); DuckDB recomputes both change sets relationally from raw
    parquet, so a leaked carried-over row or a missed change flips
    group counts.  Snapshot segments resolve through `.retired` files;
    a vacuumed span fails loudly — an expired feed is not a feed."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_history_dir,
        register_fledir,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        fledir_changes,
        materialize_fle_delete_dir,
    )

    path_h = materialize_fle_history_dir(spark, sf_dir)
    path_d = materialize_fle_delete_dir(spark, sf_dir)
    register_fledir(spark)

    def agg(df):
        return df.groupBy("_change_type", "l_returnflag").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        ).select(
            F.col("_change_type").alias("change_type"),
            "l_returnflag", "n_rows", "sum_qty",
        )

    ins = agg(fledir_changes(spark, path_h, 1, 2))
    dels = agg(fledir_changes(spark, path_d, 1, 2))
    return ins.unionByName(dels)


_FLE_STREAM_SINK_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query(
    "scan_fle_stream_sink",
    oracle=_FLE_STREAM_SINK_ORACLE,
    tags=("scan", "encoding", "fle", "streaming"),
)
def scan_fle_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SINK half of the container (round 10): lineitem rows
    travel feed → `readStream.format("fledir")` →
    `writeStream.format("fledir")` → committed sink table, and the
    query aggregates the SINK.  The sink's exactly-once contract is
    structural, not best-effort: each task lands its micro-batch
    partition as an invisible temp segment, and the epoch commit
    assigns DETERMINISTIC per-batch names (``seg_s{batch}_{i}.fle``)
    while replacing the manifest's whole per-batch prefix — so a
    replayed epoch (any parallelism) overwrites exactly its own rows
    and sweeps a wider attempt's orphans, the same name-determinism
    Spark's own file sinks rely on.  Sink output is a first-class
    table: manifest stats/sums, bloom option, history generations,
    compaction/retention/merge/delete all compose (test-pinned).  The
    DuckDB oracle aggregates the ORIGINAL lineitem rows — any dropped,
    duplicated, or corrupted row across the read-offset/write-commit
    loop flips the group counts."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_stream_sink_dir,
        register_fledir,
    )

    path = materialize_fle_stream_sink_dir(spark, sf_dir)
    register_fledir(spark)
    df = spark.read.format("fledir").option("path", path).load()
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


_FLE_DELETE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
FROM lineitem
WHERE NOT (CAST(l_quantity AS BIGINT) >= 45 AND l_returnflag = 'R')
GROUP BY l_returnflag
"""


@query(
    "scan_fle_delete_where",
    oracle=_FLE_DELETE_ORACLE,
    tags=("scan", "encoding", "fle", "maintenance", "cdc"),
)
def scan_fle_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE on the FLE container (round 10): the third leg of
    the DML triad (append / merge / delete).  The predicate is a
    conjunction in the container's own pushed-predicate mini-language
    — exactly the SimplePredicates operator set the reference
    evaluates inside its scan (simple-predicates.h:30-205), reused as
    the DML predicate — and write amplification is bounded by the
    SAME metadata tiers the read path prunes with: on this
    quantity-sorted layout only the top-of-range segments can hold
    qty ≥ 45, so the manifest stats confine the rewrite to them and
    every other segment's name survives untouched (test-pinned).
    Matched rows are dropped with exact Kleene semantics on decoded
    values (NULL lanes never match a comparison), re-encoded in a
    distributed Arrow-batch job, and committed atomically with the
    replaced segments retired — the pre-delete generation stays
    time-travel readable until vacuum.  The DuckDB oracle replays
    ``NOT (qty >= 45 AND flag = 'R')`` over raw parquet: an
    over-deleted or leaked row flips counts, sums, or the surviving
    per-group maximum."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        materialize_fle_delete_dir,
    )

    path = materialize_fle_delete_dir(spark, sf_dir)
    register_fledir(spark)
    df = spark.read.format("fledir").option("path", path).load()
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_FLE_MERGE_ORACLE = """
WITH merged AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CASE WHEN o_orderkey % 10 = 3
              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 1000
                        AS DECIMAL(12,2))
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
  FROM orders
  UNION ALL
  SELECT o_orderkey + 10000000, 'X',
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2))
  FROM orders WHERE o_orderkey % 100 = 7
)
SELECT st AS o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price) AS DOUBLE) AS sum_price
FROM merged
GROUP BY st
"""


@query(
    "scan_fle_merge_upsert",
    oracle=_FLE_MERGE_ORACLE,
    tags=("scan", "encoding", "fle", "maintenance", "cdc"),
)
def scan_fle_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / UPSERT on the FLE container (round 10): Delta's ``MERGE
    INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`` at
    segment-rewrite granularity — the CDC-apply operation a table
    format needs once rows can change.  `merge_fledir` materializes
    only the bounded update KEY SET on the driver (the join
    runtime-filter contract), finds affected segments from METADATA
    alone — manifest key min/max refutes non-overlapping files, bloom
    sidecars (hash-util.h:44-95's probe at rest) refute
    overlapping-but-absent ones, which on this hash-scattered fixture
    is the only tier that can bound write amplification — then runs
    the drop-matched-rows rewrite and the insert encode as distributed
    Arrow-batch jobs landing in ONE atomic append commit: replaced
    segments retire (the pre-merge generation stays time-travel
    readable until vacuum), a crashed merge leaves the old table
    intact.  The fixture updates every key%10==3 row (price+1000,
    full-row replacement) and inserts brand-new keys (+10M, status
    'X'); the DuckDB oracle replays the merge relationally over raw
    parquet — a lost update, a leaked old row, or an over-eager
    rewrite flips group sums.  The decimal price keeps every sum
    exact; the final cast to DOUBLE is presentation only."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        register_fledir,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
        materialize_fle_merge_dir,
    )

    path = materialize_fle_merge_dir(spark, sf_dir)
    register_fledir(spark)
    df = spark.read.format("fledir").option("path", path).load()
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price_dec").cast("double").alias("sum_price"),
    )


_FLE_TIME_TRAVEL_ORACLE = """
SELECT 'g1' AS epoch, l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
UNION ALL
SELECT 'current' AS epoch, l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query(
    "scan_fle_time_travel",
    oracle=_FLE_TIME_TRAVEL_ORACLE,
    tags=("scan", "encoding", "fle", "maintenance", "metadata"),
)
def scan_fle_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATIONAL SNAPSHOTS / TIME TRAVEL on the FLE container
    (round 10): every commit copies the manifest it sealed into
    `_history/<gen>.manifest`, and `option("generation", N)` reads the
    table AS OF that commit — resolving names that compaction has
    since merged away through their `.retired` files, the same
    retire-then-vacuum split that already protects checkpointed stream
    replay (the Delta/Iceberg remove-action + VACUUM model grafted
    onto the reference's per-partition descriptor scoping,
    descriptors.h:178-262: each directory owns its own timeline).  The
    fixture commits three generations — pre-1997 rows (overwrite),
    the 1997+ rows (append), then an in-place compaction — and the
    query reads generation 1 AND the current table through the same
    DataSource, tagging each epoch.  The DuckDB oracle recomputes both
    epochs from the raw parquet rows: a snapshot leaking post-append
    rows, or a compaction losing any, flips whole groups.  Snapshot
    expiry is vacuum's job (`expire_fledir_snapshots`): after retired
    files are reclaimed the timeline drops the generations they were
    keeping readable, and an expired read fails loudly, never
    partially."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_history_dir,
        register_fledir,
    )

    path = materialize_fle_history_dir(spark, sf_dir)
    register_fledir(spark)
    g1 = (
        spark.read.format("fledir")
        .option("path", path)
        .option("generation", 1)
        .load()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .select(F.lit("g1").alias("epoch"), "*")
    )
    cur = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .select(F.lit("current").alias("epoch"), "*")
    )
    return g1.unionByName(cur)


_FLE_BLOOM_ORACLE = """
SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
       MD5(CAST(CAST(l_orderkey * 10 + l_linenumber AS BIGINT)
                AS VARCHAR)) AS fp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey * 10 + l_linenumber = 13
GROUP BY 1, 2
"""


@query(
    "scan_fle_bloom_lookup",
    oracle=_FLE_BLOOM_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "layout"),
)
def scan_fle_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-SIDECAR POINT LOOKUP on the FLE container (round 10): the
    reference probes a per-slot bitmap filter BY HASH inside the scan
    and skips rows it refutes (hdfs-parquet-scanner.cc:235-246,
    464-470; CrcHash / MurmurHash2_64 at hash-util.h:44-95) — here the
    same probe is made durable AT REST.  The fixture hash-scatters a
    high-cardinality row id across 8 segments, so every segment's
    manifest min/max spans nearly the whole id domain and the stats
    tier prunes NOTHING — the needle-in-haystack shape every id
    column has after a shuffle, and at 100 TB the difference between
    touching one segment and all of them.  Each segment instead
    carries an opt-in `seg.fle.bf` sidecar (writer option
    ``bloomcols``) with a per-column bloom filter; the executor task
    probes it BEFORE the segment's first byte is read and skips
    refuted files outright.  Both hash domains run: the int id
    (splitmix64 over value space) and its md5 fingerprint string
    (CRC32-pair), as a conjunctive eq pair — either bloom alone
    suffices to skip.  Fail-open by construction: a missing sidecar
    or a mistyped literal just falls back to the exact kernels, so
    the oracle (DuckDB replaying the lookup on the raw rows) is
    certifying a pure optimization, never a semantic."""
    import hashlib as _hashlib

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_bloom_dir,
        register_fledir,
    )

    path = materialize_fle_bloom_dir(spark, sf_dir)
    register_fledir(spark)
    fp13 = _hashlib.md5(b"13").hexdigest()
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter((F.col("rid") == 13) & (F.col("fp") == fp13))
    )
    return df.groupBy("rid", "fp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").alias("sum_qty"),
    )


_FLE_SUM_META_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN l_orderkey % 7 <> 0 THEN 1 END) AS BIGINT)
           AS n_qty,
       CAST(SUM(CASE WHEN l_orderkey % 7 <> 0
                     THEN CAST(l_quantity AS BIGINT) END) AS BIGINT)
           AS sum_qty,
       CAST(SUM(CASE WHEN l_orderkey % 7 <> 0
                     THEN CAST(l_quantity AS BIGINT) END) AS DOUBLE)
           / CAST(COUNT(CASE WHEN l_orderkey % 7 <> 0 THEN 1 END)
                  AS DOUBLE) AS avg_qty,
       CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT) - 5) AS BIGINT)
           AS sum_disc,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_price
FROM lineitem
"""


@query(
    "scan_fle_sum_meta",
    oracle=_FLE_SUM_META_ORACLE,
    tags=("scan", "encoding", "fle", "metadata"),
)
def scan_fle_sum_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only SUM/AVG on the FLE container (round 10): the
    aggregate-from-metadata shortcut pushed PAST what parquet can do —
    footers carry min/max/null-count (`aggregatePushdown` answers
    MIN/MAX from them; the reference short-circuits count(*) from
    row-group metadata, hdfs-parquet-scanner.cc:1377-1396), but no
    footer keeps a SUM.  The container's writer folds one at commit
    time DIRECTLY ON THE ENCODED PLANES (`plane_sum`: plane j
    contributes popcount(plane_j ∧ valid)·2^j — the
    aggregate-on-encoded-data theme of fle-encoding.h applied to
    addition), so SUM and AVG = sum/n_valid are a driver-side manifest
    read with zero segment bytes touched.  Three kinds exercise the
    three arithmetic paths: a NULL-bearing int column (null lanes
    masked out of every popcount), a SIGNED column through the offset
    kind (value sum = code sum + base·n_valid), and a decimal(12,2)
    (unscaled-integer sum, scale restored at read — exact, no float
    drift).  The 8 segments are hash-scattered so no layout trick can
    help; the DuckDB oracle recomputes all sums from the raw parquet
    rows, certifying the manifest stats against the data."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_row_count,
        fledir_sum,
        materialize_fle_sum_dir,
    )

    path = materialize_fle_sum_dir(spark, sf_dir)
    s = fledir_sum(path, ["qty", "disc", "price_dec"])
    sum_qty, n_qty = s["qty"]
    sum_disc, _ = s["disc"]
    sum_dec, _ = s["price_dec"]
    row = (
        fledir_row_count(path),
        n_qty,
        int(sum_qty),
        float(sum_qty) / float(n_qty),
        int(sum_disc),
        float(sum_dec),
    )
    return spark.createDataFrame(
        [row],
        "n_rows bigint, n_qty bigint, sum_qty bigint, avg_qty double, "
        "sum_disc bigint, sum_price double",
    )


_FLE_ZORDER_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 10 AND 15
  AND l_extendedprice BETWEEN 20000.0 AND 30000.0
GROUP BY l_returnflag
"""


@query(
    "scan_fle_zorder",
    oracle=_FLE_ZORDER_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "layout"),
)
def scan_fle_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout on the FLE container (round 9): segments are
    written in Morton-key order of (l_quantity, price), so each covers
    a narrow TWO-DIMENSIONAL box and the manifest's per-column min/max
    prune files for range predicates on EITHER dimension — the
    container analog of the engine's Z-ordered parquet sink
    (`scan_zorder_pruned`) and the 2-D generalization of the
    reference's order-preserving layout trick (dict-encoding.h:
    393-406).  The conjunctive 2-D range here pushes BOTH conjuncts:
    the int range runs as plane kernels, the fractional price range
    through the sortable-bits f64 kind (exact), with manifest and
    BSTA chunk stats refuting at file and mid-file granularity.
    The DuckDB oracle replays the 2-D range from raw parquet — a
    mispruned box flips group counts; tests additionally pin that
    EACH single dimension's range alone prunes files (the locality
    claim a single-column sort cannot make)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_zorder_dir,
        register_fledir,
    )

    path = materialize_fle_zorder_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            F.col("l_quantity").between(10, 15)
            & F.col("price").between(20000.0, 30000.0)
        )
    )
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )


_FLE_RUNTIME_FILTER_ORACLE = """
SELECT l_returnflag,
       s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey <= 3
  AND CAST(l_quantity AS BIGINT) BETWEEN 5 AND 45
GROUP BY l_returnflag, s_nationkey
"""


@query(
    "scan_fle_runtime_filter",
    oracle=_FLE_RUNTIME_FILTER_ORACLE,
    tags=("scan", "encoding", "fle", "datasource", "pushdown", "join"),
)
def scan_fle_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-PRODUCED RUNTIME FILTER on the fledir container (round 9,
    §2A #11): the reference probes join-built bitmap filters INSIDE the
    scan (hdfs-parquet-scanner.cc:235-246) and drops a filter that
    stops paying for itself (464-470).  Spark's bloom runtime filters
    serve the parquet path but cannot reach a Python DataSource scan,
    so the engine builds the filter itself: the filtered supplier
    dimension's key set (bounded collection — exactly what Spark's own
    InSubqueryExec / DPP do on the driver) pushes into the container as
    an IN conjunct, which runs as bit-sliced code kernels on the
    l_suppkey planes BEFORE any decode (fle-encoding.h:8236-8313's In);
    past the `max_keys` budget the filter is disabled and the plain
    join still answers correctly (adaptive disable, test-pinned).  The
    broadcast join then re-verifies every surviving row — like the
    reference, the runtime filter only REDUCES the scan, the join owns
    correctness.  The oracle replays join + filter from raw parquet."""
    from impala_avx2_parquet_scanner_spark.operators.joins import (
        runtime_filter_keys,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_fact_dir,
        register_fledir,
    )

    path = materialize_fle_fact_dir(spark, sf_dir)
    register_fledir(spark)
    dim = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") <= 3)
    keys = runtime_filter_keys(dim, "s_suppkey", max_keys=4096)
    fact = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(F.col("l_quantity").between(5, 45))
    )
    if keys is not None:
        # IN-set conjunct → container code kernels (the runtime filter)
        fact = fact.filter(F.col("l_suppkey").isin(keys))
    joined = fact.join(
        F.broadcast(dim.select("s_suppkey", "s_nationkey")),
        fact["l_suppkey"] == F.col("s_suppkey"),
    )
    return joined.groupBy("l_returnflag", "s_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


_METADATA_COLS_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_orderkey) AS min_okey,
       MAX(l_orderkey) AS max_okey,
       TRUE AS path_has_partition_token,
       TRUE AS files_named_like_parts
FROM lineitem
GROUP BY l_returnflag
"""


@query(
    "scan_metadata_cols",
    oracle=_METADATA_COLS_ORACLE,
    tags=("scan", "metadata", "partition"),
)
def scan_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` file-provenance columns: every row of the
    partitioned lineitem layout is read together with the FILE it came
    from (`_metadata.file_path` / `file_name` — Spark's per-file analog
    of the reference's scan-range → partition-descriptor plumbing,
    hdfs-parquet-scanner.cc:111-115, descriptors.h:154-262).

    Oracle discipline: file names are layout-dependent, so the
    hash-checked columns are (a) per-partition row counts and key spans
    (derivable from the base table) and (b) two INVARIANTS computed from
    the metadata columns on every row — each row's file_path contains
    its own partition's directory token (`l_returnflag=<v>`), and every
    file_name matches Spark's `part-*.parquet` naming.  A single
    misrouted row (provenance pointing at the wrong partition file)
    flips a boolean and fails the hash.  The per-file row distribution
    itself is asserted against a directory listing in
    tests/test_pushdown_plans.py."""
    path = partitioned_lineitem_path(spark, sf_dir)
    rows = spark.read.parquet(path).select(
        "l_returnflag",
        "l_orderkey",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.file_name").alias("fn"),
    )
    token = F.concat(F.lit("/l_returnflag="), F.col("l_returnflag"), F.lit("/"))
    return rows.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_okey"),
        F.max("l_orderkey").alias("max_okey"),
        F.every(F.col("fp").contains(token)).alias("path_has_partition_token"),
        F.every(F.col("fn").rlike(r"^part-.*\.parquet$")).alias(
            "files_named_like_parts"
        ),
    )


#: (table, columns) for the footer-integrity check — the documented
#: fixture schema (TESTDATA.md); flat columns only (a list leaf's footer
#: num_values counts elements, not rows, so embeddings is excluded).
_FOOTER_TABLES: dict[str, tuple[str, ...]] = {
    "lineitem": (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ),
    "orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
}

_FOOTER_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, '{c}' AS column_name,\n"
    f"       CAST(COUNT(*) AS BIGINT) AS n_values,\n"
    f"       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls\n"
    f"FROM {t}"
    for t, cols in _FOOTER_TABLES.items()
    for c in cols
)


@query(
    "scan_footer_metadata",
    oracle=_FOOTER_ORACLE,
    tags=("scan", "metadata", "footer"),
)
def scan_footer_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-only statistics scan — the reference's footer/metadata
    processing surface (§2A #2, hdfs-parquet-scanner.cc footer path; the
    metadata-only count(*) of #3 generalized per column): for every flat
    column of four fixture tables, read ONLY the parquet footers
    (pyarrow metadata — no data pages touched) and report total value
    and null counts summed across row groups and files.  The DuckDB
    oracle recomputes both from the DATA (COUNT(*), COUNT(col)), so a
    hash match certifies the footers agree with the rows they describe
    — the integrity contract every stats-based skip (pred_between's
    row-group skip, min/max pruning) silently relies on.

    Scale: the work unit is a FILE, not a row — the file list
    parallelizes across the cluster and each task reads a few KB of
    footer regardless of data size (at 100 TB this is the planner's
    metadata pass as a distributed job).  One tiny shuffle merges
    per-file partials into per-(table, column) totals."""
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    files = []
    for t in _FOOTER_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            files += [
                (t, os.path.join(path, f))
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
            ]
        else:
            files.append((t, path))
    file_df = spark.createDataFrame(files, "table_name string, path string")

    schema = StructType(
        [
            StructField("table_name", StringType(), False),
            StructField("column_name", StringType(), False),
            StructField("n_values", LongType(), False),
            StructField("n_nulls", LongType(), False),
        ]
    )

    @trims
    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for t, path in zip(pdf["table_name"], pdf["path"]):
                md = pq.ParquetFile(path).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for c in range(g.num_columns):
                        col = g.column(c)
                        if col.path_in_schema not in _FOOTER_TABLES[t]:
                            continue  # nested leaf or unexpected column
                        st = col.statistics
                        rows.append(
                            (
                                t,
                                col.path_in_schema,
                                col.num_values,
                                st.null_count if st is not None else 0,
                            )
                        )
            yield pd.DataFrame(
                rows, columns=["table_name", "column_name", "n_values", "n_nulls"]
            )

    partials = file_df.repartition("table_name").mapInPandas(
        read_footers, schema=schema
    )
    return partials.groupBy("table_name", "column_name").agg(
        F.sum("n_values").alias("n_values"), F.sum("n_nulls").alias("n_nulls")
    )
