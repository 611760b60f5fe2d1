"""Join surface (SURVEY.md §2B 'Joins').

The reference's scanner consumes join-produced runtime bitmap filters
(hdfs-parquet-scanner.cc:235-246) — the Impala side of a broadcast hash
join.  Here Catalyst owns join strategy; these operators pin semantics for
every join type and use explicit `broadcast()` hints where a 100 TB plan
must not sort-merge (dimension tables).  Runtime bloom filters
(`spark.sql.optimizer.runtime.bloomFilter.enabled`, set in session.py) are
the scale analog of the reference's bitmap filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.registry import query


@query(
    "join_broadcast_inner",
    oracle="""
SELECT l_orderkey, l_linenumber, p_name, p_brand,
       l_quantity, p_retailprice
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size > 47 AND l_quantity >= 49
""",
    tags=("join", "broadcast"),
)
def join_broadcast_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join, dimension side broadcast (no shuffle of the fact
    table; with bloom filters on, part's filter semi-reduces the scan —
    the reference's runtime bitmap filter, hdfs-parquet-scanner.cc:260-263).

    The explicit hint IS the demonstrated operator here — this query
    pins the broadcast strategy the way `join_shuffle_hash` /
    `join_sort_merge` pin theirs, so the trio stays plan-asserted.
    Production joins (the TPC-H family) carry no hints on SF-scaled
    sides; AQE chooses there (see PLANS.md)."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    p = table(spark, sf_dir, "part").filter(F.col("p_size") > 47)
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_name", "p_brand", "l_quantity", "p_retailprice"
    )


@query(
    "join_left_outer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders
  ON c_custkey = o_custkey AND o_orderstatus = 'F' AND o_totalprice > 400000
WHERE c_custkey <= 200
""",
    tags=("join", "outer"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with join-side residual condition: unmatched customers
    keep NULL order columns."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    o = table(spark, sf_dir, "orders")
    cond = (
        (c.c_custkey == o.o_custkey)
        & (o.o_orderstatus == "F")
        & (o.o_totalprice > 400000)
    )
    return c.join(o, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
SELECT a.k AS k_left, b.k AS k_right, a.n_a AS n_a, b.n_b AS n_b
FROM (SELECT o_custkey AS k, COUNT(*) AS n_a FROM orders
      WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
FULL OUTER JOIN
     (SELECT o_custkey AS k, COUNT(*) AS n_b FROM orders
      WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
  ON a.k = b.k
""",
    tags=("join", "outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (customers with only-open vs
    only-finished orders appear one-sided)."""
    o = table(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return a.join(b, a.k == b.k, "full").select(
        a.k.alias("k_left"), b.k.alias("k_right"), "n_a", "n_b"
    )


@query(
    "join_semi",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > 450000
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
""",
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): emits each qualifying order once no matter
    how many lineitems match."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_acctbal < -500
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
""",
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < -500)
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_self",
    oracle="""
SELECT a.l_orderkey AS l_orderkey, a.l_linenumber AS line_a, b.l_linenumber AS line_b
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
WHERE a.l_quantity >= 49 AND b.l_quantity >= 49
""",
    tags=("join", "self"),
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join with inequality residual: pairs of heavy lines within an
    order (equi-key shuffle + non-equi filter)."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    a = l.alias("a")
    b = l.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("line_a"),
        F.col("b.l_linenumber").alias("line_b"),
    )


@query(
    "join_range_nonequi",
    oracle="""
SELECT p_partkey, p_name, t.bucket AS bucket
FROM part
JOIN (SELECT 'low' AS bucket, 0 AS lo, 500 AS hi
      UNION ALL SELECT 'mid', 500, 1200
      UNION ALL SELECT 'high', 1200, 100000) t
  ON p_retailprice >= t.lo AND p_retailprice < t.hi
WHERE p_size >= 48
""",
    tags=("join", "range"),
)
def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (non-equi) join against a small bucket table — planned as
    BroadcastNestedLoopJoin; small side MUST broadcast at scale."""
    p = table(spark, sf_dir, "part").filter(F.col("p_size") >= 48)
    buckets = spark.createDataFrame(
        [("low", 0, 500), ("mid", 500, 1200), ("high", 1200, 100000)],
        "bucket string, lo int, hi int",
    )
    return p.join(
        F.broadcast(buckets),
        (p.p_retailprice >= buckets.lo) & (p.p_retailprice < buckets.hi),
    ).select("p_partkey", "p_name", "bucket")


@query(
    "join_shuffle_hash",
    oracle="""
SELECT o_orderkey, o_orderdate, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 450000
""",
    tags=("join", "strategy"),
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-key equi-join with an explicit SHUFFLE_HASH strategy hint —
    the physical plan a 100 TB fact⋈fact join should take when neither
    side broadcasts and sort order isn't needed downstream (hash build
    beats sort-merge's two full sorts; Impala's hash join is the
    reference's surrounding operator surface, SURVEY §2B).

    Results are strategy-independent — the oracle and the broadcast/SMJ
    variants all hash-match; only the physical operator differs
    (asserted in tests/test_pushdown_plans.py)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    c = table(spark, sf_dir, "customer")
    return o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_orderdate", "c_name", "o_totalprice"
    )


_NULL_SAFE_ORACLE = """
WITH a AS (
  SELECT NULLIF(o_orderstatus, 'O') AS k, COUNT(*) AS n_a
  FROM orders GROUP BY 1
),
b AS (
  SELECT NULLIF(o_orderstatus, 'F') AS k, COUNT(*) AS n_b
  FROM orders GROUP BY 1
)
SELECT a.k AS key_a, b.k AS key_b, a.n_a, b.n_b
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@query("join_null_safe", oracle=_NULL_SAFE_ORACLE, tags=("join", "null"))
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of being dropped, the semantics plain `=`
    silently loses.  The NULLIF-derived keys manufacture NULLs
    deterministically from the data so the NULL-matches-NULL row is
    actually exercised.

    `<=>` is a hashable join key in Spark (EqualNullSafe), so this stays
    a hash join — but note all NULLs land in ONE hash bucket: at 100 TB
    a null-heavy key needs the same skew treatment as any hot key
    (operators/skew.py)."""
    o = table(spark, sf_dir, "orders")
    a = o.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("key_a")
    ).agg(F.count(F.lit(1)).alias("n_a"))
    b = o.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("key_b")
    ).agg(F.count(F.lit(1)).alias("n_b"))
    return a.join(b, F.col("key_a").eqNullSafe(F.col("key_b"))).select(
        "key_a", "key_b", "n_a", "n_b"
    )


@query(
    "join_sort_merge",
    oracle="""
SELECT o_orderkey, o_orderdate, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
""",
    tags=("join", "strategy"),
)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same equi-join shape with an explicit MERGE (sort-merge) hint —
    completing the strategy trio (broadcast / shuffled-hash / sort-merge).
    Sort-merge is the right 100 TB plan when the output feeds a
    sort-consuming operator (its sort order is reusable downstream) or
    when build-side hash tables would exceed executor memory; it is the
    only strategy that spills gracefully on both sides.
    Plan-asserted in tests/test_pushdown_plans.py."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = table(spark, sf_dir, "customer")
    return o.join(c.hint("MERGE"), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_orderdate", "c_name", "o_totalprice"
    )


_RANGE_BINNED_ORACLE = """
SELECT a.o_orderkey, COUNT(*) AS n_nearby
FROM orders a JOIN orders b
  ON abs(datediff('day', b.o_orderdate, a.o_orderdate)) <= 3
 AND a.o_orderkey <> b.o_orderkey
GROUP BY a.o_orderkey
"""


@query("join_range_binned", oracle=_RANGE_BINNED_ORACLE, tags=("join", "range"))
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact interval self-join (orders within ±3 days of each
    other) executed as a *binned* range join: both sides bucketed into
    7-day bins, the probe side exploded to its bin ±1, equi-join on the
    bin key, residual |Δdays| ≤ 3 filter after.

    This is the scale pattern for range joins with NO equi key: a naive
    non-equi join is a BroadcastNestedLoopJoin (O(n·m), only one side
    may broadcast); binning turns it into a plain shuffled equi-join
    whose fan-out is bounded by 3 bins per row, so it survives two
    100 TB inputs.  Bin width trades shuffle fan-out (width ≫ range →
    fewer duplicate probes) against residual-filter waste (width ≈
    range keeps candidate pairs tight)."""
    anchor = F.lit("1992-01-01").cast("date")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), anchor).alias("day"),
    )
    width = 7
    left = o.withColumn("bin", F.floor(F.col("day") / width))
    r = o.select(
        F.col("o_orderkey").alias("b_orderkey"), F.col("day").alias("b_day")
    ).withColumn("bin0", F.floor(F.col("b_day") / width))
    right = r.withColumn(
        "bin",
        F.explode(
            F.array(F.col("bin0") - 1, F.col("bin0"), F.col("bin0") + 1)
        ),
    )
    joined = left.join(right, "bin").filter(
        (F.abs(F.col("day") - F.col("b_day")) <= 3)
        & (F.col("o_orderkey") != F.col("b_orderkey"))
    )
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_nearby"))


def bucketed_orderkey_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Idempotently materialize lineitem and orders as BUCKETED tables
    (8 buckets on the orderkey, bucket-sorted) as write-once assets and
    return their catalog names.  Session catalogs are in-memory, so the
    name is (re-)registered over the published files as an EXTERNAL
    bucketed table — the bucket spec in the DDL is what lets the planner
    trust the files' hash layout — and the registry query's steady-state
    plan is the pure co-located read."""
    from impala_avx2_parquet_scanner_spark.assets import asset_key, publish
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    key = asset_key(sf_dir)  # rewritten inputs get new table names
    names = []
    for tbl, col, nm in (
        ("lineitem", "l_orderkey", "li_bkt"),
        ("orders", "o_orderkey", "ord_bkt"),
    ):
        name = f"{nm}_{key}"
        if not spark.catalog.tableExists(name):

            def build(path, tbl=tbl, col=col, name=name):
                # saveAsTable is the bucketed writer; its catalog entry
                # names the unpublished directory, so it is dropped (the
                # table is EXTERNAL: the files stay)
                try:
                    table(spark, sf_dir, tbl).write.bucketBy(8, col).sortBy(
                        col
                    ).option("path", path).mode("overwrite").saveAsTable(name)
                finally:
                    spark.sql(f"DROP TABLE IF EXISTS {name}")

            path = publish(sf_dir, f"bucketed_{tbl}", build)
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in table(spark, sf_dir, tbl).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO 8 BUCKETS "
                f"LOCATION '{path}'"
            )
        names.append(name)
    return names[0], names[1]


_BUCKETED_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(4,2)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query(
    "join_bucketed_colocated",
    oracle=_BUCKETED_ORACLE,
    tags=("join", "bucketing", "layout"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join on CO-LOCATED bucketed layouts — the 100 TB
    lever when neither side broadcasts: lineitem and orders are stored
    bucketed 8-ways on the orderkey (hash-pre-shuffled at WRITE time),
    so the sort-merge join consumes both bucket layouts directly and
    the join itself needs ZERO exchanges — the only shuffle left in the
    plan is the final priority rollup (asserted: budget 2 in
    tests/test_plan_budgets.py, join-side exchange-freedom pinned in
    tests/test_bucketing.py).  The `merge` hint pins the SMJ path so the
    plan shape doesn't flip with the broadcast threshold.  The DuckDB
    oracle replays the identical join/rollup on the UNBUCKETED base
    tables — layout is a physical property; values must be unchanged.
    Exact-decimal revenue keeps the sum order-independent.  Reference
    parity: partitioned-hash-join + clustered-layout scope
    (descriptors.h:154-262), SURVEY §2B joins/partition machinery."""
    li, od = bucketed_orderkey_tables(spark, sf_dir)
    from impala_avx2_parquet_scanner_spark.exprs import disc_price, sum_dbl

    j = (
        spark.table(li)
        .hint("merge")
        .join(spark.table(od), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        sum_dbl(disc_price(), "revenue"),
    )


def runtime_filter_keys(
    dim_df: DataFrame, key: str, max_keys: int = 4096
) -> "list | None":
    """Build a join-produced runtime filter: the distinct non-NULL key
    set of a (filtered) dimension side, or None when the build side
    exceeds the budget.

    This is the engine's bridge for the reference's runtime bitmap
    filter (§2A #11, hdfs-parquet-scanner.cc:235-246: a semi-filter
    produced by the join build side, probed INSIDE the scan).  Spark's
    own bloom runtime filters serve the parquet path, but they cannot
    reach a Python DataSource scan — so for the fledir container the
    build side is materialized here and pushed as an IN-set conjunct,
    which the container evaluates as bit-sliced code kernels before any
    decode (fle-encoding.h:8236-8313's In).

    The bounded driver-side collection is deliberate and mirrors
    Spark's own runtime-filter machinery (InSubqueryExec / dynamic
    partition pruning both execute the build-side subquery and
    materialize its values on the driver).  `max_keys` is the budget:
    past it the filter is DISABLED and the caller falls back to the
    plain join — the adaptive-disable analog of the reference, which
    drops a bitmap filter that stops paying for itself
    (hdfs-parquet-scanner.cc:464-470, 489-493).  The limit(max_keys+1)
    caps what the driver ever holds regardless of the dimension's true
    cardinality."""
    rows = (
        dim_df.select(key)
        .where(F.col(key).isNotNull())
        .distinct()
        .limit(max_keys + 1)
        .collect()
    )
    if len(rows) > max_keys:
        return None
    return sorted(r[0] for r in rows)
