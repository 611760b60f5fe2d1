"""SQL entry point: temp-view registration + `spark.sql` query surface.

The reference backend receives plans from Impala's SQL frontend (SURVEY §3:
Thrift `TPlan` from the Java FE — the parser itself is not in the slice).
Users of the reference therefore speak SQL; this module gives the engine
the same front door.  `register_views` publishes every fixture table as a
temp view (with the catalog's events-timestamp normalization applied), and
the `sql_*` queries below prove the surface end-to-end: identical ANSI SQL
text runs on Spark (via `spark.sql`) and on the DuckDB oracle.

Catalyst treats a `spark.sql` plan exactly like the DataFrame-built one —
same pushdown, pruning, broadcast selection — so this surface adds zero
execution-path divergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from impala_avx2_parquet_scanner_spark.catalog import TABLES, table
from impala_avx2_parquet_scanner_spark.registry import query


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Publish every fixture table as a session-scoped temp view."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


#: Portable ANSI SQL — the SAME text is the Spark query and the oracle.
_SQL_PORTABLE_AGG = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""

_SQL_PORTABLE_JOIN = """
SELECT o_orderpriority, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""

_SQL_PORTABLE_WINDOW = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_custkey <= 200
) t WHERE rn <= 2
"""


@query("sql_agg", oracle=_SQL_PORTABLE_AGG, tags=("sql",))
def sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate via the SQL front door — query text == oracle text."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PORTABLE_AGG)


@query("sql_join", oracle=_SQL_PORTABLE_JOIN, tags=("sql",))
def sql_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate via `spark.sql`; Catalyst still broadcasts the
    post-aggregation side and pushes the status filter to the scan."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PORTABLE_JOIN)


@query("sql_window", oracle=_SQL_PORTABLE_WINDOW, tags=("sql",))
def sql_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k via `spark.sql` with a deterministic tiebreak."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PORTABLE_WINDOW)


_SQL_PORTABLE_RECURSIVE = """
WITH RECURSIVE tree(p_partkey, root, depth, price) AS (
  SELECT p_partkey, p_partkey AS root, 0 AS depth,
         CAST(p_retailprice AS DECIMAL(12,2)) AS price
  FROM part WHERE p_partkey IN (2, 3)
  UNION ALL
  SELECT p.p_partkey, t.root, t.depth + 1,
         CAST(p.p_retailprice AS DECIMAL(12,2))
  FROM tree t JOIN part p
    ON p.p_partkey = t.p_partkey * 2 OR p.p_partkey = t.p_partkey * 2 + 1
  WHERE t.depth < 9
)
SELECT root, depth, COUNT(*) AS n_parts,
       CAST(SUM(price) AS DOUBLE) AS subtree_price
FROM tree GROUP BY root, depth
"""


@query("sql_recursive", oracle=_SQL_PORTABLE_RECURSIVE, tags=("sql", "recursive"))
def sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) — hierarchical traversal
    written as one SQL statement.  The part keys form an implicit binary
    tree (children 2k, 2k+1), and the query walks
    two subtrees to depth 9, rolling up per-level counts and exact-decimal
    price sums; identical text runs on DuckDB.

    Scale: each recursion step is an ordinary equi-ish join + union —
    Spark materializes the frontier per step, so depth (not data size)
    bounds the iteration count."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PORTABLE_RECURSIVE)


_SQL_LATERAL_TOPK = """
SELECT c_custkey, o_orderkey, o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c_custkey <= 200
"""


@query("sql_lateral_topk", oracle=_SQL_LATERAL_TOPK, tags=("sql", "lateral"))
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the top-N-per-
    key shape written the way SQL users write it (a dependent subquery
    per outer row) instead of the window-function rewrite
    (`window_topk_per_group`).  Catalyst decorrelates the lateral into a
    joined window plan — per-outer-row re-execution would be O(rows)
    subqueries and is exactly what a 100 TB plan must never do — so this
    pin certifies the DECORRELATION preserves semantics: identical SQL
    text runs on both engines (DuckDB evaluates laterals natively) and
    the inner (price DESC, orderkey) total order makes the picked rows
    engine-independent.  Customers with no orders are dropped (inner
    lateral join) on both.  Reference parity: SQL front-door scope
    (SURVEY §3); complements `subq_correlated_exists`."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_TOPK)
