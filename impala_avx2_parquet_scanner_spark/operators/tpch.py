"""TPC-H-style flagship queries, adapted to the fixture schema.

The reference benchmarks itself on TPC-H Q6/Q12/Q13/Q14 (README.md:9-13)
plus a 1–100% selectivity sweep (README.md:15-22); these queries reproduce
that workload on the driver's TPC-H-ish tables (which lack l_shipmode /
l_commitdate / o_comment, so Q12/Q13 are adapted to equivalent shapes).
Q1/Q3/Q5 are added because they exercise the surrounding operator surface
(wide aggregation, join+topn, multiway join) the scanner plugs into
(SURVEY.md §2B).

Scale notes: every query is a pure scan→(broadcastable join)→partial-agg
pipeline.  Aggregations are map-side combinable (exact decimal sums);
dimension sides of joins (part, customer at 1/10 of lineitem) broadcast
below the 64 MB threshold at bench scale and are marked with explicit
broadcast hints where a 100 TB run would still want them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.exprs import (
    SQL_DISC_PRICE,
    avg_dbl,
    dec_price,
    dec_rate,
    disc_price,
    one_plus,
    sum_dbl,
)
from impala_avx2_parquet_scanner_spark.registry import query

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({SQL_DISC_PRICE} * CAST(1 + CAST(l_tax AS DECIMAL(3,2)) AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1", oracle=_Q1_ORACLE, tags=("tpch", "aggregate"), bench=True)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: scan + 8-way aggregate over 2 group keys.

    Parity: wide aggregation surface (SURVEY.md §2B 'Aggregation'); the
    scan-side date predicate is pushed to parquet (operator #5 analog)."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_dbl(F.col("l_quantity").cast("decimal(12,2)"), "sum_qty"),
            sum_dbl(dec_price("l_extendedprice"), "sum_base_price"),
            sum_dbl(disc_price(), "sum_disc_price"),
            sum_dbl(disc_price() * one_plus("l_tax"), "sum_charge"),
            avg_dbl(F.col("l_quantity").cast("decimal(12,2)"), "avg_qty"),
            avg_dbl(dec_price("l_extendedprice"), "avg_price"),
            avg_dbl(dec_rate("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q3_ORACLE = f"""
SELECT l_orderkey,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("tpch_q3", oracle=_Q3_ORACLE, tags=("tpch", "join", "topn"), bench=True)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: 3-way join + aggregate + top-10.

    customer grows with SF, so no pinned broadcast hint: AQE picks
    broadcast while the filtered build fits autoBroadcastJoinThreshold and
    degrades to shuffle joins at cluster scale (the reference likewise
    builds its runtime filter from a *partitioned* hash join,
    hdfs-parquet-scanner.cc:260-263). orders↔lineitem shuffle-joins on the
    key both sides already aggregate on."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum_dbl(disc_price(), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT n_name, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@query("tpch_q5", oracle=_Q5_ORACLE, tags=("tpch", "join"), bench=True)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local supplier volume: 6-table multiway join.

    nation/region are fixed-size (25/5 rows) → pinned broadcast;
    supplier/customer scale with SF so they carry no hint — AQE
    broadcasts them while small and falls back to shuffle joins at
    cluster scale. The single unavoidable shuffle is orders↔lineitem on
    orderkey."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(sum_dbl(disc_price(), "revenue"))
    )


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


@query("tpch_q6", oracle=_Q6_ORACLE, tags=("tpch", "scan", "pushdown"), bench=True)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue — the reference's flagship scan query
    (README.md:10): 4 pushable range predicates + 2-column aggregate.

    All four conjuncts reach the parquet scan as PushedFilters (the Spark
    analog of SimplePredicate trees, simple-predicates.h:30-205)."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            sum_dbl(dec_price("l_extendedprice") * dec_rate("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_Q12_ORACLE = """
SELECT l_linestatus,
       -- BIGINT casts: DuckDB SUM over integers yields HUGEINT → pandas
       -- float64 ('1778.0' vs Spark's '1778'), breaking the value hash
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_returnflag IN ('A', 'N')
GROUP BY l_linestatus
"""


@query("tpch_q12", oracle=_Q12_ORACLE, tags=("tpch", "join"), bench=True)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: fixture lacks l_shipmode/commitdate — grouped by
    l_linestatus with an IN filter instead): join + conditional counts
    (README.md:11)."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & F.col("l_returnflag").isin("A", "N")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@query("tpch_q13", oracle=_Q13_ORACLE, tags=("tpch", "join", "outer"), bench=True)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer distribution (adapted: priority filter replaces
    the o_comment NOT LIKE): left outer join + double aggregation
    (README.md:13).

    At scale (round-7 rewrite): the per-customer count is pushed BELOW
    the outer join — orders pre-aggregate to one (custkey, count) row
    with map-side combine, so the join shuffle carries at most one row
    per customer instead of every order; customers without orders
    surface as NULL → 0 via coalesce, which is exactly the LEFT JOIN +
    count(o_orderkey) semantics.  Catalyst doesn't perform this
    aggregate-through-outer-join rewrite itself.  At fixture scales the
    wall time is unchanged (AQE broadcasts the customer side either
    way, and map-side combine already bounded the old plan's shuffle);
    the rewrite matters at cluster scale, where customer outgrows the
    broadcast threshold and the OLD plan must shuffle every order row
    for a shuffled join while this one shuffles one pre-aggregated row
    per (mapper, custkey)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    o_cnt = o.groupBy(F.col("o_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        c.join(o_cnt, c.c_custkey == o_cnt.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_Q14_ORACLE = f"""
SELECT 100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {SQL_DISC_PRICE} ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
             / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
"""


@query("tpch_q14", oracle=_Q14_ORACLE, tags=("tpch", "join"), bench=True)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect (README.md:12): join + ratio aggregate.

    part scales with SF, so no pinned broadcast hint: AQE broadcasts it
    while it fits the threshold and shuffles at cluster scale."""
    p = table(spark, sf_dir, "part")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    promo = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(
        F.lit(0).cast("decimal(16,4)")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.00)
                * F.sum(promo).cast("double")
                / F.sum(disc_price()).cast("double")
            ).alias("promo_revenue")
        )
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


@query("tpch_q4", oracle=_Q4_ORACLE, tags=("tpch", "semi"), bench=True)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking (adapted: l_commitdate/receiptdate
    absent — the late-ship EXISTS uses shipdate > orderdate): correlated
    EXISTS over a date window → semi join."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    l = table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name,
       CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       c_acctbal, n_name, c_mktsegment
FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("tpch_q10", oracle=_Q10_ORACLE, tags=("tpch", "join", "topn"), bench=True)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: 4-way join + aggregate + top-20
    (returnflag filter pushed to the lineitem scan)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(sum_dbl(disc_price(), "revenue"))
        .select(
            "c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment"
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def _selectivity_query(threshold: int, pct: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        l = table(spark, sf_dir, "lineitem")
        return l.filter(F.col("l_quantity") <= threshold).agg(
            F.count(F.lit(1)).alias("n_rows"),
            sum_dbl(dec_price("l_extendedprice"), "sum_price"),
        )

    fn.__name__ = f"selectivity_{pct}"
    fn.__doc__ = (
        "Selectivity-sweep scan (README.md:15-22): single pushed range "
        f"predicate l_quantity <= {threshold} (~{pct}% selective) "
        "+ cheap aggregate, isolating scan/decode/filter throughput."
    )
    return fn


_SEL_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem WHERE l_quantity <= {k}
"""

# l_quantity is uniform on 1..50 → threshold k selects ~2k% of rows.
# Queries are named by selected PERCENTAGE, covering the reference's
# published 1–100% curve (README.md:15-22) including the high-selectivity
# end (80%, 100%) where the reference's own speedup collapses to 1.2×.
for _k in (1, 5, 10, 15, 25, 40, 50):
    _pct = _k * 2
    query(f"selectivity_{_pct:03d}", oracle=_SEL_ORACLE.format(k=_k),
          tags=("scan", "selectivity"), bench=True)(_selectivity_query(_k, _pct))


def _materialize_sorted_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Write-once rewrite of lineitem range-partitioned + sorted on
    l_quantity through the engine's own sorted sink (write_sorted_parquet
    — dictionary encoding + tight per-file/row-group min-max stats), the
    Spark-native analog of the reference's predicate-on-encoded-sorted-
    data headline claim (README.md:15-22, dict-encoding.h:393-406)."""
    from impala_avx2_parquet_scanner_spark.assets import publish
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs
    from impala_avx2_parquet_scanner_spark.sources.parquet_io import (
        write_sorted_parquet,
    )

    ensure_runtime_confs(spark)

    def build(path):
        write_sorted_parquet(
            table(spark, sf_dir, "lineitem"), path, ("l_quantity",),
            num_files=16,
        )

    return publish(sf_dir, "lineitem_sorted_qty", build)


def _selectivity_sorted_query(threshold: int, pct: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os

        path = _materialize_sorted_lineitem(spark, sf_dir)
        l = spark.read.parquet(os.path.join(path, "*.parquet"))
        return l.filter(F.col("l_quantity") <= threshold).agg(
            F.count(F.lit(1)).alias("n_rows"),
            sum_dbl(dec_price("l_extendedprice"), "sum_price"),
        )

    fn.__name__ = f"selectivity_sorted_{pct}"
    fn.__doc__ = (
        "Selectivity sweep over the SORTED dictionary-encoded lineitem "
        f"rewrite: the same pushed l_quantity <= {threshold} range "
        f"predicate (~{pct}% selective) now lands on data whose row-group/"
        "page min-max stats are disjoint in the filter column, so the "
        "reader skips whole row groups — the layout half of the "
        "reference's predicate-on-encoded-data claim (README.md:15-22).  "
        "The oracle replays the aggregate on the stock lineitem: the "
        "rewrite is value-identical, so a hash match ALSO certifies the "
        "sorted sink round-trip."
    )
    return fn


# Three sweep points bracket the curve: the 2% point is where row-group
# skipping pays (most files pruned), 20% mid-curve, 100% shows the rewrite
# costs nothing when nothing can be skipped.
for _k, _pct in ((1, 2), (10, 20), (50, 100)):
    query(f"selectivity_sorted_{_pct:03d}", oracle=_SEL_ORACLE.format(k=_k),
          tags=("scan", "selectivity", "sorted", "layout"), bench=True)(
        _selectivity_sorted_query(_k, _pct))


def _materialize_zorder_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Write-once rewrite of lineitem Z-ordered on (l_quantity,
    l_discount) through the engine's Morton-key sink
    (write_zordered_parquet); → its path."""
    from impala_avx2_parquet_scanner_spark.assets import publish
    from impala_avx2_parquet_scanner_spark.session import ensure_runtime_confs
    from impala_avx2_parquet_scanner_spark.sources.parquet_io import (
        write_zordered_parquet,
    )

    ensure_runtime_confs(spark)

    def build(path):
        write_zordered_parquet(
            table(spark, sf_dir, "lineitem"), path,
            "l_quantity", "l_discount", num_files=16,
        )

    return publish(sf_dir, "lineitem_zorder", build)


_ZORDER_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_quantity <= 5 AND l_discount >= 0.08
"""


@query(
    "scan_zorder_pruned",
    oracle=_ZORDER_ORACLE,
    tags=("scan", "selectivity", "zorder", "layout"),
)
def scan_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional range predicate over a Z-ORDERED lineitem rewrite:
    the Morton-key layout (write_zordered_parquet — the 2-D
    generalization of the reference's order-preserving dictionary trick,
    dict-encoding.h:393-406) gives BOTH l_quantity and l_discount
    spatial locality, so each file/row-group has a ~sqrt-sized min/max
    span in each dimension and the conjunctive range predicate
    (quantity <= 5 AND discount >= 0.08, ~2% selective) skips row groups
    on either column — where a single-column sort helps only its own
    column.  Both filters reach the scan as PushedFilters; the DuckDB
    oracle replays the aggregate on the stock lineitem, so a hash match
    also certifies the z-layout rewrite is value-lossless."""
    import os

    path = _materialize_zorder_lineitem(spark, sf_dir)
    l = spark.read.parquet(os.path.join(path, "*.parquet"))
    return l.filter(
        (F.col("l_quantity") <= 5) & (F.col("l_discount") >= 0.08)
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        sum_dbl(dec_price("l_extendedprice"), "sum_price"),
        sum_dbl(F.col("l_quantity").cast("decimal(12,2)"), "sum_qty"),
    )
