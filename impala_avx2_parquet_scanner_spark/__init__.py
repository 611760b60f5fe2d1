"""PySpark-native analytics engine with the query surface of the reference
`zuowang/Impala-avx2-parquet-scanner` (an AVX2-optimized Impala Parquet
scanner fork).

The reference implements a Parquet scan operator with predicate evaluation
on encoded data (see SURVEY.md §2A).  This package re-expresses that whole
surface — scan, projection pruning, pushed-down predicates, residual
filters, the relational operator set the scanner plugs into, a Parquet/CSV
source+sink layer, and the large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) — as an
idiomatic Spark SQL / DataFrame library.  Catalyst + the vectorized Parquet
reader play the role of the reference's hand-written AVX2 kernels.

Layout:
    session     tuned SparkSession builder (local test + cluster-ready confs)
    catalog     loaders for the test tables (handles ns-timestamp quirks)
    registry    named query registry: every operator ships as a (Spark
                builder, DuckDB oracle SQL) pair consumed by __spark_entry__;
                a query's modules are imported on its first lookup
    operators/  scan, predicate, aggregate, join, window, setop, TPC-H
    functions/  scalar function surface + text analysis
    sources/    parquet + delimited-text readers/writers
    streaming/  event-time windowing (batch-checkable) + structured streaming
    pipeline/   dedup, similarity search, multimodal column plumbing
"""

from impala_avx2_parquet_scanner_spark.registry import REGISTRY, QuerySpec  # noqa: F401

__version__ = "0.1.0"


def load_all() -> None:
    """No-op.  Queries load on first lookup: ``REGISTRY[name]`` imports
    the modules of the name's family, and iterating ``REGISTRY`` imports
    them all.  Kept because ``loadbench/run.py``, ``bench.py`` and
    ``__spark_entry__`` call it."""
