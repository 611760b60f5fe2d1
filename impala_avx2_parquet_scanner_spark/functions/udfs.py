"""User-defined function surface — the reference's UDF framework analog.

The reference executes scalar UDFs via three binary kinds (BUILTIN /
NATIVE .so / LLVM IR — scalar-fn-call.cc:377-470) plus UDAs
(scalar-fn-call.h:50-51).  The Spark surface:

    BUILTIN     → pyspark.sql.functions (functions/scalar.py)
    NATIVE/IR   → @pandas_udf (Arrow-vectorized, the fast path)
    row-at-time → @udf (supported; deliberately not used in hot paths)
    UDA         → applyInPandas grouped aggregation

Each registered query computes a value a plain SQL expression can also
produce, so the DuckDB oracle verifies the UDF machinery end-to-end.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.registry import query


@F.pandas_udf(DoubleType())
@trims
def discounted_price(price: pd.Series, discount: pd.Series) -> pd.Series:
    """Vectorized scalar UDF (Arrow batches, zero per-row serde)."""
    return price * (1.0 - discount)


@F.udf(StringType(), useArrow=False)
def flag_status_rowwise(flag: str, status: str) -> str:
    """Row-at-a-time Python UDF — the slow path, present for surface
    completeness (tests pin it works; hot paths never use it).
    ``useArrow=False`` names the pickled row-at-a-time eval type, so
    pyspark does not try (and fail, with a warning at import) to infer
    one from the ``str`` type hints."""
    return f"{flag}/{status}"


@query(
    "udf_pandas_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS disc_price_udf
FROM lineitem WHERE l_orderkey <= 200
""",
    tags=("udf", "pandas"),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas_udf result must equal the plain SQL expression bit-for-bit
    (both are IEEE double ops in the same order)."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        discounted_price(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "disc_price_udf"
        ),
    )


@query(
    "udf_rowwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_returnflag || '/' || l_linestatus AS flag_status
FROM lineitem WHERE l_orderkey <= 100
""",
    tags=("udf", "python"),
)
def udf_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        flag_status_rowwise(F.col("l_returnflag"), F.col("l_linestatus")).alias(
            "flag_status"
        ),
    )


@trims
def _orders_range_agg(pdf: pd.DataFrame) -> pd.DataFrame:
    """UDA body: per-customer price range + order count (pandas per group)."""
    return pd.DataFrame(
        {
            "o_custkey": [pdf["o_custkey"].iloc[0]],
            "n_orders": [len(pdf)],
            "price_range": [float(pdf["o_totalprice"].max() - pdf["o_totalprice"].min())],
        }
    )


@query(
    "udf_grouped_agg",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders,
       MAX(o_totalprice) - MIN(o_totalprice) AS price_range
FROM orders WHERE o_custkey <= 300 GROUP BY o_custkey
""",
    tags=("udf", "uda"),
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDA via applyInPandas: one pandas frame per group in, one row out.
    Scale note: the whole group materializes in worker memory — fine for
    bounded groups (orders per customer); unbounded groups should use the
    built-in aggregate path instead."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 300)
    return o.groupBy("o_custkey").applyInPandas(
        _orders_range_agg,
        schema="o_custkey bigint, n_orders bigint, price_range double",
    )


try:  # pyspark >= 3.5 table-function support
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="word string, word_len int")
    class _WordSplitter:
        """Python UDTF: one input row (document text) → N output rows
        (words).  The reference has no UDTF concept (SURVEY §2B lists it
        among the surfaces Spark adds); this is the generator analog of the
        scalar UDF lifecycle (scalar-fn-call.cc:41-973) — eval() is called
        per row and yields any number of tuples."""

        def eval(self, text: str):  # noqa: D102
            if text:
                for w in text.split():
                    yield w, len(w)

    _HAVE_UDTF = True
except ImportError:  # pragma: no cover - older pyspark
    _HAVE_UDTF = False


@query(
    "udtf_split_words",
    oracle="""
SELECT doc_id, word, CAST(LENGTH(word) AS INT) AS word_len
FROM (
  SELECT doc_id, UNNEST(string_split_regex(text, '\\s+')) AS word
  FROM documents WHERE doc_id <= 50
) t
WHERE word <> ''
""",
    tags=("udf", "udtf"),
)
def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued UDF (UDTF) via LATERAL correlation: each document row
    fans out to one row per word.  Row-at-a-time Python (like udf_rowwise,
    a surface demo, not a hot path — the vectorized equivalent is
    explode(split(...)) as used by the text_* pipeline)."""
    if not _HAVE_UDTF:
        raise NotImplementedError("pyspark.sql.functions.udtf unavailable")
    spark.udtf.register("split_words", _WordSplitter)
    (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 50)
        .select("doc_id", "text")
        .createOrReplaceTempView("udtf_docs")
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.word, t.word_len
        FROM udtf_docs d, LATERAL split_words(d.text) t
        """
    )
