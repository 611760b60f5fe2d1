"""Round-10 optimization: the similarity family's dot/cosine moved from
interpreted ``aggregate(zip_with(...))`` array-HOF chains to one
Arrow-vectorized pandas_udf per pair batch (guide §4.2 — 334 CPU-seconds
in dedup_semantic's pair stage, a 17 s single task in ann_knn_graph).

These tests pin the kernels bit-for-bit against the original expression
form (`dot_expr`), which is what the DuckDB oracles replay — so every
similarity query's result is provably unchanged by construction.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.pipeline.similarity import (
    _cosine_seq,
    _dbl,
    _dot_seq,
    cosine,
    dot,
    dot_expr,
)


def _bits(x):
    return None if x is None else struct.pack(">d", x)


def test_kernels_match_expression_chain_on_fixture(spark, sf_dir):
    """Every (query, corpus) cosine/dot pair over the real embeddings
    fixture is bit-identical between the vectorized kernel and the
    legacy fold expression."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl("embedding").alias("emb")
    )
    a = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("ia"), F.col("emb").alias("ea")
    )
    b = e.select(F.col("vec_id").alias("ib"), F.col("emb").alias("eb"))
    old_cos = dot_expr(F.col("ea"), F.col("eb")) / (
        F.sqrt(dot_expr(F.col("ea"), F.col("ea")))
        * F.sqrt(dot_expr(F.col("eb"), F.col("eb")))
    )
    rows = (
        a.crossJoin(b)
        .select(
            cosine(F.col("ea"), F.col("eb")).alias("new_c"),
            old_cos.alias("old_c"),
            dot(F.col("ea"), F.col("eb")).alias("new_d"),
            dot_expr(F.col("ea"), F.col("eb")).alias("old_d"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert _bits(r["new_c"]) == _bits(r["old_c"])
        assert _bits(r["new_d"]) == _bits(r["old_d"])


def test_null_arrays_yield_null_not_nan(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], None), (2, [1.0, 2.0], [3.0, 4.0])],
        "i int, x array<double>, y array<double>",
    )
    got = {
        r["i"]: (r["c"], r["d"])
        for r in df.select(
            "i",
            cosine(F.col("x"), F.col("y")).alias("c"),
            dot(F.col("x"), F.col("y")).alias("d"),
        ).collect()
    }
    assert got[1] == (None, None)
    assert got[2][1] == 11.0


def test_fold_order_is_strict_left_to_right():
    """The vectorized fold must reproduce ((0.0 + p0) + p1) + ... exactly
    — catches a switch to numpy pairwise summation, which drifts ulps on
    adversarial magnitude mixes."""
    vals = [1e16, 1.0, -1e16, 1.0, 3.0, -2.0, 1e-8, 7.5]
    x = pd.Series([np.array(vals)])
    y = pd.Series([np.ones(len(vals))])
    seq = 0.0
    for v in vals:
        seq = seq + v
    got = _dot_seq(x, y).iloc[0]
    assert struct.pack(">d", got) == struct.pack(">d", seq)
    # cosine kernel shares the same fold
    c = _cosine_seq(x, y).iloc[0]
    nx = 0.0
    for v in vals:
        nx = nx + v * v
    ny = float(len(vals))
    assert struct.pack(">d", c) == struct.pack(">d", seq / (nx**0.5 * ny**0.5))


@pytest.mark.parametrize("n", [0, 1, 3])
def test_batch_edge_sizes(n):
    x = pd.Series([np.arange(4, dtype="float64")] * n)
    out = _dot_seq(x, x)
    assert len(out) == n
    if n:
        assert out.iloc[0] == 0.0 + 1.0 + 4.0 + 9.0
