"""Round-10 optimization: the winnowing fingerprint stage moved from
interpreted array-HOF expressions + a doc_id window to a vectorized
Arrow-batch kernel (numpy rolling polynomial hash + sliding min inside
the scan task, guide §4.2).

These tests pin the kernel bit-for-bit against the previous in-plan
expression chain — same base-31 mod 2^31-1 gram hashes, same w=8 sliding
MIN, same p >= w positions, same per-doc dedup — so the oracle-checked
query result is provably unchanged by construction, not just by sample.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.pipeline.dedup import (
    WINNOW_K,
    WINNOW_PREFIX,
    WINNOW_W,
    _winnow_fingerprints,
    normalize_text,
)


def _legacy_fingerprints(spark, sf_dir):
    """The pre-round-10 plan: per-char codes array, interpreted
    transform/aggregate gram hashing, posexplode, doc_id-window MIN."""
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.substring(normalize_text(F.col("text")), 1, WINNOW_PREFIX).alias("t"),
        )
        .filter(F.length("t") >= WINNOW_K)
    )
    chars = F.filter(F.split(F.col("t"), ""), lambda c: c != F.lit(""))
    codes = F.transform(chars, lambda c: F.ascii(c).cast("bigint"))
    hashes = F.transform(
        F.sequence(F.lit(1), F.size("codes") - (WINNOW_K - 1)),
        lambda p: F.aggregate(
            F.slice(F.col("codes"), p, WINNOW_K),
            F.lit(7).cast("bigint"),
            lambda acc, x: (acc * 31 + x) % F.lit(2147483647),
        ),
    )
    g = (
        d.select("doc_id", codes.alias("codes"))
        .select("doc_id", F.posexplode(hashes).alias("p0", "h"))
        .select("doc_id", (F.col("p0") + 1).alias("p"), "h")
    )
    win = W.partitionBy("doc_id").orderBy("p").rowsBetween(-(WINNOW_W - 1), 0)
    return (
        g.select("doc_id", "p", F.min("h").over(win).alias("fp"))
        .filter(F.col("p") >= WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )


def test_kernel_matches_legacy_expression_chain(spark, sf_dir):
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.substring(normalize_text(F.col("text")), 1, WINNOW_PREFIX).alias("t"),
        )
        .filter(F.length("t") >= WINNOW_K)
    )
    new = sorted(
        map(tuple, d.mapInPandas(_winnow_fingerprints, "doc_id bigint, fp bigint").collect())
    )
    old = sorted(map(tuple, _legacy_fingerprints(spark, sf_dir).collect()))
    assert new == old
    assert len(new) > 0


@pytest.mark.parametrize(
    "text",
    [
        "a" * (WINNOW_K + WINNOW_W - 1),          # exactly w grams
        "a" * (WINNOW_K + WINNOW_W - 2),          # w-1 grams: no fingerprints
        "abcdefghijklmnopqrstuvwxyz0123456789 " * 8,
        "x" * WINNOW_K,                           # 1 gram: below w
    ],
)
def test_kernel_edge_lengths(text):
    """Docs with fewer than w grams emit nothing; at exactly w grams the
    single window MIN appears once."""
    pdf = pd.DataFrame({"doc_id": np.array([1], dtype=np.int64), "t": [text]})
    out = pd.concat(list(_winnow_fingerprints(iter([pdf]))), ignore_index=True)
    n_grams = len(text) - (WINNOW_K - 1)
    if n_grams < WINNOW_W:
        assert len(out) == 0
    else:
        assert len(out) >= 1
        # every fp must be one of the gram hashes (mod 2^31-1 range)
        assert (out["fp"] >= 0).all() and (out["fp"] < 2147483647).all()


def test_kernel_hash_identity_tiny():
    """Hand-check the polynomial identity on one 16-char gram: the
    vectorized dot-product-mod form equals the sequential fold."""
    t = "abcdefghijklmnop"  # exactly K chars -> 1 gram, below w: use direct math
    MOD = 2147483647
    acc = 7
    for ch in t.encode("ascii"):
        acc = (acc * 31 + ch) % MOD
    weights = np.array(
        [pow(31, WINNOW_K - 1 - i, MOD) for i in range(WINNOW_K)], dtype=np.int64
    )
    codes = np.frombuffer(t.encode("ascii"), dtype=np.uint8).astype(np.int64)
    vec = int((codes @ weights + 7 * pow(31, WINNOW_K, MOD)) % MOD)
    assert vec == acc
