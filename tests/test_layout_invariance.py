"""Input file-layout invariance — the other half of the determinism
contract.  test_oracle_parity pins invariance to the SHUFFLE partition
count; here the INPUT layout changes: each big fixture table is rewritten
as many small parquet files (what a 100 TB table actually looks like),
which changes scan-split boundaries, partial-aggregation grouping, and
source row order.  Query results must be bit-identical to the single-file
run — this is what the exact-decimal/argmax-tiebreak discipline buys.
"""

from __future__ import annotations

import os

import pytest

from impala_avx2_parquet_scanner_spark.registry import REGISTRY


_SPLIT_TABLES = {"lineitem": 16, "documents": 8, "orders": 16, "events": 8,
                 "embeddings": 8}


@pytest.fixture(scope="module")
def sharded_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    """A parallel fixture dir where the big tables are 8-16 small files
    (written from a round-robin repartition, so file contents interleave
    arbitrarily) and the dimensions are symlinked single files."""
    from impala_avx2_parquet_scanner_spark.catalog import TABLES

    root = tmp_path_factory.mktemp("sharded_sf")
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = str(root / f"{t}.parquet")
        n = _SPLIT_TABLES.get(t)
        if n:
            (spark.read.parquet(src).repartition(n)
             .write.mode("overwrite").parquet(dst))
        else:
            os.symlink(src, dst)
    return str(root)


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q1",            # exact-decimal grouped aggregation
        "tpch_q9",            # multi-join + aggregation
        "agg_mode_argmax",    # deterministic-tiebreak argmax
        "dedup_minhash_lsh",  # hash pipeline over documents
        "text_vocab",         # text tokenization + counts
        "window_rank_dense",  # window over a total order
        "events_sessionize",  # event-time sessionization
        "ann_bruteforce_topk",  # float dot products over embeddings
    ],
)
def test_results_invariant_under_file_layout(spark, sf_dir, sharded_sf_dir, name):
    spec = REGISTRY[name]

    def run(d: str):
        return sorted(
            tuple("NULL" if v is None else str(v) for v in row)
            for row in spec.fn(spark, d).collect()
        )

    assert run(sf_dir) == run(sharded_sf_dir)
