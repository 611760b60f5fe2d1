"""fledir batch writes stage their segments inside the encode tasks and
commit them in the driver (`SegmentStager`, `commit_fledir`), without
the fledir DataSource writer: a session that never registered the
source can write, and a job that fails in one of its tasks leaves
`_DONE`, `_history`, the read answer and the directory listing as they
were."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.sources import sealed_dir
from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    register_fledir,
    write_fledir,
)
from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
    compact_fledir,
    delete_fledir,
)

_SPEC = [("x", None, "f64")]


def _frame(spark, n: int, nan_at: "int | None" = None):
    """`n` doubles 0..n-1 in 4 partitions; the row `nan_at` holds NaN."""
    x = F.col("id").cast("double")
    if nan_at is not None:
        x = F.when(F.col("id") == nan_at, F.lit(float("nan"))).otherwise(x)
    return spark.range(0, n, numPartitions=4).select(x.alias("x"))


def _rows(spark, path: str) -> list[float]:
    register_fledir(spark)
    df = spark.read.format("fledir").option("path", path).load()
    return sorted(r.x for r in df.collect())


def _state(spark, path: str) -> tuple:
    """What a failed job must leave unchanged: `_DONE`'s bytes, the
    `_history` generations and the read answer."""
    with open(os.path.join(path, sealed_dir.DONE), "rb") as fh:
        done = fh.read()
    return done, sealed_dir.history_generations(path), _rows(spark, path)


def _staged_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if ".tmp-" in f]


def test_unregistered_session_writes_fledir(spark, tmp_path):
    """`write_fledir` needs no registered fledir source: a new session
    writes, and the registered one reads the table back."""
    path = str(tmp_path / "t")
    other = spark.newSession()
    write_fledir(_frame(other, 10), _SPEC, path)
    assert _rows(spark, path) == [float(i) for i in range(10)]


@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_failed_write_leaves_table_and_no_staged_file(spark, tmp_path, mode):
    """The encode raises (NaN under the "f64" hint) in the second Arrow
    batch of the last of four partitions, after every partition staged a
    segment: the driver removes every staged file and re-raises."""
    path = str(tmp_path / "t")
    write_fledir(_frame(spark, 8), _SPEC, path)
    before = _state(spark, path)
    n = 4 * 10_001  # two Arrow batches per partition
    with pytest.raises(Exception, match="contains NaN"):
        write_fledir(_frame(spark, n, nan_at=n - 1), _SPEC, path, mode)
    assert _state(spark, path) == before
    assert _staged_files(path) == []


@pytest.mark.parametrize("op", ["compact", "delete"])
def test_failed_rewrite_leaves_table_and_no_staged_file(spark, tmp_path, op):
    """A rewrite task raises on a segment truncated on disk while its
    siblings stage their output: the old table stays committed, nothing
    staged remains, and with the segment's bytes restored the read
    answer is the old one."""
    path = str(tmp_path / "t")
    write_fledir(_frame(spark, 40), _SPEC, path)
    before = _state(spark, path)
    names = sorted(n for n, _ in sealed_dir.committed(path))
    assert len(names) == 4
    victim = os.path.join(path, names[-1])
    with open(victim, "rb") as fh:
        good = fh.read()
    with open(victim, "wb") as fh:
        fh.write(good[:2])
    with pytest.raises(Exception, match="bad segment magic"):
        if op == "compact":
            compact_fledir(spark, path, target_rows=1_000)
        else:
            delete_fledir(spark, path, [("x", "ge", 0.0)])
    with open(victim, "wb") as fh:
        fh.write(good)
    assert _state(spark, path) == before
    assert _staged_files(path) == []
