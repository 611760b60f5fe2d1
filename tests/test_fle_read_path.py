"""One fledir read path.

`FleDirReader.read` is the only code that turns committed segments into
query rows (the stream reader and the change feed adapt its batches),
and `_segment_file` is the only code that maps a committed name to its
live or `.retired` file.  A scan planned before a retire-based commit
(compaction, delete) reads its planned snapshot; one whose segments an
overwrite swept fails loudly.  A stream micro-batch on a partitioned
root walks the root once, and only `fledir_layout` walks a root: a flat
fledir is the layout with no keys and one leaf.  A path with no segment
to infer a schema from fails at `schema()`.  Also here: a failed
`df.write` job leaves no staged file, and `register_fledir` swallows
only a repeat registration."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql.datasource import GreaterThanOrEqual

from impala_avx2_parquet_scanner_spark.sources import (
    fle_datasource,
    sealed_dir,
)
from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    FleDirReader,
    FleDirWriter,
    FleStreamReader,
    encode_segment_columns,
    register_fledir,
    write_fledir,
)
from impala_avx2_parquet_scanner_spark.sources.fle_maintenance import (
    compact_fledir,
    delete_fledir,
)

PKG = Path(__file__).resolve().parent.parent / (
    "impala_avx2_parquet_scanner_spark"
)


def _sites(match) -> set[tuple[str, str]]:
    """(module, innermost enclosing function) of every AST node of the
    package that `match` accepts."""
    out = set()
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        owner = {}
        for fn in ast.walk(tree):  # breadth-first: inner functions last
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(fn):
                    owner[id(n)] = fn.name
        out |= {
            (str(p.relative_to(PKG)), owner.get(id(n), "<module>"))
            for n in ast.walk(tree) if match(n)
        }
    return out


def _appends_retired(n) -> bool:
    return (
        isinstance(n, ast.BinOp) and isinstance(n.op, ast.Add)
        and any(
            isinstance(x, ast.Constant) and x.value == ".retired"
            for x in (n.left, n.right)
        )
    ) or (
        isinstance(n, ast.JoinedStr)
        and any(
            isinstance(x, ast.Constant) and ".retired" in str(x.value)
            for x in n.values
        )
    )


def test_one_decoder_caller_and_one_resolver():
    """Tripwire over the package's AST: only `FleDirReader.read` and the
    rewrite input `segment_reencode_columns` call the segment decoder,
    only `_segment_file` (and `sealed_dir.commit`'s retire) appends
    `.retired` to a name, and no second resolver is defined."""
    decoders = _sites(
        lambda n: isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None))
        == "decode_segment_columns"
    )
    assert decoders == {
        ("sources/fle_datasource.py", "read"),
        ("sources/fle_maintenance.py", "segment_reencode_columns"),
    }
    assert _sites(_appends_retired) == {
        ("sources/fle_datasource.py", "_segment_file"),
        ("sources/sealed_dir.py", "commit"),
    }
    assert not _sites(
        lambda n: isinstance(n, ast.FunctionDef)
        and n.name == "_resolve_segment_path"
    )


_LAYOUT_NAMES = {
    "part", "partitioned", "layout", "_layout",
    "discover_fledir_partitions", "fledir_layout",
}


def _names_layout(n) -> bool:
    """True iff `n` is a layout: a name or attribute a layout is kept
    under, or a call of a layout function."""
    if isinstance(n, ast.Call):
        n = n.func
    name = n.attr if isinstance(n, ast.Attribute) else getattr(n, "id", None)
    return name in _LAYOUT_NAMES


def _tests_layout_for_none(n) -> bool:
    """A comparison of a layout with None, or a branch on a layout's
    truth (`if part:`): the flat/partitioned fork."""
    if isinstance(n, ast.Compare):
        operands = [n.left, *n.comparators]
        return any(
            isinstance(o, ast.Constant) and o.value is None for o in operands
        ) and any(_names_layout(o) for o in operands)
    if isinstance(n, (ast.If, ast.IfExp, ast.While)):
        return _names_layout(n.test)
    return False


def test_one_layout_function():
    """Tripwire over the package's AST: a flat fledir is the layout with
    no keys and one leaf, so only `fledir_layout` walks a root, no
    source module forks on a layout being None, and the second merge
    path is gone."""
    walkers = _sites(
        lambda n: isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None))
        == "discover_fledir_partitions"
    )
    assert walkers == {("sources/fle_datasource.py", "fledir_layout")}
    assert not {
        site for site in _sites(_tests_layout_for_none)
        if site[0].startswith("sources/")
    }
    assert not _sites(
        lambda n: isinstance(n, ast.FunctionDef)
        and n.name == "_merge_partitioned_root"
    )


@pytest.mark.parametrize("kind", ["missing", "empty", "mixed keys"])
def test_schema_fails_loudly_with_nothing_to_infer(tmp_path, kind):
    """A missing or empty path has no segment to infer a schema from:
    `schema()` (Spark's `load()` without `.schema(...)`) raises, naming
    the path, instead of answering columns the table does not have.  A
    root mixing key names raises its layout rule."""
    path = tmp_path / "t"
    match = r"\.schema\(\.\.\.\)"
    if kind != "missing":
        path.mkdir()
    if kind == "mixed keys":
        for leaf in ("a=1", "b=2"):
            _table(str(path / leaf))
        match = "mixes partition keys"
    with pytest.raises(ValueError, match=match) as err:
        fle_datasource.FleDataSource({"path": str(path)}).schema()
    assert str(path) in str(err.value)


# --- a scan that races a commit -------------------------------------------

class _Row:
    def __init__(self, seg_id, q):
        self.seg_id = seg_id
        self.payload = encode_segment_columns([
            ("q", q),
            ("s", np.array([f"v{v % 5}" for v in q], dtype=object)),
        ])


def _table(path: str) -> None:
    w = FleDirWriter({"path": path}, overwrite=True)
    w.commit([w.write([
        _Row(i, np.arange(i * 40, i * 40 + 40, dtype=np.int64))
        for i in range(6)
    ])])


def _plan(path: str):
    """An in-process scan of `q >= 30`, planned but not yet read."""
    r = FleDirReader({"path": path})
    assert list(r.pushFilters([GreaterThanOrEqual(("q",), 30)])) == []
    return r, r.partitions()


def _rows(reader, parts) -> list[tuple]:
    return sorted(
        row for part in parts for b in reader.read(part)
        for row in zip(*(c.to_pylist() for c in b.columns))
    )


@pytest.mark.parametrize("commit", ["compact", "delete"])
def test_planned_scan_reads_its_snapshot_across_a_retiring_commit(
    spark, tmp_path, commit
):
    path = str(tmp_path / "t")
    _table(path)
    reader, parts = _plan(path)
    before = _rows(reader, parts)
    assert len(before) == 240 - 30
    if commit == "compact":
        assert compact_fledir(spark, path, target_rows=10_000)["compacted"]
    else:
        assert delete_fledir(spark, path, [("q", "lt", 100)])[
            "segments_rewritten"
        ] > 0
    assert any(f.endswith(".retired") for f in os.listdir(path))
    assert _rows(reader, parts) == before


def test_planned_scan_fails_when_an_overwrite_swept_its_segments(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    _table(path)
    reader, parts = _plan(path)
    write_fledir(
        spark.createDataFrame([(1,), (2,)], "q long"),
        [("q", np.int64, None)], path, mode="overwrite",
    )
    with pytest.raises(ValueError, match="changed after the scan was planned"):
        _rows(reader, parts)


def test_stream_batch_walks_a_partitioned_root_once(tmp_path, monkeypatch):
    root = tmp_path / "p"
    for k in (1, 2):
        _table(str(root / f"k={k}"))
    walks = []
    discover = fle_datasource.discover_fledir_partitions

    def counted(path):
        walks.append(path)
        return discover(path)

    monkeypatch.setattr(fle_datasource, "discover_fledir_partitions", counted)
    r = FleStreamReader({"path": str(root)})
    walks.clear()
    rows, end = r.read(r.initialOffset())
    assert len(list(rows)) == 2 * 240 and len(end["names"]) == 12
    assert len(walks) == 1
    walks.clear()
    assert len(list(r.readBetweenOffsets(r.initialOffset(), end))) == 480
    assert len(walks) == 1


# --- the DataSource writer's one staging token ----------------------------

def test_failed_write_job_leaves_no_staged_file(spark, tmp_path):
    """One task stages a valid segment, then hits a junk payload: the
    job fails, and `abort` removes what that task staged too."""
    register_fledir(spark)
    path = str(tmp_path / "t")
    _table(path)
    files = sorted(os.listdir(path))
    done = sealed_dir.committed(path)

    def answer():
        df = spark.read.format("fledir").option("path", path).load()
        return sorted(tuple(r) for r in df.collect())

    before = answer()
    good = _Row(7, np.arange(5, dtype=np.int64)).payload
    frame = spark.createDataFrame(
        [(7, good), (8, b"junk")], "seg_id long, payload binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="bad segment magic"):
        frame.write.format("fledir").mode("append").option(
            "path", path
        ).save()
    assert sorted(os.listdir(path)) == files
    assert sealed_dir.committed(path) == done
    assert answer() == before


# --- registration ---------------------------------------------------------

class _Session:
    def __init__(self, error):
        self.error = error
        self.dataSource = self

    def register(self, source):
        raise self.error


def test_register_fledir_swallows_only_a_repeat(spark):
    register_fledir(spark)
    register_fledir(spark)  # a repeat on one session is a no-op
    register_fledir(_Session(RuntimeError(
        "[DATA_SOURCE_ALREADY_EXISTS] Data source 'fledir' already exists."
    )))
    with pytest.raises(RuntimeError, match="boom"):
        register_fledir(_Session(RuntimeError("boom")))
