"""The sealed-directory protocol (`sources/sealed_dir.py`) shared by
fledir, avrodir and ppmdir: a commit killed at any point leaves the old
table or the new one, whole, to the batch and the stream readers; the
partition count follows one rule; and no other module writes or parses
manifests, stages temp files or builds stream offsets itself."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import numpy as np
import pytest

from impala_avx2_parquet_scanner_spark.sources import sealed_dir
from impala_avx2_parquet_scanner_spark.sources.avro_io import (
    AvroDirReader,
    AvroDirWriter,
    AvroStreamReader,
)
from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    FleDirReader,
    FleDirWriter,
    FleStreamReader,
    _manifest_entries,
    encode_segment_columns,
    fresh_seg_base,
    write_fledir,
)
from impala_avx2_parquet_scanner_spark.sources.ppm_datasource import (
    PpmDirReader,
    PpmDirWriter,
    PpmStreamReader,
)

REPO = Path(__file__).resolve().parent.parent

_AVRO_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [{"name": "v", "type": "long"}],
}


class _Seg:
    def __init__(self, v: int):
        self.seg_id = v
        self.payload = encode_segment_columns(
            [("v", np.array([v], dtype=np.int64))]
        )


class _Ppm:
    def __init__(self, v: int):
        self.doc_id = v
        self.payload = b"P6\n1 1\n255\n" + bytes([v, 0, 0])


#: format → (writer, batch reader, stream reader, one row's input)
_FORMATS = {
    "fledir": (
        FleDirWriter,
        FleDirReader,
        FleStreamReader,
        _Seg,
    ),
    "avrodir": (
        lambda o, overwrite: AvroDirWriter(o, overwrite, _AVRO_SCHEMA),
        AvroDirReader,
        AvroStreamReader,
        lambda v: {"v": v},
    ),
    "ppmdir": (
        PpmDirWriter,
        PpmDirReader,
        PpmStreamReader,
        _Ppm,
    ),
}


def _values(rows) -> list[int]:
    """First column of reader output: Arrow batches (fledir) or tuples."""
    out = []
    for r in rows:
        if hasattr(r, "to_pylist"):
            out += [d["v"] for d in r.to_pylist()]
        else:
            out.append(r[0])
    return sorted(out)


def _batch(reader_cls, path: str) -> list[int]:
    r = reader_cls({"path": path})
    return _values(row for p in r.partitions() for row in r.read(p))


def _write(writer_cls, row, path, values, overwrite):
    w = writer_cls({"path": path}, overwrite=overwrite)
    return w, w.write([row(v) for v in values])


class _Killed(Exception):
    pass


@pytest.mark.parametrize(
    "overwrite", [False, True], ids=["append", "overwrite"]
)
@pytest.mark.parametrize("kill", ["staged", "before_swap", "before_sweep"])
@pytest.mark.parametrize("fmt", sorted(_FORMATS))
def test_killed_commit_shows_old_or_new_table_whole(
    fmt, kill, overwrite, tmp_path, monkeypatch
):
    """A commit killed after its tasks staged, between its renames and
    the `_DONE` swap, or between the swap and the sweep: the batch
    reader returns the old table or the new one whole, and neither a
    running nor a fresh stream emits a row the manifest does not name."""
    writer_cls, reader_cls, stream_cls, row = _FORMATS[fmt]
    path = str(tmp_path / fmt)
    w, msg = _write(writer_cls, row, path, [1, 2], overwrite=True)
    w.commit([msg])
    old = [1, 2]
    new = [99] if overwrite else [1, 2, 99]
    stream = stream_cls({"path": path})
    rows, offset = stream.read(stream.initialOffset())
    assert _values(rows) == old

    w, msg = _write(writer_cls, row, path, [99], overwrite=overwrite)
    if kill != "staged":
        real = os.replace

        def replace(src, dst):
            if os.path.basename(dst) != sealed_dir.DONE:
                return real(src, dst)
            if kill == "before_sweep":
                real(src, dst)
            raise _Killed

        monkeypatch.setattr(os, "replace", replace)
        with pytest.raises(_Killed):
            w.commit([msg])
        monkeypatch.undo()

    table = _batch(reader_cls, path)
    assert table == (new if kill == "before_sweep" else old)
    rows, _ = stream.read(offset)
    assert set(_values(rows)) <= set(table) - set(old)
    fresh = stream_cls({"path": path})
    rows, _ = fresh.read(fresh.initialOffset())
    assert _values(rows) == table


def test_write_fledir_overwrite_commits_fresh_names(spark, tmp_path):
    """Two `write_fledir` overwrites of one path commit disjoint segment
    names: the second never renames onto a name the first committed."""
    path = str(tmp_path / "fle")
    spec = [("v", np.int64, None)]
    names = []
    for lo in (0, 100):
        frame = spark.range(lo, lo + 4, numPartitions=2).withColumnRenamed(
            "id", "v"
        )
        write_fledir(frame, spec, path)
        names.append({n for n, _ in _manifest_entries(path)})
    assert names[0] and names[1] and not names[0] & names[1]
    assert _batch(FleDirReader, path) == [100, 101, 102, 103]


def test_killed_fresh_name_overwrite_leaves_old_table_whole(
    tmp_path, monkeypatch
):
    """An overwrite whose names come from `fresh_seg_base`, killed
    between its renames and the `_DONE` swap: no committed file was
    renamed onto, so the batch reader returns the old table whole."""
    path = str(tmp_path / "fle")

    def write(values, overwrite):
        base = fresh_seg_base(path)
        rows = [_Seg(v) for v in values]
        for i, r in enumerate(rows):
            r.seg_id = base + i
        return _write(FleDirWriter, lambda r: r, path, rows, overwrite)

    w, msg = write([1, 2], overwrite=True)
    w.commit([msg])
    w, msg = write([98, 99], overwrite=True)
    real = os.replace

    def replace(src, dst):
        if os.path.basename(dst) == sealed_dir.DONE:
            raise _Killed
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(_Killed):
        w.commit([msg])
    monkeypatch.undo()
    assert _batch(FleDirReader, path) == [1, 2]


def test_small_avrodir_plans_one_partition(tmp_path):
    """avrodir sizes by work like fledir: 4 files are one task, and an
    explicit numPartitions still wins."""
    path = str(tmp_path / "avro")
    w = AvroDirWriter({"path": path}, False, _AVRO_SCHEMA)
    w.commit([w.write([{"v": v}]) for v in range(4)])
    assert len(AvroDirReader({"path": path}).partitions()) == 1
    split = AvroDirReader({"path": path, "numpartitions": "4"}).partitions()
    assert sorted(len(p.paths) for p in split) == [1, 1, 1, 1]
    assert _batch(AvroDirReader, path) == [0, 1, 2, 3]


def test_partition_count_rule():
    count = sealed_dir.partition_count
    assert count(0) == count(8) == 1
    assert count(9) == 2
    assert count(4, rows=3 * sealed_dir.ROWS_PER_TASK) == 3
    assert count(10_000) == 64
    assert count(4, n_parts=32) == 32


def test_unmanifested_feed_lists_sealed_files_only(tmp_path):
    """A directory no writer sealed is a foreign feed: the stream reader
    lists its files by suffix and holds back one that does not parse,
    while the batch reader fails loudly on it."""
    d = tmp_path / "feed"
    d.mkdir()
    (d / "doc_1.ppm").write_bytes(_Ppm(1).payload)
    (d / "doc_2.ppm").write_bytes(_Ppm(2).payload[:-1])  # mid-write
    r = PpmStreamReader({"path": str(d)})
    rows, offset = r.read(r.initialOffset())
    assert _values(rows) == [1] and offset == {"names": ["doc_1.ppm"]}
    with pytest.raises(ValueError, match="truncated raster"):
        _batch(PpmDirReader, str(d))


def _string_constants(tree: ast.AST) -> list[tuple[int, str]]:
    """Non-docstring string constants, with f-string parts."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    return [
        (n.lineno, n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and id(n) not in docs
    ]


def _tab_splits(tree: ast.AST) -> list[int]:
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("partition", "split", "rpartition", "rsplit")
        and any(
            isinstance(a, ast.Constant) and a.value == "\t" for a in n.args
        )
    ]


def _own_protocol(value: str, in_sources: bool) -> bool:
    """A string that names a manifest file, or — in a data source — a
    staging temp name or the stream offset's key."""
    if value in ("_DONE", "_history") or ".manifest" in value:
        return True
    return in_sources and (".tmp" in value or value == "names")


def test_manifests_live_in_one_module():
    """Only sealed_dir.py names `_DONE` or `_history/*.manifest` files
    and splits manifest lines, and no other data source names staging
    temp files or the stream offset: every other module goes through
    it."""
    pkg = REPO / "impala_avx2_parquet_scanner_spark"
    offenders = []
    for p in sorted(pkg.rglob("*.py")) + sorted((REPO / "tools").glob("*.py")):
        if p == pkg / "sources" / "sealed_dir.py":
            continue
        tree = ast.parse(p.read_text())
        where = p.relative_to(REPO)
        in_sources = p.parent == pkg / "sources"
        offenders += [
            f"{where}:{line} {value!r}"
            for line, value in _string_constants(tree)
            if _own_protocol(value, in_sources)
        ]
        offenders += [
            f"{where}:{line} splits on a tab" for line in _tab_splits(tree)
        ]
    assert not offenders, (
        "manifest files belong to sources/sealed_dir.py "
        f"(read_manifest / write_manifest / commit): {offenders}"
    )
