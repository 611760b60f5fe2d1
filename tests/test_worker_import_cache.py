"""The Python-worker import-cache trim (`pyworker.py`).

A reused pyspark worker starts every call with
`importlib.invalidate_caches()`, which re-reads the zip directory of
each `zipimporter` left in `sys.path_importer_cache`.  Every worker-side
entry point of the fledir, avrodir and ppmdir batch sources (and
`write_fledir`'s encode closure) must leave none behind, also when a
`read()` generator is closed early.  The trim must not break a later
import from the zip or a resource read through `importlib.resources`.
A tripwire keeps every closure the package hands to a Python worker
wrapped in `trims`."""

from __future__ import annotations

import ast
import importlib
import importlib.resources
import sys
import zipfile
import zipimport
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from impala_avx2_parquet_scanner_spark.sources.avro_io import (
    AvroDataSource,
    AvroDirReader,
    AvroDirWriter,
)
from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    FleDataSource,
    FleDirReader,
    FleDirWriter,
    encode_segment_columns,
    parse_segment,
    write_fledir,
)
from impala_avx2_parquet_scanner_spark.sources.ppm_datasource import (
    PpmDataSource,
    PpmDirReader,
    PpmDirWriter,
)

REPO = Path(__file__).resolve().parent.parent
PKG = "zcachepkg"


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """A zip on `sys.path` holding `zcachepkg.sub.{a,b}` and a resource,
    with `zcachepkg.sub.a` imported, so that the archive and both
    package directories have a cached zipimporter."""
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/sub/__init__.py", "")
        z.writestr(f"{PKG}/sub/a.py", "A = 1\n")
        z.writestr(f"{PKG}/sub/b.py", "B = 2\n")
        z.writestr(f"{PKG}/sub/data.json", '{"ok": true}')
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module(f"{PKG}.sub.a")
    assert len(_zipimporters()) >= 3
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for path in _zipimporters():
        del sys.path_importer_cache[path]


def _zipimporters() -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def _seed(archive: Path) -> None:
    """What a worker's imports leave behind: one zipimporter for the
    archive and one per package directory imported from."""
    for sub in ("", f"/{PKG}", f"/{PKG}/sub"):
        path = f"{archive}{sub}"
        sys.path_importer_cache[path] = zipimport.zipimporter(path)


# --- one committed two-row table per format, and its entry points ----------

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


_SCHEMA = StructType([StructField("v", LongType())])
_AVRO = {"type": "record", "name": "r", "fields": [{"name": "v", "type": "long"}]}

#: format → (DataSource, reader, writer factory, row factory)
_FORMATS = {
    "fledir": (FleDataSource, FleDirReader, FleDirWriter, _Seg),
    "avrodir": (
        AvroDataSource, AvroDirReader,
        lambda o, overwrite: AvroDirWriter(o, overwrite, _AVRO),
        lambda v: {"v": v},
    ),
    "ppmdir": (PpmDataSource, PpmDirReader, PpmDirWriter, _Ppm),
}


def _table(fmt: str, root: Path) -> dict:
    _, _, writer, row = _FORMATS[fmt]
    opts = {"path": str(root / fmt)}
    w = writer(opts, overwrite=True)
    w.commit([w.write([row(1)]), w.write([row(2)])])  # two files
    return opts


def _entry_point(fmt: str, entry: str, opts: dict):
    """One entry point on a committed two-segment table, as a
    zero-argument call; its set-up runs here, not in the call."""
    source, reader, writer, row = _FORMATS[fmt]
    if entry == "schema":
        return source(opts).schema
    if entry == "writer":
        return lambda: source(opts).writer(_SCHEMA, False)
    if entry == "write":
        return lambda: writer(opts, overwrite=False).write([row(3)])
    if entry in ("commit", "abort"):
        w = writer(opts, overwrite=False)
        msg = w.write([row(3)])
        return lambda: getattr(w, entry)([msg])
    r = reader(opts)
    if entry == "partitions":
        return r.partitions
    (part,) = r.partitions()
    assert len(part.paths) == 2
    gen = r.read(part)
    if entry == "read":
        return lambda: list(gen)
    return lambda: (next(gen), gen.close())  # read closed after one batch


_ENTRY_POINTS = ("schema", "writer", "partitions", "read",
                 "read_closed_early", "write", "commit", "abort")


@pytest.mark.parametrize("entry", _ENTRY_POINTS)
@pytest.mark.parametrize("fmt", sorted(_FORMATS))
def test_entry_point_leaves_no_zipimporter(fmt, entry, zipped, tmp_path):
    opts = _table(fmt, tmp_path)
    call = _entry_point(fmt, entry, opts)
    _seed(zipped)
    call()
    assert _zipimporters() == []


class _Frame:
    """Stands in for the DataFrame `write_fledir` encodes: it keeps the
    closure handed to `mapInPandas` and ignores the write chain."""

    def mapInPandas(self, fn, schema):
        self.encode = fn
        return self

    @property
    def write(self):
        return self

    def format(self, *_):
        return self

    mode = option = format

    def save(self):
        pass


def test_write_fledir_encode_leaves_no_zipimporter(zipped, tmp_path,
                                                   monkeypatch):
    import pandas as pd
    import pyspark

    class _Task:
        def partitionId(self):
            return 0

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(_Task))
    frame = _Frame()
    write_fledir(frame, [("v", np.int64, None)], str(tmp_path / "t"))
    batches = [pd.DataFrame({"v": [1, 2]}), pd.DataFrame({"v": [3]})]
    _seed(zipped)
    out = frame.encode(iter(batches))
    assert len(next(out)) == 1
    out.close()
    assert _zipimporters() == []
    first = next(frame.encode(iter(batches)))
    assert parse_segment(first["payload"][0]).n == 2


def test_trimmed_zip_still_imports_and_reads_resources(zipped):
    from impala_avx2_parquet_scanner_spark.pyworker import trim_import_cache

    trim_import_cache()
    assert _zipimporters() == []
    assert importlib.import_module(f"{PKG}.sub.b").B == 2
    data = importlib.resources.files(f"{PKG}.sub").joinpath("data.json")
    assert data.read_text() == '{"ok": true}'


def test_trimmed_pyspark_error_renders_its_message(zipped):
    from pyspark.errors import PySparkValueError

    from impala_avx2_parquet_scanner_spark.pyworker import trim_import_cache

    trim_import_cache()
    err = PySparkValueError(
        errorClass="CANNOT_BE_EMPTY", messageParameters={"item": "column"}
    )
    assert str(err) == "[CANNOT_BE_EMPTY] At least one column must be specified."


# --- tripwire: every closure handed to a Python worker is trimmed ----------

_WORKER_CALLS = {"mapInPandas", "mapInArrow", "applyInPandas", "pandas_udf"}


def _name(node) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else None


def _trimmed(fn: ast.FunctionDef) -> bool:
    return any(_name(d) == "trims" for d in fn.decorator_list)


def _untrimmed(tree: ast.AST) -> list[int]:
    """Lines where a worker closure defined in this module is not
    wrapped in `trims`: the first argument of a worker call, the inner
    closure of a factory called there, or a `@pandas_udf` function."""
    defs: dict[str, list[ast.FunctionDef]] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef):
            defs.setdefault(n.name, []).append(n)
    bad = []
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef):
            if any(
                isinstance(d, ast.Call) and _name(d.func) == "pandas_udf"
                for d in n.decorator_list
            ) and not _trimmed(n):
                bad.append(n.lineno)
        if not (
            isinstance(n, ast.Call) and _name(n.func) in _WORKER_CALLS
            and n.args
        ):
            continue
        arg = n.args[0]
        if isinstance(arg, ast.Name):
            if not all(_trimmed(f) for f in defs.get(arg.id, [])):
                bad.append(n.lineno)
        elif isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            for factory in defs.get(arg.func.id, []):
                inner = [
                    f for f in ast.walk(factory)
                    if isinstance(f, ast.FunctionDef) and f is not factory
                ]
                if not any(_trimmed(f) for f in inner):
                    bad.append(n.lineno)
        else:
            bad.append(n.lineno)
    return bad


def test_every_worker_closure_is_trimmed():
    pkg = REPO / "impala_avx2_parquet_scanner_spark"
    found = [
        f"{p.relative_to(REPO)}:{line}"
        for p in sorted(pkg.rglob("*.py"))
        for line in _untrimmed(ast.parse(p.read_text()))
    ]
    assert found == []
    probe = ast.parse(
        "def k(b):\n    yield b\n\ndf.mapInPandas(k, 's')\n"
    )
    assert _untrimmed(probe) == [4]
