"""The write-once asset store (`assets.py`): the key follows the input
files, a build publishes by one rename, a failed or losing build leaves
nothing behind, and no other module decides where assets live."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from impala_avx2_parquet_scanner_spark import assets

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture
def asset_root(tmp_path, monkeypatch):
    root = tmp_path / "assets"
    monkeypatch.setattr(assets, "ROOT", str(root))
    return root


def _siblings(sf_dir: str, name: str) -> list[str]:
    return sorted(os.listdir(os.path.dirname(assets.asset_dir(sf_dir, name))))


def test_rewritten_input_gets_fresh_fle_asset(spark, sf_dir, tmp_path, asset_root):
    """An input regenerated at the same path is a new key: the second
    materialisation encodes the new rows instead of serving the old
    segments."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_dir,
    )

    alt = tmp_path / "sf"
    alt.mkdir()
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), alt / f)

    def counts(path):
        df = spark.read.format("fledir").option("path", path).load()
        return dict(map(tuple, df.groupBy("l_returnflag").count().collect()))

    li = alt / "lineitem.parquet"
    rows = pq.read_table(li)
    flags = rows["l_returnflag"].to_pylist()
    first = materialize_fle_dir(spark, str(alt))
    assert counts(first) == {f: flags.count(f) for f in set(flags)}

    kept = rows.filter(pc.equal(rows["l_returnflag"], "R"))
    pq.write_table(kept, li)
    second = materialize_fle_dir(spark, str(alt))
    assert second != first
    assert counts(second) == {"R": kept.num_rows}
    assert materialize_fle_dir(spark, str(alt)) == second  # now published


_RACER = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from impala_avx2_parquet_scanner_spark import assets
assets.ROOT = {root!r}
gate = {gate!r}

def build(tmp):
    open(os.path.join(gate, str(os.getpid())), "w").close()
    deadline = time.time() + 60
    while len(os.listdir(gate)) < 2 and time.time() < deadline:
        time.sleep(0.01)  # hold until both racers are inside build
    with open(os.path.join(tmp, "owner"), "w") as fh:
        fh.write(str(os.getpid()))

print(json.dumps({{"pid": os.getpid(),
                  "path": assets.publish({sf!r}, "raced", build)}}))
"""


def test_two_processes_publish_one_copy(tmp_path, asset_root):
    """Two processes building the same asset at once: exactly one copy
    is published, both get its path, and the loser's private build
    directory is gone."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"x" * 10)
    gate = tmp_path / "gate"
    gate.mkdir()
    code = _RACER.format(
        repo=str(REPO), root=str(asset_root), gate=str(gate), sf=str(sf)
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code], stdout=subprocess.PIPE, text=True
        )
        for _ in range(2)
    ]
    outs = [json.loads(p.communicate(timeout=120)[0]) for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert len(os.listdir(gate)) == 2  # both really built
    final = assets.asset_dir(str(sf), "raced")
    assert [o["path"] for o in outs] == [final, final]
    assert _siblings(str(sf), "raced") == ["raced"]  # no tmp- left
    owner = int((Path(final) / "owner").read_text())
    assert owner in {o["pid"] for o in outs}


def test_failed_build_publishes_nothing(tmp_path, asset_root):
    """A build that raises halfway leaves no asset and no private
    directory; the next call builds again."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"x")
    calls = []

    def broken(tmp):
        calls.append(tmp)
        (Path(tmp) / "half").write_text("written before the failure")
        raise RuntimeError("build failed halfway")

    with pytest.raises(RuntimeError, match="halfway"):
        assets.publish(str(sf), "flaky", broken)
    final = assets.asset_dir(str(sf), "flaky")
    assert not os.path.exists(final)
    assert not os.path.exists(calls[0])
    assert _siblings(str(sf), "flaky") == []

    def good(tmp):
        calls.append(tmp)
        (Path(tmp) / "whole").write_text("ok")

    assert assets.publish(str(sf), "flaky", good) == final
    assert len(calls) == 2
    assert os.listdir(final) == ["whole"]
    assert assets.publish(str(sf), "flaky", good) == final
    assert len(calls) == 2  # published: not built again


def test_key_follows_input_files_and_version(tmp_path, asset_root, monkeypatch):
    """Size or mtime of any input file, a new file, and ASSET_VERSION all
    move the key; nothing else does."""
    sf = tmp_path / "sf"
    sf.mkdir()
    f = sf / "t.parquet"
    f.write_bytes(b"abc")
    k0 = assets.asset_dir(str(sf), "a")
    assert assets.asset_dir(str(sf), "a") == k0
    os.utime(f, ns=(1, 1))
    k1 = assets.asset_dir(str(sf), "a")
    (sf / "u.parquet").write_bytes(b"")
    k2 = assets.asset_dir(str(sf), "a")
    monkeypatch.setattr(assets, "ASSET_VERSION", assets.ASSET_VERSION + 1)
    k3 = assets.asset_dir(str(sf), "a")
    assert len({k0, k1, k2, k3}) == 4


#: A module that hashes the fixture path itself, or writes under the old
#: hand-keyed roots, has made its own keying decision.
_OWN_KEYING = re.compile(r"/tmp/spark_graft_|(md5|sha1|sha256|blake2b)\([^)]*abspath")


def test_asset_keying_lives_in_one_module():
    pkg = REPO / "impala_avx2_parquet_scanner_spark"
    files = [REPO / "bench.py"] + [
        p for p in sorted(pkg.rglob("*.py")) if p != pkg / "assets.py"
    ]
    offenders = [
        f"{p.relative_to(REPO)}:{i}"
        for p in files
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _OWN_KEYING.search(line)
    ]
    assert not offenders, (
        "write-once cache keys and paths belong to assets.py "
        f"(asset_dir / publish): {offenders}"
    )
