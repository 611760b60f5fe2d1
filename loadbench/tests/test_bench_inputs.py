"""Seeded input generation: same seed, same bytes; other seed, other bytes."""

import hashlib
import os

import pytest

from loadbench import inputs


def _digest(root: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind", sorted(inputs.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind):
    a = inputs.generate(kind, 11, str(tmp_path / "a"))
    b = inputs.generate(kind, 11, str(tmp_path / "b"))
    c = inputs.generate(kind, 12, str(tmp_path / "c"))
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da == db
    assert da.keys() == dc.keys()
    changed = [n for n in da if n != "_READY" and da[n] != dc[n]]
    # region and nation are fixed reference tables
    fixed = {"region.parquet", "nation.parquet"}
    assert set(changed) == set(da) - fixed - {"_READY"}


def test_generation_is_cached(tmp_path):
    root = inputs.generate("corpus", 3, str(tmp_path))
    before = os.path.getmtime(os.path.join(root, "documents.parquet"))
    inputs.generate("corpus", 3, str(tmp_path))
    assert os.path.getmtime(os.path.join(root, "documents.parquet")) == before


def test_selectivity_domain():
    q = inputs.fact_columns(5, n=200_000)["l_quantity"]
    assert q.min() == 1 and q.max() == 100
    for k in (1, 10, 50, 100):
        assert abs((q <= k).mean() - k / 100) < 0.01
