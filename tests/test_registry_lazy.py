"""The query registry loads a query's module on first lookup.

Importing the package and calling `load_all()` import no module that
registers queries.  `REGISTRY[name]` imports the modules of the name's
family (`registry.FAMILIES`); iterating or sizing `REGISTRY` imports
them all.  A tripwire keeps the family table in step with the modules
that really register each family's names."""

from __future__ import annotations

import importlib
import json
import pkgutil
import subprocess
import sys
from pathlib import Path

import impala_avx2_parquet_scanner_spark as engine
from impala_avx2_parquet_scanner_spark import registry

REPO = Path(__file__).resolve().parent.parent
PKG = engine.__name__

#: registry entries at the commit that introduced the family table
REGISTERED = 293

_WATCH = r'''
import json, sys
sys.path.insert(0, sys.argv[1])
PKG = "impala_avx2_parquet_scanner_spark"


def watched():
    return sorted(
        m.removeprefix(PKG + ".") for m in sys.modules
        if m.startswith(tuple(
            f"{PKG}.{p}." for p in ("operators", "functions", "pipeline")
        )) or m in (f"{PKG}.streaming.events", f"{PKG}.sql")
    )
'''


def _fresh(body: str) -> dict:
    """Run `body` in a new interpreter; it prints one JSON object."""
    out = subprocess.run(
        [sys.executable, "-c", _WATCH + body, str(REPO)],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.splitlines()[-1])


def test_import_and_load_all_import_no_query_module():
    got = _fresh('''
import impala_avx2_parquet_scanner_spark as e
e.load_all()
before = watched()
e.REGISTRY["tpch_q1"]
print(json.dumps({"before": before, "after": watched()}))
''')
    assert got["before"] == []
    assert got["after"] == sorted(registry.FAMILIES["tpch"])


def test_unknown_name_raises_after_importing_every_module():
    got = _fresh('''
import impala_avx2_parquet_scanner_spark as e
from impala_avx2_parquet_scanner_spark import registry
out = {}
for name in ("tpch_q99", "nosuchfamily_q"):
    try:
        e.REGISTRY[name]
        out[name] = "found"
    except KeyError:
        out[name] = "KeyError"
out["missing"] = sorted(
    m for m in registry.MODULES if f"{PKG}.{m}" not in sys.modules
)
print(json.dumps(out))
''')
    assert got == {"tpch_q99": "KeyError", "nosuchfamily_q": "KeyError",
                   "missing": []}


def test_concurrent_first_lookups():
    """More threads than cores race first lookups into shared families,
    with a short switch interval: every lookup finds its query."""
    got = _fresh('''
import threading
import impala_avx2_parquet_scanner_spark as e
names = ["tpch_q1", "tpch_q2", "tpch_q18", "tpch_q6", "pred_eq",
         "scan_project", "count_star", "fn_cast"]
start = threading.Barrier(len(names))
found, errors = {}, []


def look(n):
    start.wait()
    try:
        found[n] = e.REGISTRY[n].name
    except Exception as exc:
        errors.append(repr(exc))


sys.setswitchinterval(1e-6)
ts = [threading.Thread(target=look, args=(n,)) for n in names]
for t in ts:
    t.start()
for t in ts:
    t.join(60)
alive = sum(t.is_alive() for t in ts)
print(json.dumps({"found": found, "errors": errors, "alive": alive}))
''')
    assert got["errors"] == [] and got["alive"] == 0
    assert sorted(got["found"]) == sorted(got["found"].values())
    assert len(got["found"]) == 8


def test_family_table_matches_what_registers_each_family():
    """Tripwire: after importing every module of the package, each
    query's (family, defining module) pair is in `FAMILIES`, every module
    the table names registers a query, and the registry holds every
    query it held before lookups became lazy."""
    for mod in pkgutil.walk_packages(engine.__path__, PKG + "."):
        importlib.import_module(mod.name)
    pairs = {
        (name.partition("_")[0], spec.fn.__module__.removeprefix(PKG + "."))
        for name, spec in registry.REGISTRY.items()
    }
    table = {(fam, m) for fam, mods in registry.FAMILIES.items() for m in mods}
    assert pairs - table == set()
    assert {m for _, m in pairs} == set(registry.MODULES)
    assert len(registry.REGISTRY) == REGISTERED
