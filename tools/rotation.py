"""Regenerate ROTATION.md's Coverage section — the driver-hash ledger.

The driver hash-checks the alphabetically-first 50 exported names per
round; `registry.CORE_WINDOW` curates which 50.  This tool derives, from
the committed CORRECTNESS_r*.json artifacts plus the CURRENT window,
which registry queries have ever received a driver-grade hash and which
remain in the rotation pool, then rewrites the `## Coverage` section of
ROTATION.md in place (history sections above it are append-only prose
and stay untouched).  Run after adding queries or rotating the window:

    python tools/rotation.py
"""

from __future__ import annotations

import glob
import json
import re
import sys

sys.path.insert(0, ".")

from impala_avx2_parquet_scanner_spark.registry import (  # noqa: E402
    CORE_WINDOW,
    REGISTRY,
)


def driver_hashed_names() -> set[str]:
    """Names ever green-hashed by the driver: every a0_-prefixed key in
    any CORRECTNESS_r*.json, plus the current window (hashed when the
    round's driver run lands)."""
    seen: set[str] = set()
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        data = json.load(open(path))
        for key in data:
            seen.add(key.removeprefix("a0_"))
    seen.update(CORE_WINDOW)
    return seen


def main() -> None:
    all_names = set(REGISTRY)
    unknown = [n for n in CORE_WINDOW if n not in all_names]
    if unknown:
        raise SystemExit(f"CORE_WINDOW names not in registry: {unknown}")
    if len(CORE_WINDOW) != 50:
        raise SystemExit(f"CORE_WINDOW must hold exactly 50 names, has {len(CORE_WINDOW)}")
    hashed = driver_hashed_names() & all_names
    pool = sorted(all_names - hashed)
    section = (
        "## Coverage\n\n"
        f"- driver-hashed at least once (incl. the current window, hashed when\n"
        f"  this round's driver run lands): **{len(hashed)}** of {len(all_names)}\n\n"
        f"- never driver-hashed ({len(pool)}) — the round-5+ rotation pool:\n\n"
        + "`" + "`, `".join(pool) + "`\n"
    )
    text = open("ROTATION.md").read()
    head = re.split(r"^## Coverage$", text, maxsplit=1, flags=re.M)[0]
    open("ROTATION.md", "w").write(head + section)
    print(f"ROTATION.md: {len(hashed)}/{len(all_names)} hashed, pool {len(pool)}")


if __name__ == "__main__":
    main()
