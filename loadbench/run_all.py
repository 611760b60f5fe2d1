"""Run every workload for one seed and print their end-to-end metrics.

    python3 loadbench/run_all.py --seed 1 [--seconds 20] [--trace 0]

Each workload runs in its own process through run.py (the listed ones of
BENCHMARK.json first, then fle_ingest and dedup_pipeline).  Exits
non-zero if any run does.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from loadbench.run import workloads  # noqa: E402


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    names = listed + [w for w in workloads() if w not in listed]
    status, rows = 0, []
    for name in names:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        status = status or proc.returncode
        last = proc.stdout.strip().splitlines()[-1:] or ["{}"]
        try:
            result = json.loads(last[0])
        except json.JSONDecodeError:
            result = {}
        for metric, m in result.get("metrics", {}).items():
            rows.append((name, metric, m["value"], m["unit"]))
        rows.append((name, "failed/attempted",
                     f"{result.get('failed', '?')}/{result.get('attempted', '?')}",
                     f"exit {proc.returncode}"))
    print("\nsummary")
    for name, metric, value, unit in rows:
        shown = f"{value:.6g}" if isinstance(value, float) else value
        print(f"  {name:<16} {metric:<40} {shown:>14} {unit}")
    return status


if __name__ == "__main__":
    sys.exit(main())
