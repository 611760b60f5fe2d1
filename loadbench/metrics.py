"""Op log and the statistics the benchmark reports."""

from __future__ import annotations

import statistics
import threading
from dataclasses import dataclass, field

#: ``latency_tail_s`` is the highest percentile that still has this many
#: samples beyond it.
TAIL_BEYOND = 10


@dataclass
class Op:
    """One query or one DML/write call, as a client saw it."""

    op_id: str
    name: str
    kind: str                 # "parquet", "fle", "append", "dml", "pipeline", ...
    latency_s: float
    error: str | None = None  # exception text when the call raised
    wrong: bool = False       # set by the correctness gate
    result: object = None     # kept until the gate has checked it
    detail: dict = field(default_factory=dict)


class OpLog:
    """Thread-safe list of completed ops."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.ops: list[Op] = []

    def add(self, op: Op) -> None:
        with self._lock:
            self.ops.append(op)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile with at
    least TAIL_BEYOND samples beyond it: the (TAIL_BEYOND+1)-th largest
    sample.  With too few samples for that, the median stands in and the
    percentile reads 50."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return median(values), 50.0, n
    s = sorted(values)
    idx = n - TAIL_BEYOND - 1
    return s[idx], 100.0 * (idx + 1) / n, n


def fail_count(ops: list[Op]) -> int:
    """Ops that raised or returned a wrong answer (each counted once)."""
    return sum(1 for o in ops if o.error is not None or o.wrong)


def fail_ratio(ops: list[Op]) -> float:
    return fail_count(ops) / len(ops) if ops else 0.0


def kind_medians(ops: list[Op]) -> dict[str, tuple[float, int]]:
    """Op kind -> (median latency, op count)."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.latency_s)
    return {k: (median(v), len(v)) for k, v in sorted(by_kind.items())}


def latency_summary(ops: list[Op], wall_s: float) -> dict:
    """End-to-end latency figures over successful ops.

    ``latency_p50_s`` is the geometric mean over op kinds of each kind's
    median latency.  Every kind weighs the same however many of its ops
    fit before the time limit, so the figure does not jump with where the
    limit cut the op sequence (a plain median of a two-kind mix flips
    between the kinds' levels).  The geometric mean, as in TPC-H's power
    metric, lets each kind move it by its own relative change; a median
    over kinds jumps between the kinds whose medians sit close together
    as their order changes from run to run.  With one kind it is the
    plain median."""
    ok = [o for o in ops if o.error is None]
    kinds = kind_medians(ok)
    value, pct, n = tail([o.latency_s for o in ok])
    return {
        "latency_p50_s": (statistics.geometric_mean([m for m, _ in kinds.values()])
                          if kinds else 0.0),
        "latency_tail_s": value,
        "latency_tail_pct": pct,
        "latency_samples": n,
        "ops_per_s": len(ok) / wall_s if wall_s > 0 else 0.0,
        "kinds": kinds,
    }
