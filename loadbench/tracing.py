"""Spans recorded by the benchmark around its calls into each layer.

The engine is not modified: a span opens in the benchmark before it
calls into a module and closes when the call returns.  Calls the engine
makes internally (``catalog.table`` from a query builder) are reached by
rebinding that function in every engine module that imported it, for the
traced phase only (:func:`patched`).

Each span has a name (the module, optionally ``module.function``), start
and end, its parent span and the id of the op it belongs to.  Spans stay
in memory and are written as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "op": op_id if op_id is not None else (parent or {}).get("op"),
            "name": name,
            "attrs": attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


@contextlib.contextmanager
def patched(tracer: Tracer, package: str, targets: dict[str, object]):
    """Rebind each function in ``targets`` (span name -> function) to a
    span-recording wrapper in every loaded module of ``package`` that
    holds a reference to it; undo on exit."""
    undo: list[tuple[object, str, object]] = []
    if tracer.enabled:
        # keyed by id: the targets stay alive, so an equal id is the same object
        wrappers = {id(fn): wrap(tracer, name, fn) for name, fn in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(package) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers:
                    undo.append((mod, attr, val))
                    setattr(mod, attr, wrappers[id(val)])
    try:
        yield
    finally:
        for mod, attr, val in undo:
            setattr(mod, attr, val)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran for one job group."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage is None:
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out
