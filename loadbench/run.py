"""Closed-loop benchmark of the engine's public entry points.

    python3 loadbench/run.py --workload scan_sweep --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the engine up
several times (the median is ``setup_s``), warms up, runs the closed loop
for ``--seconds``, checks every answer, and prints a table followed by one
JSON line.  With ``--trace 1`` the loop runs twice, untraced then traced;
the JSON then carries the per-layer metrics and spans are written under
``.loadbench/traces/``.  Exit status is non-zero when any op failed or
returned a wrong answer.  See loadbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from loadbench import proc  # noqa: E402
from loadbench.metrics import (  # noqa: E402
    Op, OpLog, fail_count, fail_ratio, latency_summary, median,
)
from loadbench.tracing import Tracer, job_counts, patched  # noqa: E402

PKG = "impala_avx2_parquet_scanner_spark"
WORK = os.path.join(ROOT, ".loadbench")
SETUP_REPS = 4

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def workloads():
    from loadbench.workloads import DedupPipeline, FleIngest, ScanSweep, TpchMix

    return {w.name: w for w in (ScanSweep, TpchMix, FleIngest, DedupPipeline)}



def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit.  A workload that does not
    exercise a layer reports 0 for it."""
    units = {
        "session.get_spark_s": "s", "session.load_all_s": "s",
        "catalog.table_calls": "count", "catalog.table_s": "s",
        "plan.build_s": "s",
        "exec.collect_s": "s", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.failed_tasks": "count",
        "fle.partitions_s": "s", "fle.read_s": "s",
        "fle.segments_total": "count", "fle.segments_pruned": "count",
        "fle.rows_stored": "count", "fle.rows_decoded": "count",
        "fle.rows_returned": "count", "fle.useful_decode_ratio": "ratio",
        "fle.residual_filters": "count",
        "fle_codec.pack_values_per_s": "1/s",
        "fle_codec.unpack_values_per_s": "1/s",
        "fle_codec.kernel_words_per_s": "1/s",
        "fle.encode_s": "s", "fle.write_s": "s", "fle.segment_bytes": "B",
        "fle_maint.merge_s": "s", "fle_maint.delete_s": "s",
        "fle_maint.compact_s": "s", "fle_maint.vacuum_s": "s",
        "fle_maint.segments_rewritten": "count",
        "fle_maint.segments_untouched": "count",
        "fle_maint.files_before": "count", "fle_maint.files_after": "count",
        "fle_maint.rows_rewritten_per_row_changed": "ratio",
        "parquet.write_s": "s", "parquet.bytes": "B",
        "pipeline.docs_in": "count", "pipeline.docs_kept": "count",
        "pipeline.kept_ratio": "ratio",
        "proc.driver_rss_mb": "MB", "proc.worker_rss_mb": "MB",
        "proc.python_workers": "count", "cpu.steal_pct": "%",
        "trace.overhead_s": "s",
        # end-to-end figures not in the bounded set (see README.md)
        "latency_tail_s": "s", "fle_query_p50_s": "s", "parquet_query_p50_s": "s",
        "ingest_rows_per_s": "1/s", "dml_p50_s": "s",
        "stored_bytes_per_input_byte.fle": "ratio",
        "stored_bytes_per_input_byte.parquet": "ratio",
        "op_fail_ratio": "ratio",
    }
    from loadbench.workloads import DedupPipeline

    for q in DedupPipeline.QUERIES:
        units[f"plan.build_s.{q}"] = "s"
        units[f"exec.collect_s.{q}"] = "s"
    return units


# ------------------------------------------------------------------ setup


def _purge_engine() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


def setup(w, tracer: Tracer) -> dict[str, float]:
    """Set the engine up SETUP_REPS times; the last session stays up.
    Each rep imports the engine afresh, starts a session, runs
    ``load_all`` and the workload's write-once materialisation into a
    cleared asset directory.  The first rep also launches the JVM."""
    from loadbench.workloads import Engine

    reps, get_spark_s, load_all_s = [], [], []
    for rep in range(SETUP_REPS):
        if w.spark is not None:
            w.spark.stop()
        _purge_engine()
        w.clear_assets()
        t0 = time.perf_counter()
        w.eng = eng = Engine()
        t1 = time.perf_counter()
        with tracer.span("session.get_spark"):
            w.spark = eng.session.get_spark(app_name=f"loadbench-{w.name}")
        t2 = time.perf_counter()
        with tracer.span("__init__.load_all"):
            eng.package.load_all()
        t3 = time.perf_counter()
        w.materialise()
        reps.append(time.perf_counter() - t0)
        get_spark_s.append(t2 - t1)
        load_all_s.append(t3 - t2 + (t1 - t0))
    return {
        "setup_s": median(reps),
        "setup_reps_s": reps,
        "session.get_spark_s": median(get_spark_s),
        "session.load_all_s": median(load_all_s),
    }


# ------------------------------------------------------------------- loop


def closed_loop(w, seconds: float, tag: str,
                ops_per_client: int | None = None) -> tuple[list[Op], float]:
    """Each client sends its next op when the previous one returned, until
    ``seconds`` have passed (the op in flight at that point completes) or,
    when ``ops_per_client`` is given, until it has sent that many ops."""
    log = OpLog()
    deadline = time.perf_counter() + seconds

    def more(i: int) -> bool:
        if ops_per_client is not None:
            return i < ops_per_client
        return time.perf_counter() < deadline

    def client(c: int) -> None:
        i = 0
        while more(i):
            op_id = f"{tag}-c{c}-{i}"
            t0 = time.perf_counter()
            try:
                op = w.next_op(c, i, op_id)
            except Exception as exc:  # a failed op is counted, not fatal
                op = Op(op_id, "error", "error", time.perf_counter() - t0,
                        error=f"{type(exc).__name__}: {exc}")
                traceback.print_exc(file=sys.stderr)
            log.add(op)
            i += 1

    start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(w.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return log.ops, time.perf_counter() - start


def measured_phase(w, seconds: float, tag: str) -> dict:
    noise = proc.CpuNoise()
    with proc.RssSampler() as rss:
        ops, wall = closed_loop(w, seconds, tag)
    out = latency_summary(ops, wall)
    out.update(noise.result())
    out.update({
        "ops": ops, "wall_s": wall, "peak_rss_mb": rss.peak_total,
        "proc.driver_rss_mb": rss.peak_driver,
        "proc.worker_rss_mb": rss.peak_workers,
        "proc.python_workers": float(rss.peak_worker_count),
    })
    return out


# ------------------------------------------------------------ per layer


def layer_figures(w, tracer: Tracer, ops: list[Op]) -> dict[str, float]:
    """Per-layer metrics from the traced phase's spans and job groups."""
    n_ops = max(len(ops), 1)
    spans = tracer.spans
    out: dict[str, float] = {}
    cat = [s for s in spans if s["name"] == "catalog.table"]
    out["catalog.table_calls"] = len(cat) / n_ops
    out["catalog.table_s"] = sum(s["end"] - s["start"] for s in cat) / n_ops
    builds = [s for s in spans if s["attrs"].get("role") == "build"]
    execs = [s for s in spans if s["attrs"].get("role") == "exec"]
    out["plan.build_s"] = median([s["end"] - s["start"] for s in builds])
    out["exec.collect_s"] = median([s["end"] - s["start"] for s in execs])
    sc = w.spark.sparkContext
    totals = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for o in ops:
        for k, v in job_counts(sc, o.op_id).items():
            totals[k] += v
    for k, v in totals.items():
        out[f"exec.{k}"] = v / n_ops

    return out


# ----------------------------------------------------------------- main


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    registry = workloads()
    if args.workload not in registry:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(registry)}", file=sys.stderr)
        return 2

    pinned = proc.pin_environment(WORK, ROOT)
    tracer = Tracer(enabled=False)
    w = registry[args.workload](args.seed, WORK, tracer)
    t0 = time.perf_counter()
    w.prepare_inputs()
    gen_s = time.perf_counter() - t0

    try:
        tracer.enabled = bool(args.trace)  # session spans come from set-up
        setup_fig = setup(w, tracer)
        tracer.enabled = False
        env = proc.versions(w.spark)
        t0 = time.perf_counter()
        w.prepare_checks()
        # untimed warm-up of a fixed number of ops, so every run measures
        # from the same point of the JVM's JIT and the Python workers' start
        warm_ops, _ = closed_loop(w, 0.0, "warm", w.WARMUP_OPS)
        warm_s = time.perf_counter() - t0

        main_phase = measured_phase(w, args.seconds, "run")
        traced_phase = None
        layers: dict[str, float] = {}
        if args.trace:
            tracer.enabled = True
            targets = {"catalog.table": w.eng.catalog.table}
            with patched(tracer, PKG, targets):
                traced_phase = measured_phase(w, args.seconds, "traced")
            layers = layer_figures(w, tracer, traced_phase["ops"])
            more, probe_ops, probe_problems = w.layer_metrics(traced_phase["ops"])
            layers.update(more)
            tracer.enabled = False

        all_ops = warm_ops + main_phase["ops"] + (traced_phase["ops"] if traced_phase else [])
        problems = w.check(all_ops)
        if args.trace:
            all_ops += probe_ops
            problems += probe_problems
        main_phase.update(w.workload_metrics(main_phase["ops"]))
    finally:
        if w.spark is not None:
            proc.stop_spark(w.spark)

    attempted = len(all_ops)
    failed = fail_count(all_ops)
    errors = [o for o in all_ops if o.error]
    figures = {"setup_s": setup_fig["setup_s"], **main_phase}
    figures["op_fail_ratio"] = fail_ratio(all_ops)

    # ---- human-readable report
    print(f"workload {w.name}: {w.why}")
    print(f"clients {w.clients} (closed loop), seed {args.seed}, "
          f"seconds {args.seconds}, trace {args.trace}")
    print("sizes " + ", ".join(f"{k}={v}" for k, v in w.sizes.items()))
    print("environment " + ", ".join(f"{k}={v}" for k, v in {**pinned, **env}.items()))
    print(f"input generation {gen_s:.3f} s (cached per seed, not in setup_s); "
          f"setup reps {[round(x, 3) for x in setup_fig['setup_reps_s']]} s; "
          f"checks+warmup {warm_s:.3f} s")
    print(f"noise cpu.steal_pct={main_phase['cpu.steal_pct']:.3f} "
          f"loadavg_1m={main_phase['loadavg_1m']:.2f}")
    print(f"latency_tail_s is p{main_phase['latency_tail_pct']:.1f} "
          f"of {main_phase['latency_samples']} samples")
    print("per kind (median s / ops): " + ", ".join(
        f"{k} {v[0]:.3f}/{v[1]}" for k, v in main_phase["kinds"].items()))
    units = {**END_TO_END,
             **{k: v for k, v in per_layer_units().items() if k in figures}}
    for name, unit in units.items():
        print(f"  {name:<38} {_fmt(figures[name]):>14} {unit}")
    for e in errors[:5]:
        print(f"  failed op {e.op_id} {e.name}: {e.error}")
    for p in problems[:10]:
        print(f"  wrong answer {p}")
    print(f"correctness: {attempted - failed}/{attempted} ops ok")

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{w.name}-{args.seed}.jsonl")
        tracer.write(trace_path)
        layers.update({
            "session.get_spark_s": setup_fig["session.get_spark_s"],
            "session.load_all_s": setup_fig["session.load_all_s"],
            "proc.driver_rss_mb": traced_phase["proc.driver_rss_mb"],
            "proc.worker_rss_mb": traced_phase["proc.worker_rss_mb"],
            "proc.python_workers": traced_phase["proc.python_workers"],
            "cpu.steal_pct": traced_phase["cpu.steal_pct"],
            "trace.overhead_s": traced_phase["latency_p50_s"] - main_phase["latency_p50_s"],
        })
        for k in per_layer_units():
            if k in figures and k not in layers:
                layers[k] = figures[k]
        print(f"spans {len(tracer.spans)} written to {os.path.relpath(trace_path, ROOT)}; "
              f"tracing overhead on latency_p50_s {layers['trace.overhead_s']:+.4f} s")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(figures[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
