"""The four workloads.

Each workload owns its inputs, the engine-side materialisation counted
in ``setup_s``, a closed-loop op generator, the expected answers the
correctness gate compares against, and the per-layer figures only it can
produce.  Ops call the engine only through its public entry points:
``session.get_spark``, registry query builders, ``spark.read.format
("fledir")``, the ``sources.fle_*`` / ``sources.parquet_io`` writers and
maintenance calls, and ``collect()``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from loadbench import inputs
from loadbench.check import Oracle, canonical, same_result, spark_rows
from loadbench.metrics import Op, median

PKG = "impala_avx2_parquet_scanner_spark"


class Engine:
    """The engine modules, imported afresh for every setup."""

    def __init__(self) -> None:
        import importlib

        m = lambda name: importlib.import_module(f"{PKG}.{name}")  # noqa: E731
        self.package = importlib.import_module(PKG)
        self.session = m("session")
        self.catalog = m("catalog")
        self.registry = m("registry")
        self.fle_codec = m("sources.fle_codec")
        self.fle_ds = m("sources.fle_datasource")
        self.fle_maint = m("sources.fle_maintenance")
        self.parquet_io = m("sources.parquet_io")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _manifest_rows(path: str) -> dict[str, int]:
    """Committed segment name -> row count, from the fledir ``_DONE``
    manifest (one ``name<TAB>stats-json`` line per segment)."""
    import json

    out = {}
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        with open(done) as fh:
            for line in fh.read().splitlines():
                if line:
                    name, _, stats = line.partition("\t")
                    out[name] = int(json.loads(stats).get("__rows__", 0))
    return out


def mark_wrong(ops: list[Op], expected_of) -> list[str]:
    """Compare each op that returned with ``expected_of(op)``; flag the
    ones that differ and describe them."""
    problems = []
    for o in ops:
        if o.error is None:
            diff = same_result(o.result, expected_of(o))
            if diff:
                o.wrong = True
                problems.append(f"{o.op_id} {o.name}: {diff}")
    return problems


class Workload:
    name = ""
    clients = 1
    why = ""
    #: ops each client runs, untimed, before the measured loop
    WARMUP_OPS = 8

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.assets = os.path.join(work, "assets", f"{self.name}-{seed}")
        self.data_root = os.path.join(work, "data")
        self.spark = None
        self.eng: Engine | None = None
        self.sizes: dict[str, object] = {}

    # -- lifecycle -----------------------------------------------------
    def prepare_inputs(self) -> None:
        """Seeded input generation (cached; not timed)."""

    def clear_assets(self) -> None:
        shutil.rmtree(self.assets, ignore_errors=True)
        os.makedirs(self.assets, exist_ok=True)

    def materialise(self) -> None:
        """Engine write-once work before the first op (timed in setup_s)."""

    def prepare_checks(self) -> None:
        """Expected answers (not timed)."""

    def next_op(self, client: int, i: int, op_id: str) -> Op:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[str]:
        raise NotImplementedError

    def workload_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {}

    def probe(self) -> list[Op]:
        """One pass over the op mix, for a traced run of another workload."""
        raise NotImplementedError

    def layer_metrics(self, ops: list[Op]) -> tuple[dict[str, float], list[Op], list[str]]:
        """Per-layer figures only this workload produces, from its traced
        ops.  Returns them with any extra ops run to get them (checked by
        their own gate, and counted as attempted) and the problems found."""
        return {}, [], []

    # -- helpers -------------------------------------------------------
    def collect(self, df, op_id: str):
        """collect() under the op's Spark job group, timed as exec."""
        with self.tracer.span("exec.collect", role="exec") as sp:
            if sp is not None:
                self.spark.sparkContext.setJobGroup(op_id, op_id)
            rows = df.collect()
        return rows


# =================================================================== TPC-H


class RegistryMix(Workload):
    """Registry queries over generated tables, checked with their DuckDB
    oracle SQL."""

    QUERIES: tuple[str, ...] = ()
    TABLES: tuple[str, ...] = ()

    def prepare_checks(self) -> None:
        oracle = Oracle(self.data, list(self.TABLES))
        try:
            self.expected = {
                q: oracle.run(self.eng.registry.REGISTRY[q].oracle)
                for q in self.QUERIES
            }
        finally:
            oracle.close()

    def next_op(self, client: int, i: int, op_id: str) -> Op:
        # Every client cycles through the queries in the same fixed order
        # from the first one.  The seed changes the data, not the order, so
        # a time-limited run holds the same query mix every time.  Clients
        # that start at different queries drift into this lock-step on
        # their own after tens of ops, and the latencies move with the
        # drift; starting in step measures the state they settle in.
        q = self.QUERIES[i % len(self.QUERIES)]
        spec = self.eng.registry.REGISTRY[q]
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{q}", op_id=op_id):
            with self.tracer.span(spec.fn.__module__.removeprefix(PKG + "."),
                                  role="build", query=q):
                df = spec.fn(self.spark, self.data)
            rows = self.collect(df, op_id)
        # each query is its own op kind, so latency_p50_s weighs them equally
        return Op(op_id, q, q, time.perf_counter() - t0,
                  result=spark_rows(df.columns, rows))

    def probe(self) -> list[Op]:
        return [self.next_op(0, i, f"probe-{i}") for i in range(len(self.QUERIES))]

    def check(self, ops: list[Op]) -> list[str]:
        return mark_wrong(ops, lambda o: self.expected[o.name])


class TpchMix(RegistryMix):
    name = "tpch_mix"
    clients = 2
    why = ("TPC-H join/aggregate registry queries from 2 concurrent clients: "
           "catalog, operators.* builders and Spark shuffle; no FLE code runs")
    QUERIES = ("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q9", "tpch_q12",
               "tpch_q13", "tpch_q18")
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem")
    #: two passes over the queries: the cold first pass takes ~4x the
    #: settled latency, the second ~1.5x
    WARMUP_OPS = 14

    def prepare_inputs(self) -> None:
        import pyarrow.parquet as pq

        self.data = inputs.generate("tpch", self.seed, self.data_root)
        self.sizes = {
            "lineitem_rows": pq.ParquetFile(f"{self.data}/lineitem.parquet").metadata.num_rows,
            "input_mb": round(_dir_bytes(self.data) / 2**20, 2),
        }

    def layer_metrics(self, ops: list[Op]):
        """The traced run also passes the dedup/pipeline ops once each, so
        the pipeline layer has figures (see README.md)."""
        return run_probe(self, DedupPipeline)


class DedupPipeline(RegistryMix):
    name = "dedup_pipeline"
    why = ("dedup, text and ANN registry ops over a corpus with seeded near-"
           "duplicates: pipeline.*, functions.text and the Arrow UDF path")
    QUERIES = ("dedup_exact", "dedup_minhash_lsh", "dedup_clusters",
               "dedup_semantic", "text_bm25_topk", "pipeline_curate",
               "ann_ivf_topk")
    TABLES = ("documents", "embeddings")

    def prepare_inputs(self) -> None:
        self.data = inputs.generate("corpus", self.seed, self.data_root)
        self.sizes = {
            "documents": inputs.DOCS,
            "embeddings": inputs.EMBEDDINGS,
            "near_dup_share": inputs.NEAR_DUP_SHARE,
            "exact_dup_share": inputs.EXACT_DUP_SHARE,
            "input_mb": round(_dir_bytes(self.data) / 2**20, 2),
        }

    def layer_metrics(self, ops: list[Op]):
        """Per-op build and collect time, and how many documents the
        curation pipeline keeps."""
        spans: dict[str, list[dict]] = {}
        for s in self.tracer.spans:
            spans.setdefault(s["op"], []).append(s)
        out: dict[str, float] = {}
        for q in self.QUERIES:
            mine = [s for o in ops if o.name == q for s in spans.get(o.op_id, [])]
            out[f"plan.build_s.{q}"] = median(
                [s["end"] - s["start"] for s in mine if s["attrs"].get("role") == "build"])
            out[f"exec.collect_s.{q}"] = median(
                [s["end"] - s["start"] for s in mine if s["attrs"].get("role") == "exec"])
        kept = [len(o.result[1]) for o in ops
                if o.name == "pipeline_curate" and o.error is None]
        out["pipeline.docs_in"] = float(inputs.DOCS)
        out["pipeline.docs_kept"] = float(median(kept))
        out["pipeline.kept_ratio"] = median(kept) / inputs.DOCS
        return out, [], []


def run_probe(host: Workload, cls) -> tuple[dict[str, float], list[Op], list[str]]:
    """Run one pass of another workload's op mix on ``host``'s session,
    traced and checked, and return its per-layer figures, its ops and the
    problems its correctness gate found."""
    probe = cls(host.seed, host.work, host.tracer)
    probe.spark, probe.eng = host.spark, host.eng
    probe.prepare_inputs()
    probe.clear_assets()
    probe.materialise()
    probe.prepare_checks()
    ops = probe.probe()
    problems = probe.check(ops)
    figures, more_ops, more_problems = probe.layer_metrics(ops)
    return figures, ops + more_ops, problems + more_problems


# ============================================================= scan sweep


def _fact_predicates() -> list[tuple[str, str, object]]:
    """(name, DuckDB SQL predicate, Spark column builder)."""
    from pyspark.sql import functions as F

    preds = [
        (f"qty_le_{k:03d}", f"l_quantity <= {k}",
         (lambda k: lambda: F.col("l_quantity") <= k)(k))
        for k in (1, 10, 20, 30, 50, 80, 100)
    ]
    preds += [
        ("disc_in", "l_discount IN (1, 3, 5)",
         lambda: F.col("l_discount").isin(1, 3, 5)),
        ("qty_between", "l_quantity BETWEEN 20 AND 29",
         lambda: F.col("l_quantity").between(20, 29)),
        ("mode_eq", "l_shipmode = 'RAIL'",
         lambda: F.col("l_shipmode") == "RAIL"),
    ]
    return preds


_FACT_AGG_SQL = (
    "SELECT COUNT(*) AS n, SUM(l_extendedprice) AS revenue, "
    "MIN(l_orderkey) AS kmin, MAX(l_orderkey) AS kmax FROM fact WHERE {pred}"
)


def _fact_agg(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_extendedprice").alias("revenue"),
        F.min("l_orderkey").alias("kmin"),
        F.max("l_orderkey").alias("kmax"),
    )


def _write_fle(eng: Engine, columns: dict[str, np.ndarray], path: str,
               seg_rows: int) -> None:
    """Encode columns into fledir segments of ``seg_rows`` rows and commit
    them through the fledir writer half, in this process."""
    from collections import namedtuple

    Seg = namedtuple("Seg", "seg_id payload")
    n = len(next(iter(columns.values())))
    segs = [
        Seg(i, eng.fle_ds.encode_segment_columns(
            [(c, v[lo:lo + seg_rows]) for c, v in columns.items()]))
        for i, lo in enumerate(range(0, n, seg_rows))
    ]
    writer = eng.fle_ds.FleDirWriter({"path": path}, overwrite=True)
    writer.commit([writer.write(iter(segs))])


class ScanSweep(Workload):
    name = "scan_sweep"
    why = ("selectivity sweep plus IN/BETWEEN/string-equality scans on FLE and "
           "parquet, uniform and sorted layouts: the paper's FLE scan path")
    #: two predicate blocks: the first op of each format is cold (~5-7 s)
    WARMUP_OPS = 8
    LAYOUTS = ("uniform", "sorted")
    FORMATS = ("fle", "parquet")
    #: indexes into _fact_predicates(): 1%, 100%, 10%, 80%, IN, 50%,
    #: string equality, 30%, BETWEEN, 20%
    PRED_ORDER = (0, 6, 1, 5, 7, 4, 9, 3, 8, 2)

    def prepare_inputs(self) -> None:
        self.data = inputs.generate("fact", self.seed, self.data_root)
        self.preds = _fact_predicates()
        # Blocks of four ops: one predicate on both formats and both
        # layouts, in seeded order within the block.  The predicate order is
        # fixed and alternates low and high selectivity, so a time-limited
        # run holds the same mix whatever the seed (a seeded predicate
        # order moved the run's median by the luck of the draw).
        rng = inputs.rng_for(self.seed, "scan-order")
        pairs = [(fmt, layout) for layout in self.LAYOUTS for fmt in self.FORMATS]
        self.specs = [
            (*pairs[j], p)
            for p in self.PRED_ORDER
            for j in rng.permutation(len(pairs))
        ]
        self.sizes = {
            "fact_rows": inputs.FACT_ROWS,
            "segment_rows": inputs.FACT_SEGMENT_ROWS,
            "input_mb": round(_dir_bytes(self.data) / 2**20, 2),
        }

    def store(self, fmt: str, layout: str) -> str:
        if fmt == "parquet":
            suffix = "" if layout == "uniform" else "_sorted"
            return os.path.join(self.data, f"fact{suffix}.parquet")
        return os.path.join(self.assets, f"fle_{layout}")

    def materialise(self) -> None:
        """The parquet layouts are inputs; the FLE layouts are the engine's
        write-once work: encode_segment_columns plus the fledir writer."""
        import pyarrow.parquet as pq

        self.eng.fle_ds.register_fledir(self.spark)
        for layout in self.LAYOUTS:
            table = pq.read_table(self.store("parquet", layout))
            cols = {c: table[c].to_numpy() for c in table.column_names}
            with self.tracer.span("sources.fle_datasource.writer"):
                _write_fle(self.eng, cols, self.store("fle", layout),
                           inputs.FACT_SEGMENT_ROWS)

    def prepare_checks(self) -> None:
        oracle = Oracle(self.data, ["fact"])
        try:
            self.expected = [
                oracle.run(_FACT_AGG_SQL.format(pred=sql)) for _, sql, _ in self.preds
            ]
        finally:
            oracle.close()

    def _query(self, spec_idx: int, op_id: str) -> Op:
        fmt, layout, p = self.specs[spec_idx]
        pname, _, pred = self.preds[p]
        path = self.store(fmt, layout)
        t0 = time.perf_counter()
        with self.tracer.span(f"op.scan_{fmt}", op_id=op_id):
            if fmt == "fle":
                # a fresh load per query: Spark caches the last planned
                # scan of a loaded Python data source relation
                with self.tracer.span("sources.fle_datasource", role="build"):
                    df = _fact_agg(
                        self.spark.read.format("fledir").option("path", path)
                        .load().filter(pred()))
            else:
                with self.tracer.span("sources.parquet_io", role="build"):
                    df = _fact_agg(
                        self.eng.parquet_io.read_parquet(self.spark, path)
                        .filter(pred()))
            rows = self.collect(df, op_id)
        lat = time.perf_counter() - t0
        return Op(op_id, f"{fmt}:{layout}:{pname}", fmt, lat,
                  result=spark_rows(df.columns, rows), detail={"pred": p})

    def next_op(self, client: int, i: int, op_id: str) -> Op:
        return self._query(i % len(self.specs), op_id)

    def check(self, ops: list[Op]) -> list[str]:
        """Every answer, fledir or parquet, must equal DuckDB's answer to
        the same predicate, so the two formats also agree with each other."""
        return mark_wrong(ops, lambda o: self.expected[o.detail["pred"]])

    def workload_metrics(self, ops: list[Op]) -> dict[str, float]:
        ok = [o for o in ops if o.error is None]
        return {
            "fle_query_p50_s": median([o.latency_s for o in ok if o.kind == "fle"]),
            "parquet_query_p50_s": median([o.latency_s for o in ok if o.kind == "parquet"]),
        }

    def layer_metrics(self, ops: list[Op]):
        """Reader replay and codec throughput on this workload's data; the
        traced run also passes the fle_ingest op cycle once, so the writer
        and maintenance layers have figures (see README.md)."""
        out = fle_reader_replay(self)
        out.update(codec_micro(self.eng, inputs.fact_columns(self.seed)))
        figures, probe_ops, problems = run_probe(self, FleIngest)
        out.update(figures)
        return out, probe_ops, problems


def fle_reader_replay(w: ScanSweep) -> dict[str, float]:
    """Replay every FLE query's scan in-process through the data source's
    public reader API (reader, pushFilters, partitions, read) and count
    segments and rows at each step."""
    import pyspark.sql.datasource as dsf
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    eng, tr = w.eng, w.tracer
    filters = {
        "disc_in": [dsf.In(("l_discount",), (1, 3, 5))],
        "qty_between": [dsf.GreaterThanOrEqual(("l_quantity",), 20),
                        dsf.LessThanOrEqual(("l_quantity",), 29)],
        "mode_eq": [dsf.EqualTo(("l_shipmode",), "RAIL")],
    }
    for k in (1, 10, 20, 30, 50, 80, 100):
        filters[f"qty_le_{k:03d}"] = [dsf.LessThanOrEqual(("l_quantity",), k)]
    schema = StructType([StructField("l_orderkey", LongType()),
                         StructField("l_extendedprice", LongType()),
                         StructField("l_quantity", LongType()),
                         StructField("l_discount", LongType()),
                         StructField("l_shipmode", StringType())])
    tot = dict(partitions_s=[], read_s=[], segments_total=0, segments_read=0,
               rows_stored=0, rows_decoded=0, rows_returned=0, residual=0, n=0)
    decoded = [0]
    real_decode = eng.fle_ds.decode_segment_columns

    def counting_decode(seg, *a, **kw):
        br = kw.get("block_range")
        lo, hi = br if br else (0, seg.n_blocks)
        decoded[0] += min(hi * 64, seg.n) - lo * 64
        return real_decode(seg, *a, **kw)

    real_parse = eng.fle_ds.parse_segment
    opened = [0]

    def counting_parse(payload):
        opened[0] += 1
        return real_parse(payload)

    for layout in w.LAYOUTS:
        path = w.store("fle", layout)
        manifest = _manifest_rows(path)
        for pname, _, _ in w.preds:
            op = f"replay-{layout}-{pname}"
            with tr.span("op.fle_replay", op_id=op):
                with tr.span("sources.fle_datasource.reader"):
                    reader = eng.fle_ds.FleDataSource({"path": path}).reader(schema)
                with tr.span("sources.fle_datasource.pushFilters"):
                    residual = list(reader.pushFilters(filters[pname]))
                t0 = time.perf_counter()
                with tr.span("sources.fle_datasource.partitions"):
                    parts = reader.partitions()
                tot["partitions_s"].append(time.perf_counter() - t0)
                opened[0] = decoded[0] = 0
                eng.fle_ds.decode_segment_columns = counting_decode
                eng.fle_ds.parse_segment = counting_parse
                returned = 0
                t0 = time.perf_counter()
                try:
                    with tr.span("sources.fle_datasource.read"):
                        for part in parts:
                            for batch in reader.read(part):
                                returned += batch.num_rows
                finally:
                    eng.fle_ds.decode_segment_columns = real_decode
                    eng.fle_ds.parse_segment = real_parse
                tot["read_s"].append(time.perf_counter() - t0)
            tot["n"] += 1
            tot["segments_total"] += len(manifest)
            tot["segments_read"] += opened[0]
            tot["rows_stored"] += sum(manifest.values())
            tot["rows_decoded"] += decoded[0]
            tot["rows_returned"] += returned
            tot["residual"] += len(residual)
    n = tot["n"]
    return {
        "fle.partitions_s": median(tot["partitions_s"]),
        "fle.read_s": median(tot["read_s"]),
        "fle.segments_total": tot["segments_total"] / n,
        "fle.segments_pruned": (tot["segments_total"] - tot["segments_read"]) / n,
        "fle.rows_stored": tot["rows_stored"] / n,
        "fle.rows_decoded": tot["rows_decoded"] / n,
        "fle.rows_returned": tot["rows_returned"] / n,
        "fle.useful_decode_ratio": tot["rows_returned"] / max(tot["rows_decoded"], 1),
        "fle.residual_filters": tot["residual"] / n,
    }


def codec_micro(eng: Engine, columns: dict[str, np.ndarray],
                min_s: float = 0.15) -> dict[str, float]:
    """Pack, unpack and le/eq/in_ kernel throughput of ``sources.fle_codec``
    on the integer columns' own bit widths."""
    codec = eng.fle_codec
    packed = unpacked = words = 0
    t_pack = t_unpack = t_kern = 0.0
    for name, vals in columns.items():
        if vals.dtype.kind not in "iu":
            continue
        codes = (vals - vals.min()).astype(np.uint64)
        width = max(int(codes.max()).bit_length(), 1)
        mid = int(np.median(codes))
        reps = 0
        t0 = time.perf_counter()
        while True:
            planes, n = codec.fle_pack(codes, width)
            reps += 1
            if time.perf_counter() - t0 >= min_s / 3:
                break
        t_pack += time.perf_counter() - t0
        packed += reps * codes.size
        reps = 0
        t0 = time.perf_counter()
        while True:
            out = codec.fle_unpack(planes, width, n)
            reps += 1
            if time.perf_counter() - t0 >= min_s / 3:
                break
        t_unpack += time.perf_counter() - t0
        unpacked += reps * n
        if not np.array_equal(out, codes):
            raise AssertionError(f"fle codec round trip failed on {name}")
        k = codec.FleKernels(planes, width, n)
        reps = 0
        t0 = time.perf_counter()
        while True:
            k.le(mid)
            k.eq(mid)
            k.in_([mid, mid // 2 + 1, 0])
            reps += 1
            if time.perf_counter() - t0 >= min_s / 3:
                break
        t_kern += time.perf_counter() - t0
        # le and eq walk every plane once; in_ walks them once per value
        words += reps * planes.size * 5
    return {
        "fle_codec.pack_values_per_s": packed / t_pack,
        "fle_codec.unpack_values_per_s": unpacked / t_unpack,
        "fle_codec.kernel_words_per_s": words / t_kern,
    }


# ================================================================ ingest


class FleIngest(Workload):
    name = "fle_ingest"
    why = ("appends, merges, deletes, compaction and read-after-write on a "
           "fledir table with a parquet copy: encode/pack and maintenance")
    COMPACT_EVERY = 3
    MERGE_ROWS = 400
    DELETE_SPAN = 300

    def prepare_inputs(self) -> None:
        import pyarrow.parquet as pq

        self.data = inputs.generate("ingest", self.seed, self.data_root)
        self.batches = [
            pq.read_table(f"{self.data}/batch_{i:03d}.parquet").to_pandas()
            for i in range(inputs.INGEST_BATCHES)
        ]
        self.rng = inputs.rng_for(self.seed, "ingest-ops")
        self.key_base = inputs.ingest_key_base(self.seed)
        self.sizes = {
            "batch_rows": inputs.INGEST_BATCH_ROWS,
            "merge_rows": self.MERGE_ROWS,
            "delete_span": self.DELETE_SPAN,
            "compact_every_cycles": self.COMPACT_EVERY,
        }

    @property
    def fle_path(self) -> str:
        return os.path.join(self.assets, "fle")

    @property
    def pq_path(self) -> str:
        return os.path.join(self.assets, "parquet")

    def materialise(self) -> None:
        import pandas as pd

        self.eng.fle_ds.register_fledir(self.spark)
        first = self.batches[0]
        self._append_fle(first, seg_id=0)
        self._append_parquet(first, mode="overwrite")
        self.model = _keyed(first)
        self.pq_model = [first]
        self.next_batch = 1
        self.next_key = int(first["k"].max()) + 10**8
        self._cycle = -1
        self._pending: list[str] = []
        self.changed = self.rewritten = 0
        self.appended_raw = _raw_bytes(first)
        self._pd = pd

    # -- engine calls --------------------------------------------------
    def _append_fle(self, pdf, seg_id: int) -> tuple[float, float, int]:
        t0 = time.perf_counter()
        with self.tracer.span("sources.fle_datasource.encode_segment_columns"):
            payload = self.eng.fle_ds.encode_segment_columns(
                [(c, pdf[c].to_numpy()) for c in inputs.INGEST_COLUMNS])
        t1 = time.perf_counter()
        with self.tracer.span("sources.fle_datasource.writer"):
            (self.spark.createDataFrame([(seg_id, payload)], "seg_id long, payload binary")
             .write.format("fledir").mode("append").option("path", self.fle_path)
             .option("bloomcols", "k").save())
        return t1 - t0, time.perf_counter() - t1, len(payload)

    def _append_parquet(self, pdf, mode: str = "append") -> None:
        with self.tracer.span("sources.parquet_io.write_parquet"):
            self.eng.parquet_io.write_parquet(
                self.spark.createDataFrame(pdf[list(inputs.INGEST_COLUMNS)]),
                self.pq_path, mode=mode)

    # -- op mix --------------------------------------------------------
    # One cycle appends a batch to both formats, merges, deletes and reads
    # back from both; every COMPACT_EVERY-th cycle also compacts and
    # vacuums.  The model (pandas) replays the same ops.
    CYCLE = ("append", "parquet_append", "merge", "fle_point", "delete",
             "fle_range", "parquet_point", "parquet_range")

    def next_op(self, client: int, i: int, op_id: str) -> Op:
        if not self._pending:
            self._cycle += 1
            self._pending = list(self.CYCLE)
            if self._cycle % self.COMPACT_EVERY == self.COMPACT_EVERY - 1:
                self._pending += ["compact", "vacuum"]
        step = self._pending.pop(0)
        return getattr(self, f"_op_{step}")(op_id)

    def _timed(self, op_id: str, name: str, kind: str, fn) -> tuple[Op, object]:
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{name}", op_id=op_id):
            out = fn()
        return Op(op_id, name, kind, time.perf_counter() - t0), out

    def _live_range(self) -> tuple[int, int]:
        """Key range of one appended batch, picked by the seeded stream."""
        b = int(self.rng.integers(0, self.next_batch))
        n = inputs.INGEST_BATCH_ROWS
        return self.key_base + b * n, self.key_base + (b + 1) * n

    def _op_append(self, op_id: str) -> Op:
        if self.next_batch >= len(self.batches):
            raise RuntimeError("fle_ingest: pre-generated batches exhausted")
        pdf = self.batches[self.next_batch]
        op, (enc_s, write_s, nbytes) = self._timed(
            op_id, "append", "append",
            lambda: self._append_fle(pdf, seg_id=self.next_batch))
        op.detail = {"rows": len(pdf), "encode_s": enc_s, "write_s": write_s,
                     "segment_bytes": nbytes}
        self.model = self._pd.concat([self.model, _keyed(pdf)])
        self.appended_raw += _raw_bytes(pdf)
        return op

    def _op_parquet_append(self, op_id: str) -> Op:
        pdf = self.batches[self.next_batch]
        self.next_batch += 1
        op, _ = self._timed(op_id, "parquet_append", "append",
                            lambda: self._append_parquet(pdf))
        op.detail = {"rows": len(pdf)}
        self.pq_model.append(pdf)
        return op

    def _op_merge(self, op_id: str) -> Op:
        lo, hi = self._live_range()
        live = self.model.index[(self.model.index >= lo) & (self.model.index < hi)]
        half = self.MERGE_ROWS // 2
        old = self.rng.choice(np.asarray(live), size=min(half, len(live)), replace=False)
        new = np.arange(self.next_key, self.next_key + half)
        self.next_key += half
        keys = np.concatenate([old, new]).astype(np.int64)
        n = len(keys)
        upd = self._pd.DataFrame({
            "k": keys,
            "qty": self.rng.integers(1, 101, n).astype(np.int64),
            "price": self.rng.integers(100, 1_000_000, n).astype(np.int64),
            "mode": inputs.SHIPMODES[self.rng.integers(0, len(inputs.SHIPMODES), n)],
        })
        before = _manifest_rows(self.fle_path)
        maint = self.eng.fle_maint

        def call():
            df = self.spark.createDataFrame(upd)
            with self.tracer.span("sources.fle_maintenance.merge_fledir"):
                return maint.merge_fledir(self.spark, self.fle_path, df, key="k",
                                          bloomcols="k")

        op, rep = self._timed(op_id, "merge", "dml", call)
        self._account(before, rep.get("rows_matched", 0) + rep.get("rows_inserted", 0))
        op.detail = {"report": rep}
        upd_i = _keyed(upd)
        self.model = self._pd.concat([self.model.drop(index=old), upd_i])
        return op

    def _op_delete(self, op_id: str) -> Op:
        lo, hi = self._live_range()
        lo = int(self.rng.integers(lo, hi - self.DELETE_SPAN))
        hi = lo + self.DELETE_SPAN
        before = _manifest_rows(self.fle_path)
        maint = self.eng.fle_maint

        def call():
            with self.tracer.span("sources.fle_maintenance.delete_fledir"):
                return maint.delete_fledir(
                    self.spark, self.fle_path, [("k", "ge", lo), ("k", "lt", hi)],
                    bloomcols="k")

        op, rep = self._timed(op_id, "delete", "dml", call)
        self._account(before, rep.get("rows_deleted", 0))
        op.detail = {"report": rep}
        idx = self.model.index
        self.model = self.model[~((idx >= lo) & (idx < hi))]
        return op

    def _op_compact(self, op_id: str) -> Op:
        maint = self.eng.fle_maint

        def call():
            with self.tracer.span("sources.fle_maintenance.compact_fledir"):
                return maint.compact_fledir(self.spark, self.fle_path,
                                            target_rows=4 * inputs.INGEST_BATCH_ROWS)

        op, rep = self._timed(op_id, "compact", "dml", call)
        op.detail = {"report": rep}
        return op

    def _op_vacuum(self, op_id: str) -> Op:
        maint = self.eng.fle_maint

        def call():
            with self.tracer.span("sources.fle_maintenance.vacuum_fledir"):
                return maint.vacuum_fledir(self.fle_path, self.spark)

        op, rep = self._timed(op_id, "vacuum", "maintenance", call)
        op.detail = {"report": rep}
        return op

    def _account(self, before: dict[str, int], changed: int) -> None:
        after = _manifest_rows(self.fle_path)
        self.rewritten += sum(r for name, r in before.items() if name not in after)
        self.changed += changed

    # -- reads ---------------------------------------------------------
    def _read(self, fmt: str, op_id: str, name: str, build, expect) -> Op:
        def call():
            if fmt == "fle":
                with self.tracer.span("sources.fle_datasource", role="build"):
                    df = build(self.spark.read.format("fledir")
                               .option("path", self.fle_path).load())
            else:
                with self.tracer.span("sources.parquet_io", role="build"):
                    df = build(self.eng.parquet_io.read_parquet(self.spark, self.pq_path))
            return df.columns, self.collect(df, op_id)

        op, (cols, rows) = self._timed(op_id, name, fmt, call)
        op.result = spark_rows(cols, rows)
        op.detail = {"expected": expect()}
        return op

    def _point(self, fmt: str, op_id: str, frame) -> Op:
        from pyspark.sql import functions as F

        x = int(frame["k"].iat[int(self.rng.integers(0, len(frame)))])
        cols = list(inputs.INGEST_COLUMNS)
        return self._read(
            fmt, op_id, f"{fmt}_point",
            lambda df: df.filter(F.col("k") == x).select(*cols),
            lambda: canonical(cols, [tuple(r) for r in
                                     frame[frame["k"] == x][cols].itertuples(index=False)]))

    def _range(self, fmt: str, op_id: str, frame) -> Op:
        from pyspark.sql import functions as F

        lo, hi = self._live_range()
        q = int(self.rng.integers(10, 90))

        def build(df):
            return df.filter(F.col("k").between(lo, hi) & (F.col("qty") <= q)).agg(
                F.count(F.lit(1)).alias("n"), F.sum("price").alias("revenue"),
                F.min("k").alias("kmin"), F.max("k").alias("kmax"))

        def expect():
            sel = frame[(frame["k"] >= lo) & (frame["k"] <= hi) & (frame["qty"] <= q)]
            n = len(sel)
            row = (n, int(sel["price"].sum()) if n else None,
                   int(sel["k"].min()) if n else None, int(sel["k"].max()) if n else None)
            return canonical(["n", "revenue", "kmin", "kmax"], [row])

        return self._read(fmt, op_id, f"{fmt}_range", build, expect)

    def _op_fle_point(self, op_id: str) -> Op:
        return self._point("fle", op_id, self.model)

    def _op_fle_range(self, op_id: str) -> Op:
        return self._range("fle", op_id, self.model)

    def _pq_frame(self):
        if len(self.pq_model) > 1:
            self.pq_model = [self._pd.concat(self.pq_model, ignore_index=True)]
        return self.pq_model[0]

    def _op_parquet_point(self, op_id: str) -> Op:
        return self._point("parquet", op_id, self._pq_frame())

    def _op_parquet_range(self, op_id: str) -> Op:
        return self._range("parquet", op_id, self._pq_frame())

    # -- gate and figures ----------------------------------------------
    def check(self, ops: list[Op]) -> list[str]:
        problems = mark_wrong([o for o in ops if "expected" in o.detail],
                              lambda o: o.detail["expected"])
        cols = list(inputs.INGEST_COLUMNS)
        for fmt, frame in (("fle", self.model), ("parquet", self._pq_frame())):
            if fmt == "fle":
                df = self.spark.read.format("fledir").option("path", self.fle_path).load()
            else:
                df = self.eng.parquet_io.read_parquet(self.spark, self.pq_path)
            got = df.select(*cols).toPandas().sort_values("k", ignore_index=True)
            want = frame[cols].sort_values("k", ignore_index=True)
            op = Op(f"verify-{fmt}", f"verify_{fmt}_table", "verify", 0.0)
            if not (len(got) == len(want)
                    and all((got[c].to_numpy() == want[c].to_numpy()).all() for c in cols)):
                op.wrong = True
                problems.append(
                    f"{fmt} table != model of the same ops "
                    f"({len(got)} rows vs {len(want)})")
            ops.append(op)
        self.stored = {
            "fle": _dir_bytes(self.fle_path) / max(_raw_bytes(self.model), 1),
            "parquet": _dir_bytes(self.pq_path) / max(self.appended_raw, 1),
        }
        return problems

    def workload_metrics(self, ops: list[Op]) -> dict[str, float]:
        ok = [o for o in ops if o.error is None]
        appends = [o for o in ok if o.name == "append"]
        append_s = sum(o.latency_s for o in appends)
        return {
            "fle_query_p50_s": median([o.latency_s for o in ok if o.kind == "fle"]),
            "parquet_query_p50_s": median([o.latency_s for o in ok if o.kind == "parquet"]),
            "ingest_rows_per_s": (sum(o.detail["rows"] for o in appends) / append_s
                                  if append_s else 0.0),
            "dml_p50_s": median([o.latency_s for o in ok if o.kind == "dml"]),
            "stored_bytes_per_input_byte.fle": self.stored["fle"],
            "stored_bytes_per_input_byte.parquet": self.stored["parquet"],
        }

    def probe(self) -> list[Op]:
        """One cycle, with compaction and vacuum."""
        self._pending = list(self.CYCLE) + ["compact", "vacuum"]
        ops = []
        while self._pending:
            ops.append(self.next_op(0, len(ops), f"probe-ingest-{len(ops)}"))
        return ops

    def layer_metrics(self, ops: list[Op]):
        """Writer, parquet sink and maintenance figures, plus this
        workload's own end-to-end figures (see README.md)."""
        ok = [o for o in ops if o.error is None]
        out = {k: v for k, v in self.workload_metrics(ops).items()
               if not k.endswith("query_p50_s")}

        def dur(name):
            return median(self.tracer.durations(name))

        appends = [o for o in ok if o.name == "append"]
        out["fle.encode_s"] = median([o.detail["encode_s"] for o in appends])
        out["fle.write_s"] = median([o.detail["write_s"] for o in appends])
        out["fle.segment_bytes"] = median([o.detail["segment_bytes"] for o in appends])
        out["parquet.write_s"] = dur("sources.parquet_io.write_parquet")
        out["parquet.bytes"] = float(_dir_bytes(self.pq_path))
        for op in ("merge", "delete", "compact", "vacuum"):
            out[f"fle_maint.{op}_s"] = dur(f"sources.fle_maintenance.{op}_fledir")
        reports = [o.detail["report"] for o in ok if "report" in o.detail]
        out["fle_maint.segments_rewritten"] = sum(
            r.get("segments_rewritten", 0) for r in reports)
        out["fle_maint.segments_untouched"] = sum(
            r.get("segments_untouched", 0) for r in reports)
        compactions = [r for r in reports if "files_before" in r]
        if compactions:
            out["fle_maint.files_before"] = compactions[-1]["files_before"]
            out["fle_maint.files_after"] = compactions[-1]["files_after"]
        if self.changed:
            out["fle_maint.rows_rewritten_per_row_changed"] = self.rewritten / self.changed
        return out, [], []


def _keyed(pdf):
    """The frame indexed by its key column (index unnamed, so ``k`` stays
    an unambiguous column label)."""
    return pdf.set_axis(pdf["k"].to_numpy(), axis=0)


def _raw_bytes(pdf) -> int:
    """Raw input size: 8 bytes per integer cell plus UTF-8 string bytes."""
    total = 0
    for c in pdf.columns:
        if pdf[c].dtype.kind in "iuf":
            total += 8 * len(pdf)
        else:
            total += int(pdf[c].astype(str).str.len().sum())
    return total
