"""Generate SCALING.md — measured sf0.01 → sf0.1 scaling evidence.

PLANS.md argues each query's plan survives a scale-up *structurally*
(keyed shuffles, broadcasts, pushdown); this tool measures it: every
audited query runs end-to-end at both SFs (results discarded through the
noop sink, so the time is plan execution, not driver transfer) and the
table reports wall-clock and the time ratio against the data ratio
(10x rows for lineitem/orders/events/documents between these two SFs;
4x for embeddings).  A query whose time grows no faster than its input
is shuffle-linear — the local[32] proxy for "holds at 100 TB".

A second decade: the three queries that measured closest to the line at
sf0.01→sf0.1 (winnowing 2.4x, curate 2.4x, bm25 2.3x per round 3) are
re-measured one decade further on a synthesized 10x-documents corpus
(deterministic replication with per-replica doc_id offsets and text
perturbation so replicas are near- but not exact duplicates).

Usage:

    python tools/scale_check.py [sf_small sf_big] > SCALING.md

SF roots come from argv, else $SPARK_GRAFT_SCALE_SMALL/_BIG, else the
/root/testdata defaults; the warmup scale comes from
$SPARK_GRAFT_SCALE_WARM.  Before timing, every input table at both SFs is
scanned once (count) so first-touch IO/footer costs don't land on the
first measured query, and each query's first plan is executed once at the
small SF untimed so codegen/planning one-time costs don't skew ratios.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from impala_avx2_parquet_scanner_spark.registry import REGISTRY  # noqa: E402
from impala_avx2_parquet_scanner_spark.session import get_spark  # noqa: E402

SF_A = os.environ.get("SPARK_GRAFT_SCALE_SMALL", "/root/testdata/sf0.01")
SF_B = os.environ.get("SPARK_GRAFT_SCALE_BIG", "/root/testdata/sf0.1")
SF_WARM = os.environ.get("SPARK_GRAFT_SCALE_WARM", "/root/testdata/sf0.001")

#: (query, dominant input tables) — the table drives the expected data ratio.
CHECKED: list[tuple[str, str]] = [
    ("tpch_q1", "lineitem"),
    ("tpch_q9", "lineitem+orders"),
    ("tpch_q18", "lineitem+orders"),
    ("events_sessionize", "events"),
    ("events_path_transitions", "events"),
    ("merge_cdc_snapshot", "events"),
    ("graph_triangles", "lineitem"),
    ("window_ewma", "events"),
    ("dedup_containment", "documents"),
    ("multimodal_phash_neardup", "documents"),
    ("dedup_exact", "documents"),
    ("dedup_minhash_lsh", "documents"),
    ("dedup_simhash", "documents"),
    ("dedup_winnowing", "documents"),
    ("dedup_repeated_spans", "documents"),
    ("dedup_clusters", "documents"),
    ("text_bpe_train", "documents"),
    ("text_bpe_encode", "documents"),
    ("multimodal_gif_roundtrip", "documents"),
    ("text_tfidf_topk", "documents"),
    ("text_bm25_topk", "documents"),
    ("pipeline_curate", "documents"),
    ("pack_token_budget", "documents"),
    ("sample_weighted", "documents"),
    ("window_trailing_features", "events"),
    ("window_gaps_islands", "events"),
    ("join_scd2_pit", "events"),
    ("ann_bruteforce_topk", "embeddings"),
    ("embedding_pq_codes", "embeddings"),
    ("ann_pq_adc_topk", "embeddings"),
    ("ann_ivf_topk", "embeddings"),
    ("ann_knn_graph", "embeddings"),
    ("graph_pagerank", "embeddings"),
    ("embedding_centroids", "embeddings"),
    ("dedup_semantic", "embeddings"),
    # round-6 additions (r5 verdict task #6: measure the round-5 query
    # decades) + the new FLE storage pipeline
    ("dedup_boilerplate_segments", "documents"),
    ("scan_zorder_pruned", "lineitem"),
    ("scan_fle_kernels", "lineitem"),
    ("selectivity_sorted_002", "lineitem"),
    ("scan_fle_roundtrip", "lineitem"),
    ("scan_fle_pushdown", "lineitem"),
    # round-7 additions (r6 verdict task #6: the two round-6 queries that
    # landed after the final SCALING refresh) + the schema-general FLE
    # container
    ("scan_avro_complex", "lineitem"),
    ("scan_custom_datasource_pushdown", "documents"),
    ("scan_fle_multicolumn", "lineitem"),
    ("scan_fle_stat_pruned", "lineitem"),
    # round-8 additions: the mid-file chunk-skip tier on its own
    # locally-sorted layout, the CHAR/VARCHAR semantics contract, and
    # the signed-domain offset kind
    ("scan_fle_chunk_pruned", "lineitem"),
    ("fn_char_semantics", "part"),
    ("scan_fle_signed", "lineitem"),
    # round-8 type-matrix + predicate-surface closure: doubles via
    # sortable bits, timestamp/date/bool/decimal kinds, dictionary
    # LIKE, compound NOT
    ("scan_fle_double", "lineitem"),
    ("scan_fle_temporal", "lineitem"),
    ("scan_fle_like", "part"),
    ("scan_fle_negation", "lineitem"),
    ("scan_fle_partitioned", "lineitem"),
    # round-9 additions: the plain byte-array string kind (dictionary
    # cap fallback), opt-in schema evolution, and two-level partition
    # keys
    ("scan_fle_dict_fallback", "documents"),
    ("scan_fle_schema_evolution", "lineitem"),
    ("scan_fle_partitioned_multi", "lineitem"),
    # round-9 session-3: compaction + runtime filter
    ("scan_fle_compacted", "lineitem"),
    ("scan_fle_runtime_filter", "lineitem"),
    ("scan_fle_minmax_meta", "lineitem"),
    ("scan_fle_count_by_partition", "lineitem"),
    ("scan_fle_zorder", "lineitem"),
    ("scan_fle_retention", "lineitem"),
    # round-10 session-2: metadata SUM, bloom point lookup, time travel
    ("scan_fle_retention_multi", "lineitem"),
    ("scan_fle_sum_meta", "lineitem"),
    ("scan_fle_bloom_lookup", "lineitem"),
    ("scan_fle_time_travel", "lineitem"),
    ("scan_fle_merge_upsert", "lineitem+orders"),
    ("scan_fle_delete_where", "lineitem"),
    ("scan_fle_stream_sink", "lineitem"),
    ("scan_fle_changes", "lineitem"),
]

#: Queries whose sf0.01→sf0.1 ratio sits closest to input growth — these
#: get the extra decade on the synthetic 10x-documents corpus.
#: dedup_containment joined the list after its round-4 quadratic (the
#: interpreted-HOF shingle stage, 67x at 10x data) was rewritten onto the
#: codegen posexplode+lead path — the extra decade proves the fix holds.
TAIL_STRESS = [
    "dedup_winnowing",
    "pipeline_curate",
    "text_bm25_topk",
    "dedup_containment",
    # rewritten onto the codegen shingle path in round 5 — keep it watched
    "decontaminate_overlap",
]


def _run(spark, name: str, sf_dir: str) -> float:
    # measurement isolation: fire pending tie_unpersist finalizers,
    # drop any cached blocks a PRIOR query left behind, and force a JVM
    # collection — clearCache alone is NOT enough, because broadcasts
    # and shuffle state from prior queries are freed by the
    # ContextCleaner only after a JVM GC notices them, and that
    # accumulated heap garbage made identical back-to-back reps swing
    # 5.5 → 42 s (decontaminate_overlap) and 9.6 → 37.9 s
    # (graph_triangles); with the explicit GC the same reps read
    # 7.8/6.2/5.9/5.5 s — flat
    import gc

    gc.collect()
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — diagnostic-only, never fail a run
        pass
    t0 = time.time()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _warm_tables(spark, sf_dirs: list[str]) -> None:
    """One full scan per input table per SF: pulls parquet footers + file
    bytes through the OS cache so the first measured query doesn't pay
    first-touch IO the later ones don't."""
    from impala_avx2_parquet_scanner_spark.catalog import TABLES, table

    for sf in sf_dirs:
        for t in TABLES:
            table(spark, sf, t).write.format("noop").mode("overwrite").save()


def _replicated(spark, base_sf: str, name: str, copies: int, replica) -> str:
    """Publish, as an asset of `base_sf`, a dir usable as an sf_dir whose
    table `name` holds `copies` replicas of the base table and whose
    other tables symlink to the base; return it.  ``replica(base, i, n)``
    builds replica `i` of the `n`-row base table."""
    from functools import reduce

    from impala_avx2_parquet_scanner_spark.assets import publish
    from impala_avx2_parquet_scanner_spark.catalog import TABLES, table

    def build(out_dir):
        base = table(spark, base_sf, name)
        n = base.count()
        out = reduce(
            lambda a, b: a.unionByName(b),
            (replica(base, i, n) for i in range(copies)),
        )
        out.repartition(32).write.parquet(os.path.join(out_dir, f"{name}.parquet"))
        for t in TABLES:
            if t != name:
                os.symlink(
                    os.path.abspath(os.path.join(base_sf, f"{t}.parquet")),
                    os.path.join(out_dir, f"{t}.parquet"),
                )

    return publish(base_sf, f"scale_{name}_{copies}x", build)


def _document_replica(base, i: int, n: int):
    """Replica `i` of the documents: a disjoint doc_id range and a
    deterministic per-replica text suffix, so replicas are
    near-duplicates (realistic corpus growth for dedup: more docs AND
    more lookalikes) rather than exact copies that would collapse into
    one hash bucket."""
    from pyspark.sql import functions as F

    return base.select(
        (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(f" replica{i} shard "), F.col("doc_id").cast("string")
        ).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + F.lit(10)).alias("n_chars"),
    )


#: embeddings-table stress: dedup_semantic's codebook k = N/64 grows WITH
#: the corpus, so its in-cell assignment term is the one to watch (VERDICT
#: r4 #6) — a 16x synthesized decade makes the growth visible.
EMB_STRESS = ["dedup_semantic", "ann_ivf_topk"]


def _embedding_replica(base, i: int, n: int):
    """Replica `i` of the embeddings: a disjoint vec_id range and a small
    deterministic scale perturbation (cosine-invariant per vector, so
    replicas are semantic near-duplicates of the originals — the
    realistic growth mode SemDeDup exists for)."""
    from pyspark.sql import functions as F

    scale = F.lit(float(1.0 + 0.001 * i)).cast("float")
    return base.select(
        (F.col("vec_id") + F.lit(i * n)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: (x * scale).cast("float")).alias(
            "embedding"
        ),
        "label",
    )


def main() -> int:
    if len(sys.argv) >= 3:
        sf_a, sf_b = sys.argv[1], sys.argv[2]
    else:
        sf_a, sf_b = SF_A, SF_B
    spark = get_spark(
        "scale-check", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    )

    print("# SCALING — measured sf0.01 → sf0.1 wall-clock (tools/scale_check.py)")
    print()
    print("Execution time through the noop sink at both SFs.  `data x` is the")
    print("dominant input's row-count growth between the SFs; a `time x` at or")
    print("below `data x` means the plan scaled no worse than its input")
    print("(fixed JVM/planning overhead makes small queries sub-linear).")
    print("Input tables at both SFs are pre-scanned and each query's plan is")
    print("pre-executed once at the small SF, so times exclude one-time")
    print("IO/codegen costs.")
    print()
    print("| query | input (data x) | sf0.01 s | sf0.1 s | time x |")
    print("|---|---|---|---|---|")
    ratios = {"lineitem": 10, "lineitem+orders": 10, "events": 10,
              "documents": 10, "embeddings": 4, "part": 10}
    _run(spark, "dedup_exact", SF_WARM)  # JVM warmup
    _warm_tables(spark, [sf_a, sf_b])
    for name, _ in CHECKED:
        # per-query codegen/planning warmup at BOTH scales, untimed —
        # layout queries (sorted/z-order/fle) materialize their /tmp
        # rewrite on first touch per sf_dir, and that one-time write
        # must not land inside a timed run
        _run(spark, name, sf_a)
        _run(spark, name, sf_b)
    flagged: list[str] = []
    results: dict[str, tuple[float, float]] = {}
    for name, tableset in CHECKED:
        ta = _run(spark, name, sf_a)
        tb = _run(spark, name, sf_b)
        dr = ratios[tableset]
        if ta > 0 and tb / ta > dr:
            # re-measure BOTH points before flagging: a single reading
            # can eat a GC pause or an AQE-variance outlier (4x swings
            # measured on graph_triangles with identical code+data) —
            # a scale flag should mean the RATIO reproduces, not that
            # one rep was unlucky.  Min-of-2 per point.
            ta = min(ta, _run(spark, name, sf_a))
            tb = min(tb, _run(spark, name, sf_b))
        results[name] = (ta, tb)
        r = tb / ta if ta > 0 else float("inf")
        mark = ""
        if r > dr:
            mark = " ⚠"
            flagged.append(name)
        print(f"| {name} | {tableset} ({dr}x) | {ta:.2f} | {tb:.2f} | {r:.1f}x{mark} |")
    print()
    if flagged:
        print(f"Super-linear (investigate): {', '.join(flagged)}")
    else:
        print("All checked queries scale at or below their input growth.")

    # ---- second decade: synthetic 10x documents for the closest-to-line tail
    print()
    print("## Tail stress — one more decade (sf0.1 documents × 10, synthetic)")
    print()
    print("The three queries nearest the line get a further 10x on a")
    print("deterministic near-duplicate replication of the sf0.1 corpus")
    print("(disjoint doc_ids, per-replica text suffix).")
    print()
    print("| query | sf0.1 s | 10x-docs s | time x (data 10x) |")
    print("|---|---|---|---|")
    big_dir = _replicated(spark, sf_b, "documents", 10, _document_replica)
    _warm_tables(spark, [big_dir])
    tail_flagged: list[str] = []
    for name in TAIL_STRESS:
        _run(spark, name, big_dir)  # warm plan at the big scale, untimed
        tb = _run(spark, name, sf_b)
        tc = _run(spark, name, big_dir)
        if tb > 0 and tc / tb > 10:
            # same re-measure-before-flag policy as the main table
            tb = min(tb, _run(spark, name, sf_b))
            tc = min(tc, _run(spark, name, big_dir))
        r = tc / tb if tb > 0 else float("inf")
        mark = ""
        if r > 10:
            mark = " ⚠"
            tail_flagged.append(name)
        print(f"| {name} | {tb:.2f} | {tc:.2f} | {r:.1f}x{mark} |")
    print()
    if tail_flagged:
        print(f"Tail super-linear (investigate): {', '.join(tail_flagged)}")
    else:
        print("Tail queries stay at or below input growth across the extra decade.")

    # ---- embeddings decade: synthetic 16x vectors for the growing-codebook
    # queries (dedup_semantic's k = N/64 grows with the corpus)
    print()
    print("## Embeddings stress — 16x vectors (sf0.1 embeddings × 16, synthetic)")
    print()
    print("dedup_semantic's centroid count k = N/64 grows with the corpus, so")
    print("its in-cell assignment term is the one to watch; ann_ivf_topk rides")
    print("along as the fixed-k control.  Replicas are cosine-preserving")
    print("near-duplicates with disjoint vec_ids.")
    print()
    print("| query | sf0.1 s | 16x-emb s | time x (data 16x) |")
    print("|---|---|---|---|")
    emb_dir = _replicated(spark, sf_b, "embeddings", 16, _embedding_replica)
    _warm_tables(spark, [emb_dir])
    emb_flagged: list[str] = []
    for name in EMB_STRESS:
        _run(spark, name, emb_dir)  # warm plan at the big scale, untimed
        tb = _run(spark, name, sf_b)
        tc = _run(spark, name, emb_dir)
        r = tc / tb if tb > 0 else float("inf")
        mark = ""
        if r > 16:
            mark = " ⚠"
            emb_flagged.append(name)
        print(f"| {name} | {tb:.2f} | {tc:.2f} | {r:.1f}x{mark} |")
    print()
    if emb_flagged:
        print(f"Embeddings super-linear (investigate): {', '.join(emb_flagged)}")
    else:
        print("Embeddings queries stay at or below input growth across the 16x decade.")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
