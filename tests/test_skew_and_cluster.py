"""Skew-salting equivalence + connected-components correctness."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.exprs import dec_price
from impala_avx2_parquet_scanner_spark.operators.skew import (
    replicate_broadcast_join,
    salted_count,
    salted_sum,
)
from impala_avx2_parquet_scanner_spark.pipeline.cluster import connected_components
from impala_avx2_parquet_scanner_spark.registry import REGISTRY


def test_salted_sum_equals_plain_sum(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    plain = {
        r.l_returnflag: r.s
        for r in l.groupBy("l_returnflag")
        .agg(F.sum(dec_price("l_extendedprice")).cast("double").alias("s"))
        .collect()
    }
    salted = {
        r.l_returnflag: r.s
        for r in salted_sum(
            l, "l_returnflag", dec_price("l_extendedprice"), "s", n_salts=16
        )
        .select("l_returnflag", F.col("s").cast("double").alias("s"))
        .collect()
    }
    assert salted == plain  # exact decimal ⇒ bit-identical across phases


def test_salted_count_equals_plain_count(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    plain = {r.o_orderstatus: r.n for r in o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r.o_orderstatus: r.n for r in salted_count(o, "o_orderstatus", "n").collect()}
    assert salted == plain


def test_replicated_salted_join_equals_plain_join(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    dim = (
        table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    plain = l.join(dim, "l_partkey").count()
    salted = replicate_broadcast_join(l, dim, "l_partkey", n_salts=8).count()
    assert salted == plain


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    # two chains, one triangle, one isolated edge
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21), (30, 31), (31, 32)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    want = _union_find(edges)
    # union-find parents may not be fully path-compressed to the min —
    # normalize both to min-of-component
    from collections import defaultdict

    def normalize(labels):
        groups = defaultdict(set)
        for node, comp in labels.items():
            groups[comp].add(node)
        merged = {}
        for comp, members in groups.items():
            m = min(members | {comp})
            for node in members:
                merged[node] = m
        return merged

    assert normalize(got) == normalize(want)


def test_connected_components_50_node_chain_converges(spark):
    # Pathological diameter: a 50-node path graph.  Plain min-label
    # propagation needs 49 rounds; pointer jumping halves the chains
    # each round, and every node must come out labeled 0.
    edges = [(i, i + 1) for i in range(49)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(50)}


def test_connected_components_long_chain(spark):
    # A 5,000-node path: a diameter far past what a fixed number of
    # pointer-jumping rounds (2^10 for 10) resolves.  The labelling runs
    # until no label changes, so every node still comes out labeled 0.
    edges = [(i, i + 1) for i in range(4999)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(5000)}


def test_connected_components_random_graphs_match_union_find(spark):
    # Seeded random graphs over sparse, signed ids, with duplicate
    # edges, reversed edges and self-loops mixed in; union-find links the
    # larger root under the smaller, so its roots are component minima.
    rng = np.random.default_rng(20261022)
    for _ in range(4):
        ids = rng.integers(-10**12, 10**12, 300)
        n_edges = int(rng.integers(50, 400))
        edges = [tuple(map(int, rng.choice(ids, 2))) for _ in range(n_edges)]
        edges += [edges[int(i)] for i in rng.integers(0, n_edges, 40)]
        edges += [(b, a) for a, b in edges[:40]]
        edges += [(int(x), int(x)) for x in rng.choice(ids, 20)]
        rng.shuffle(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == _union_find(edges)


def test_connected_components_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    out = connected_components(df)
    assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"
    assert out.collect() == []


def test_cluster_queries_rebuild_without_spark_jobs(spark, sf_dir):
    # Building a plan must not run the pipeline: a second build of either
    # clustering query, once its write-once inputs exist, starts no job.
    names = ("dedup_clusters", "dedup_canonical_keep")
    for name in names:
        REGISTRY[name].fn(spark, sf_dir)
    sc = spark.sparkContext
    group = "test_cluster_queries_rebuild"
    sc.setJobGroup(group, "second build of the clustering queries")
    try:
        for name in names:
            REGISTRY[name].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_dedup_clusters_query_runs(spark, sf_dir):
    rows = REGISTRY["dedup_clusters"].fn(spark, sf_dir).collect()
    # every cluster keeps its minimum member and reports consistent size
    # (members is a CSV string so it survives the driver's canonicalizer)
    for r in rows:
        members = [int(m) for m in r.members.split(",")]
        assert r.keep_id == min(members)
        assert r.cluster_size == len(members)
