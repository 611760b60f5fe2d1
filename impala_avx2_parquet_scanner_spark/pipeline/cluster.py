"""Duplicate-cluster resolution: connected components over near-duplicate
pairs — the step between candidate-pair generation (MinHash-LSH) and
"keep one representative per cluster" in a corpus dedup pipeline.

Algorithm: min-label hooking with pointer jumping, in numpy inside one
task.  Labels are node indices, and each node starts as its own label.
Each round, for every edge (s, d), the node that s's label points at
takes d's label if that is smaller, and the same with s and d swapped
(``np.minimum.at`` in both directions); then every node jumps one
level (``lab = lab[lab]``).  Hooking labels rather than nodes merges
whole trees per edge, so a shuffled 1M-node chain settles in ~20
rounds instead of ~n.  Labels only decrease, so the loop ends at
the first round that changes none; then every edge joins equal labels
and every label is its own label, so each node holds the minimum node
id of its component.

Scale contract: the whole pair list is labelled by ONE task.  That pair
list is the near-duplicate edge set: it grows with the duplicates, not
with the corpus, and 2M random edges label in ~1 s on one core.  It is
bounded per LSH bucket: a bucket above ``LSH_MAX_BUCKET_DOCS``
(`pipeline/dedup.py`) fails the query before its pairs explode, so no
bucket feeds more than LSH_MAX_BUCKET_DOCS² / 2 pairs into the task.
Building the plan starts no Spark job.

The registry entry carries a full DuckDB oracle (recursive-CTE transitive
closure); tests additionally verify against a Python union-find on the
same pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.cache import tie_unpersist
from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.registry import query


@trims
def _label(batches):
    """mapInPandas kernel: every (src, dst) batch of the one partition →
    one (node, component) frame, component = min node id reachable."""
    import numpy as np
    import pandas as pd

    pdfs = list(batches)
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    ends = np.concatenate(
        [pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)]
    )
    # nodes is sorted, so the minimum index of a component is its
    # minimum node id
    nodes, idx = np.unique(ends, return_inverse=True)
    src, dst = idx[: len(pdf)], idx[len(pdf):]
    lab = np.arange(nodes.size)
    while True:
        new = lab.copy()
        ls, ld = lab[src], lab[dst]
        np.minimum.at(new, ls, ld)
        np.minimum.at(new, ld, ls)
        new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    yield pd.DataFrame({"node": nodes, "component": nodes[lab]})


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for the undirected graph given by edges
    (src, dst).  component = min node id reachable.  One task labels
    every edge (module docstring: scale contract)."""
    return (
        edges.select("src", "dst")
        .repartition(1)
        .mapInPandas(_label, "node long, component long")
    )


def _clusters_oracle() -> str:
    """DuckDB replay: MinHash-LSH pairs (same CTEs as dedup_minhash_lsh)
    + WITH RECURSIVE transitive closure → min reachable id = component.
    The recursive UNION's dedup is the fixpoint check, mirroring the
    labelling loop's 'no label changed' exit."""
    from impala_avx2_parquet_scanner_spark.pipeline.dedup import _minhash_parts

    ctes, pairs_select = _minhash_parts()
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({pairs_select}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM sym
  UNION
  SELECT reach.node, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT MIN(node) AS keep_id, COUNT(*) AS cluster_size,
       array_to_string(list_sort(list(node)), ',') AS members
FROM comp GROUP BY component
"""


@query(
    "dedup_clusters",
    oracle=_clusters_oracle(),
    tags=("dedup", "cluster", "pipeline"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering over documents: MinHash-LSH
    candidate pairs → connected components → one keeper (min doc_id) per
    cluster with cluster size.

    The oracle replays the full pipeline in DuckDB, closing the
    components with a recursive CTE (min reachable id per node) — so the
    one-task numpy labelling is value-verified, not just row-counted;
    a Python union-find cross-check also runs in tests."""
    from impala_avx2_parquet_scanner_spark.pipeline.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(
            F.min("node").alias("keep_id"),
            F.count(F.lit(1)).alias("cluster_size"),
            # CSV string, not array: same information, but flat scalars
            # survive the driver's pandas canonicalization (ndarray cells
            # are unhashable in pandas sort_values)
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .select("keep_id", "cluster_size", "members")
    )


def _canonical_keep_oracle() -> str:
    """Clusters oracle + quality argmax: within each near-dup cluster keep
    the longest document (n_chars DESC, doc_id ASC tiebreak); every
    document outside any cluster keeps itself."""
    from impala_avx2_parquet_scanner_spark.pipeline.dedup import _minhash_parts

    ctes, pairs_select = _minhash_parts()
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({pairs_select}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM sym
  UNION
  SELECT reach.node, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
scored AS (
  SELECT c.node AS doc_id, c.component, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
keeper AS (
  SELECT component, doc_id AS keeper_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                                 ORDER BY n_chars DESC, doc_id) AS rk
    FROM scored) t
  WHERE rk = 1
)
SELECT d.doc_id,
       COALESCE(k.keeper_id, d.doc_id) AS keeper_id,
       COALESCE(k.keeper_id, d.doc_id) = d.doc_id AS keep
FROM documents d
LEFT JOIN comp c ON c.node = d.doc_id
LEFT JOIN keeper k ON k.component = c.component
"""


@query(
    "dedup_canonical_keep",
    oracle=_canonical_keep_oracle(),
    tags=("dedup", "cluster", "pipeline"),
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step after `dedup_clusters` in a
    real curation pipeline: instead of keeping the min doc_id, keep the
    highest-quality member of each near-dup cluster (quality proxy:
    n_chars, doc_id ASC tiebreak) and emit a per-document keep/drop
    verdict covering the WHOLE corpus (singletons keep themselves).

    Plan shape: the per-cluster argmax is `max(struct(n_chars, -doc_id))`
    as a window over the component, so the labelled documents have one
    consumer and the one labelling task runs once (a groupBy joined
    back to the members would run it once per branch).  The keeper table
    scales with the DUPLICATE count (a heavily-redundant corpus makes it
    corpus-sized), so it carries no pinned broadcast hint — AQE
    broadcasts it while it fits the threshold and falls back to a keyed
    shuffle join beyond it."""
    from impala_avx2_parquet_scanner_spark.catalog import table
    from impala_avx2_parquet_scanner_spark.pipeline.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comps = connected_components(pairs)  # (node, component)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    ).over(Window.partitionBy("component"))
    keeper = comps.join(docs, comps.node == docs.doc_id).select(
        "doc_id", (-best["neg_id"]).alias("keeper_id")
    )
    return (
        docs.select("doc_id")
        .join(keeper, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("keeper_id", "doc_id").alias("keeper_id"),
            (F.coalesce("keeper_id", F.col("doc_id")) == F.col("doc_id")).alias("keep"),
        )
    )


PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point rank scale
PR_TELEPORT = 150_000_000_000  # (1 - 0.85) * PR_SCALE
PR_ITERATIONS = 3
PR_K = 3  # out-degree of the kNN graph


def _pagerank_oracle() -> str:
    """Unrolled fixed-point PageRank over the kNN-graph oracle.  Every
    quantity is a BIGINT (`//` floor division), so the replay is exact —
    no float accumulation order to diverge on."""
    knn_edges = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE vec_id < 300),
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         list_dot_product(a.emb, b.emb)
           / (sqrt(list_dot_product(a.emb, a.emb))
              * sqrt(list_dot_product(b.emb, b.emb))) AS cos_sim
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
edges AS (
  SELECT src_id, nbr_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                 ORDER BY cos_sim DESC, nbr_id) AS rk
    FROM scored) t
  WHERE rk <= 3
),
nodes AS (SELECT DISTINCT src_id AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST({scale} // nn.n AS BIGINT) AS r
       FROM nodes CROSS JOIN nn)"""
    iters = []
    for i in range(1, PR_ITERATIONS + 1):
        iters.append(f"""
s{i} AS (SELECT eg.nbr_id AS node, CAST(SUM(r.r // {PR_K}) AS BIGINT) AS s
       FROM edges eg JOIN r{i-1} r ON r.node = eg.src_id GROUP BY eg.nbr_id),
r{i} AS (SELECT p.node,
              CAST(({PR_TELEPORT} // nn.n)
                   + (COALESCE(s{i}.s, 0) * 85) // 100 AS BIGINT) AS r
       FROM r{i-1} p LEFT JOIN s{i} USING (node) CROSS JOIN nn)""")
    body = knn_edges.format(scale=PR_SCALE) + "," + ",".join(iters)
    last = f"r{PR_ITERATIONS}"
    return (
        "WITH " + body +
        f"\nSELECT node AS vec_id, r AS pr_q, r / {PR_SCALE}.0 AS pr FROM {last}"
    )


@query(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "pipeline", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin & Page, public) over the kNN similarity graph —
    the centrality step of graph-based corpus curation (rank documents /
    embeddings by how often similar items point at them).

    Fixed-point formulation: ranks are 1e-12-scaled BIGINTs, each
    out-edge carries `r div 3` (the kNN graph is 3-regular out), and the
    damping update is `(teleport div N) + (85 * inbound_sum) div 100` —
    all integer ops, so three unrolled iterations are bit-identical at
    any parallelism and the DuckDB oracle replays every round exactly
    (float PageRank would drift with summation order).  The tiny mass
    lost to floor division is deliberate and part of the spec.

    Plan shape: each iteration is one keyed join (edges ⋈ ranks on the
    3-regular src) + one groupBy(nbr) — the standard distributed
    PageRank shuffle pair; the node count broadcasts.  At 100 TB the
    loop would add a `localCheckpoint` per round to cut the lineage
    each round replays (3 bounded rounds here keep it shallow enough
    without one)."""
    from impala_avx2_parquet_scanner_spark.pipeline.similarity import ann_knn_graph

    edges = ann_knn_graph(spark, sf_dir).select("src_id", "nbr_id")
    edges = edges.localCheckpoint(eager=True)
    nodes = edges.select(F.col("src_id").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{PR_SCALE} div n").cast("bigint").alias("r"))
    )
    for _ in range(PR_ITERATIONS):
        s = (
            edges.join(r, edges.src_id == r.node)
            .groupBy(F.col("nbr_id").alias("node"))
            .agg(F.sum(F.expr(f"r div {PR_K}")).cast("bigint").alias("s"))
        )
        r = (
            r.select("node")
            .join(s, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.expr(f"({PR_TELEPORT} div n) + ((coalesce(s, 0) * 85) div 100)")
                .cast("bigint")
                .alias("r"),
            )
        )
    return r.select(
        F.col("node").alias("vec_id"),
        F.col("r").alias("pr_q"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("pr"),
    )


_TRIANGLES_ORACLE = """
WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
ue AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM ue UNION ALL SELECT v AS node FROM ue)
  GROUP BY node
),
oe AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND ue.u < ue.v)
              THEN ue.u ELSE ue.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND ue.u < ue.v)
              THEN ue.v ELSE ue.u END AS dst
  FROM ue JOIN deg du ON du.node = ue.u JOIN deg dv ON dv.node = ue.v
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ue) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM oe e1
        JOIN oe e2 ON e2.src = e1.dst
        JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS n_triangles
"""


@query(
    "graph_triangles",
    oracle=_TRIANGLES_ORACLE,
    tags=("graph", "pipeline", "join"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the part co-occurrence graph (parts
    bought together in an order) with DEGREE-ORDERED ORIENTATION — the
    standard distributed-triangle algorithm (Cohen 2009 / Suri &
    Vassilvitskii 2011, public).  Each undirected edge is directed from
    its lower-(degree, id) endpoint, which makes the graph a DAG whose
    max out-degree is O(sqrt(m)); every triangle then has exactly one
    node with out-edges to the other two, so the wedge join
    (e1.dst = e2.src) enumerates each triangle once and the closure join
    confirms it.

    Scale: the naive wedge count is sum(deg^2) — a single celebrity node
    with degree 10M would generate 10^14 wedges; orientation caps
    per-node fan-out at ~sqrt(m), bounding the wedge stage at O(m^1.5)
    total and keying every join on a node id (AQE handles residual
    skew).  This is the graph-analytics counterpart of the salted-agg
    pattern (operators/skew.py).  Output is one row of exact global
    counts, so the DuckDB oracle replays edge building, degrees,
    orientation, and both joins verbatim."""
    from impala_avx2_parquet_scanner_spark.catalog import table

    pp = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = pp.alias("a"), pp.alias("b")
    # ue feeds degree counting, edge counting, and (via oe) three join
    # legs; deg feeds orientation and node counting; oe feeds all three
    # triangle-join legs.  Persist each invariant so the lineage is
    # computed ONCE — without this, Catalyst re-derives the whole
    # scan→distinct→join chain per consumer (measured 74 shuffles vs 15).
    ue = (
        a.join(b, on=[F.col("a.ok") == F.col("b.ok"), F.col("a.pk") < F.col("b.pk")])
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
        .persist()
    )
    deg = (
        ue.select(F.col("u").alias("node"))
        .unionAll(ue.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        ue.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .persist()
    )
    # Count per EDGE, not per wedge: a triangle through oriented edge
    # (u→v) is exactly one common element of N⁺(u) and N⁺(v), so
    # Σ_edges |N⁺(src) ∩ N⁺(dst)| equals the wedge-join count without
    # ever materializing the wedges.  The previous e1⋈e2⋈e3 plan built
    # the full O(m^1.5) wedge set (~50M rows at sf0.1) and hash-probed
    # every wedge — 120 CPU-s; here each edge does one codegen'd
    # array_intersect over two ≤√m adjacency arrays (same total element
    # work, no 50M-row intermediate, no second join).  No broadcast hint
    # on the attach joins: adj totals O(m) elements (NOT bounded — a
    # forced broadcast would hit the 8 GB cap at scale), and the paired
    # A/B read the keyed-shuffle attach at parity or faster (7.1 s vs
    # 7.7 s min) while AQE still broadcasts when the measured size fits.
    # adj feeds BOTH attach joins; without a persist each join leg replans
    # the groupBy+collect_list from oe and the build runs twice — the two
    # adj-side exchanges do not canonicalize to one ReusedExchange across
    # the src- and dst-keyed join legs (stage profile: twin 32-task stages
    # at ~90 CPU-s each, identical 12.9 MB in / 8.8 MB shuffle out).  Same
    # O(m)-element footprint as the oe persist above.  Interleaved A/B at
    # sf0.1: min 5.27 s -> 3.79 s, new wins 3/4 pairs at equal steal.
    adj = oe.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).persist()
    a_src = adj.select(F.col("src").alias("s_key"), F.col("nbrs").alias("src_nbrs"))
    a_dst = adj.select(F.col("src").alias("d_key"), F.col("nbrs").alias("dst_nbrs"))
    tri = (
        oe.join(a_src, F.col("src") == F.col("s_key"))
        .join(a_dst, F.col("dst") == F.col("d_key"))
        .select(
            F.size(F.array_intersect("src_nbrs", "dst_nbrs")).alias("n_common")
        )
        # coalesce: SUM over zero edges is NULL where COUNT(*) was 0
        .agg(F.coalesce(F.sum("n_common"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = ue.agg(F.count(F.lit(1)).alias("n_edges"))
    return tie_unpersist(
        n_nodes.crossJoin(n_edges).crossJoin(tri), ue, deg, oe, adj
    )
