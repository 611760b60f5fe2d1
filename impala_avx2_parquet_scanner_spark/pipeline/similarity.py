"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set against the full corpus, compute dot products with JVM-side
higher-order functions (zip_with + aggregate — no Python in the loop),
rank per query.  At 100 TB the corpus side stays partitioned and the query
side broadcasts; the LSH-bucketed variant (random-hyperplane signs) cuts
candidates to matching buckets first.

All arithmetic is double-precision with a fixed left-to-right summation
order, so DuckDB's list_dot_product over DOUBLE[] reproduces the exact
bits (both engines sum sequentially).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.cache import tie_unpersist
from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.registry import query

TOP_K = 3
N_QUERIES = 5  # vec_id < N_QUERIES form the query set


def _fold_rows(m):
    """Strict left-to-right IEEE double fold along axis 1, vectorized
    across rows: acc = ((0.0 + m[:,0]) + m[:,1]) + ... — the exact
    summation order of ``F.aggregate(..., lit(0.0), acc + x)`` and of
    DuckDB's sequential list_dot_product, so results are bit-identical
    to the interpreted expression chain this kernel replaced (numpy's
    own ``sum``/``dot`` use pairwise/SIMD orders and would drift ulps)."""
    import numpy as np

    acc = m[:, 0] + 0.0
    for i in range(1, m.shape[1]):
        acc = acc + m[:, i]
    return acc


def _pairs_matrix(a, b):
    """(A, B, ok) float64 matrices for the non-null rows of two pandas
    Series of equal-length arrays, plus the non-null row mask."""
    import numpy as np

    ok = a.notna().to_numpy() & b.notna().to_numpy()
    rows_a = a.to_numpy()[ok]
    rows_b = b.to_numpy()[ok]
    if rows_a.size == 0:
        z = np.zeros((0, 1))
        return z, z, ok
    return (
        np.vstack(rows_a).astype("float64", copy=False),
        np.vstack(rows_b).astype("float64", copy=False),
        ok,
    )


def _null_safe(out, ok):
    """float64 result → pandas Series, with genuinely-NULL (not NaN)
    cells where an input array was NULL — matching ``F.aggregate`` over
    a null array."""
    import pandas as pd

    if ok.all():
        return pd.Series(out)
    return pd.Series(out).astype("Float64").mask(~ok, pd.NA)


@trims
def _dot_seq(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    A, B, ok = _pairs_matrix(a, b)
    out = np.full(len(a), np.nan)
    if A.shape[0]:
        out[ok] = _fold_rows(A * B)
    return _null_safe(out, ok)


@trims
def _cosine_seq(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    A, B, ok = _pairs_matrix(a, b)
    out = np.full(len(a), np.nan)
    if A.shape[0]:
        out[ok] = _fold_rows(A * B) / (
            np.sqrt(_fold_rows(A * A)) * np.sqrt(_fold_rows(B * B))
        )
    return _null_safe(out, ok)


#: pandas_udf wrapping happens LAZILY on the driver: decorating at module
#: import would re-run in every executor Python worker (modules ship by
#: reference), where no SparkSession exists → SESSION_OR_CONTEXT_NOT_EXISTS.
_UDF_CACHE: dict = {}


def _vec_udf(fn):
    u = _UDF_CACHE.get(fn.__name__)
    if u is None:
        u = _UDF_CACHE[fn.__name__] = F.pandas_udf(fn, "double")
    return u


def _fold_cross(A, B):
    """(n, m) matrix whose (i, j) entry is the strict left-to-right fold
    of ``A[i] * B[j]`` in dimension order — the cross-product counterpart
    of `_fold_rows`, bit-identical per pair to the expression chain."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc = acc + A[:, d, None] * B[None, :, d]
    return acc


def _cos_cross(A, B):
    """(n, m) cosine matrix with every fold (dot, |a|², |b|²) in the exact
    sequential order of the `cosine` expression form."""
    import numpy as np

    na = np.sqrt(_fold_rows(A * A))
    nb = np.sqrt(_fold_rows(B * B))
    return _fold_cross(A, B) / (na[:, None] * nb[None, :])


def _gt_total(x, y):
    """Spark/DuckDB double ``>``: total order with NaN greater than every
    value (both engines diverge from IEEE here, in the same direction)."""
    import numpy as np

    return (x > y) | (np.isnan(x) & ~np.isnan(y))


def _argmax_total(C):
    """Row-wise argmax under the engines' double total order (NaN
    greatest); ties resolve to the FIRST (= lowest-id when columns are
    id-sorted) — matching ``max(struct(sim, -id))``."""
    import numpy as np

    return np.argmax(np.where(np.isnan(C), np.inf, C), axis=1)


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product — vectorized in one
    Arrow batch (guide §4.2); bit-identical to the previous interpreted
    ``aggregate(zip_with(...))`` fold (see `_fold_rows`), which burned
    hundreds of CPU-seconds interpreted (334 s in dedup_semantic's pair
    stage, 17 s single-task in ann_knn_graph at sf0.1)."""
    return _vec_udf(_dot_seq)(a, b)


def cosine(a: Column, b: Column) -> Column:
    """dot/(|a||b|) with all three folds inside ONE kernel crossing."""
    return _vec_udf(_cosine_seq)(a, b)


def dot_expr(a: Column, b: Column) -> Column:
    """The original JVM expression form, kept for per-row contexts where
    a Python batch boundary is not worth it (bounded fixtures, tests)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dbl(col: str) -> Column:
    return F.col(col).cast("array<double>")


_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         list_dot_product(q.qemb, e.emb)
           / (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(e.emb, e.emb))) AS cos_sim
  FROM q JOIN e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, neighbor_label, cos_sim, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {TOP_K}
"""


@query("ann_bruteforce_topk", oracle=_TOPK_ORACLE, tags=("similarity", "pipeline"))
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set × full corpus, row_number
    per query (sim desc, id tiebreak)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cosine(F.col("qemb"), F.col("emb")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cos_sim", "rank")
    )


_PAIRS_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
           WHERE vec_id < 200),
n AS (SELECT vec_id, label, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       a.label AS label_a, b.label AS label_b,
       list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) > 0.88
"""


@query("embedding_near_dup_pairs", oracle=_PAIRS_ORACLE, tags=("similarity", "dedup", "pipeline"))
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, on a
    bounded slice (vec_id < 200 → ≤19,900 candid pairs).  The full-corpus
    form is the LSH-bucketed variant below; this exact form is the
    verifier that runs on candidate buckets."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "label", _dbl("embedding").alias("emb"))
    )
    n = e.select(
        "vec_id", "label", "emb", F.sqrt(dot(F.col("emb"), F.col("emb"))).alias("nrm")
    )
    a = n.alias("a")
    b = n.alias("b")
    sim = dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") > 0.88)
    )


N_CENTROIDS = 8
N_PROBE = 2

_IVF_ORACLE_ASSIGN = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
c AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         list_dot_product(e.emb, c.cemb)
           / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
  FROM e, c
)
SELECT vec_id, centroid_id, sim AS centroid_sim
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
      FROM scored) t
WHERE rn = 1
"""


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with nearest-centroid assignment in ONE pass: broadcast
    centroids × partitioned corpus, then an argmax as `MAX(struct(sim,
    -centroid_id))` per vector.  All N_CENTROIDS scored rows for a vector
    come from the same input row, so the partial aggregate collapses them
    map-side — the shuffle carries one row per vector and never sorts
    (a window `row_number` would shuffle+sort all |corpus|×N_CENTROIDS
    rows).  The struct ordering (sim DESC via max, centroid_id ASC via
    the negation) reproduces the oracle's tie-break exactly.  `label`/
    `emb` are constant within a vector's group, so carrying them through
    `first()` is deterministic and spares the index a corpus self-join."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    c = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "label",
        "emb",
        "centroid_id",
        cosine(F.col("emb"), F.col("cemb")).alias("sim"),
    )
    best = F.max(
        F.struct(
            F.col("sim").alias("sim"),
            (-F.col("centroid_id")).alias("neg_cid"),
        )
    ).alias("m")
    return (
        scored.groupBy("vec_id")
        .agg(best, F.first("label").alias("label"), F.first("emb").alias("emb"))
        .select(
            "vec_id",
            "label",
            "emb",
            (-F.col("m.neg_cid")).cast("long").alias("centroid_id"),
            F.col("m.sim").alias("centroid_sim"),
        )
    )


@query("ann_ivf_assign", oracle=_IVF_ORACLE_ASSIGN, tags=("similarity", "ivf", "pipeline"))
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid.  Centroids here are the first N_CENTROIDS corpus vectors —
    deterministic (so the oracle can replay it); production would plug in
    k-means centroids without changing the plan."""
    return _ivf_assigned(spark, sf_dir).select(
        "vec_id", "centroid_id", "centroid_sim"
    )


def ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, emb, centroid_id) — the partitioned IVF index.
    At scale this is written out partitioned/bucketed BY centroid_id so a
    probe touches only matching buckets."""
    return _ivf_assigned(spark, sf_dir).select(
        "vec_id", "label", "emb", "centroid_id"
    )


_IVF_ORACLE_TOPK = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
c AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e WHERE vec_id < {N_CENTROIDS}),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.emb, c.cemb)
               / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
             c.centroid_id) AS rn
    FROM e, c) t WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id, probe_rank FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.emb, c.cemb)
               / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
             c.centroid_id) AS probe_rank
    FROM e, c WHERE e.vec_id < {N_QUERIES}) t WHERE probe_rank <= {N_PROBE}
),
cands AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT cd.query_id, cd.neighbor_id,
         list_dot_product(q.emb, n.emb)
           / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(n.emb, n.emb))) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY cd.query_id ORDER BY
           list_dot_product(q.emb, n.emb)
             / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(n.emb, n.emb))) DESC,
           cd.neighbor_id) AS rank
  FROM cands cd JOIN e q ON q.vec_id = cd.query_id
                JOIN e n ON n.vec_id = cd.neighbor_id
) t WHERE rank <= {TOP_K}
"""


@query("ann_ivf_topk", oracle=_IVF_ORACLE_TOPK, tags=("similarity", "ivf", "pipeline"))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search: for each query, rank only vectors in its N_PROBE
    nearest centroid buckets — the scale path that replaces the full
    cross join (candidates ≈ corpus × nprobe/ncentroids)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    c = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    index = ivf_index(spark, sf_dir)
    queries_df = e.filter(F.col("vec_id") < N_QUERIES)
    q_scored = queries_df.crossJoin(F.broadcast(c)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        "centroid_id",
        cosine(F.col("emb"), F.col("cemb")).alias("sim"),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("sim"), "centroid_id")
    probes = (
        q_scored.withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= N_PROBE)
        .select("query_id", "qemb", "centroid_id")
    )
    # Broadcast the probe set (bounded by the query batch × N_PROBE) into
    # the corpus-sized index: a shuffle join here would hash on
    # centroid_id — N_CENTROIDS distinct keys, catastrophic skew at scale.
    cands = index.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qemb"), F.col("emb")).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


N_PLANES = 8


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from a fixed integer mix so Spark and any re-implementation
    agree without RNG state."""
    x = (plane * 1_000_003 + dim * 7919 + 12345) % 104729
    return (x / 104729.0) * 2.0 - 1.0


def lsh_signature(emb: Column, n_planes: int = N_PLANES, dims: int = 64) -> Column:
    """Random-hyperplane sign signature as an int bucket id (0..2^n-1).

    Each per-dimension product is quantized to a 1e-9 fixed-point BIGINT
    before summing, so the projection is an exact integer sum — the sign
    (hence the bucket) is bit-identical at any parallelism or fold order,
    and an oracle can replay it term-for-term."""
    sig = F.lit(0)
    for p in range(n_planes):
        plane = [_plane_component(p, d) for d in range(dims)]
        proj = F.aggregate(
            F.zip_with(
                emb,
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: F.floor(x * y * F.lit(1000000000.0)),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0))
    return sig


_LSH_ORACLE = """
WITH planes AS (SELECT UNNEST(generate_series(0, 7)) AS p),
ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
),
proj AS (
  SELECT vec_id, label, p,
         SUM(CAST(FLOOR(x * (((p * 1000003 + d * 7919 + 12345) % 104729)
                             / 104729.0 * 2.0 - 1.0)
                        * 1000000000.0) AS BIGINT)) AS pq
  FROM ex CROSS JOIN planes
  GROUP BY vec_id, label, p
),
sig AS (
  SELECT vec_id, label,
         CAST(SUM(CASE WHEN pq >= 0 THEN (CAST(1 AS BIGINT) << p)
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, label
)
SELECT s.vec_id, s.label, s.bucket, c.bucket_size
FROM sig s
JOIN (SELECT bucket, COUNT(*) AS bucket_size FROM sig GROUP BY bucket) c
  USING (bucket)
"""


@query(
    "ann_lsh_buckets",
    oracle=_LSH_ORACLE,
    tags=("similarity", "lsh", "pipeline"),
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: 8-bit sign signature per vector +
    bucket occupancy.  The scale path for ANN: candidates = same-bucket
    (or Hamming-adjacent) vectors only; the exact top-k verifier above
    then runs per bucket.

    The hyperplane components are a deterministic integer mix (no RNG
    state) and the projection is a fixed-point integer sum, so the DuckDB
    oracle replays the entire signature computation term-for-term — full
    value verification, not just row counts."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    sig = e.select("vec_id", "label", lsh_signature(F.col("emb")).alias("bucket"))
    counts = sig.groupBy("bucket").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sig.join(counts, "bucket").select(
        "vec_id", "label", "bucket", "bucket_size"
    )


_CENTROID_ORACLE = """
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
  FROM embeddings
)
SELECT label, pos, COUNT(*) AS n,
       (CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000.0 AS centroid
FROM ex GROUP BY label, pos
"""


@query("embedding_centroids", oracle=_CENTROID_ORACLE, tags=("similarity", "pipeline"))
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the class-centroid / cluster-center
    primitive), in long format (label, pos, centroid component).

    Doubles summed in parallel are order-dependent, so the components are
    quantized to 1e-6 fixed-point BIGINTs first — integer sums are exactly
    associative, making the centroid bit-identical at any parallelism
    (the same discipline exprs.py applies to money columns).  posexplode
    → groupBy(label, pos) is one keyed shuffle of |vectors|×dim quantized
    ints; no driver-side state."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", _dbl("embedding").alias("emb")
    )
    ex = e.select("label", F.posexplode("emb").alias("pos0", "x"))
    q = ex.select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * F.lit(1000000.0)).alias("xq"),
    )
    return q.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        ((F.sum("xq").cast("double") / F.count(F.lit(1))) / F.lit(1000000.0)).alias(
            "centroid"
        ),
    )


_QUANT_ORACLE = """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
),
m AS (SELECT vec_id, MAX(ABS(x)) AS amax FROM ex GROUP BY vec_id)
SELECT e.vec_id, e.pos,
       CASE WHEN m.amax > 0
            THEN CAST(ROUND(e.x / (m.amax / 127.0), 0) AS BIGINT)
            ELSE 0 END AS q,
       m.amax / 127.0 AS scale
FROM ex e JOIN m ON e.vec_id = m.vec_id
"""


@query(
    "embedding_quantize_int8",
    oracle=_QUANT_ORACLE,
    tags=("similarity", "pipeline", "quantize"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale = max|x| / 127, q = round(x / scale) — the storage/ANN
    compression step of an embedding pipeline (4× smaller than float32,
    8× smaller than the double intermediate).

    The per-vector max is a window aggregate partitioned by vec_id, so
    quantization stays co-partitioned with the explode — one shuffle by
    vec_id total, and the (vec_id, pos, q) long format re-assembles with
    `collect_list` ordered by pos when an array column is needed."""
    ex = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(_dbl("embedding")).alias("pos0", "x")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "x")
    w = W.partitionBy("vec_id")
    ex = ex.withColumn("amax", F.max(F.abs("x")).over(w))
    return ex.select(
        "vec_id",
        "pos",
        F.when(
            F.col("amax") > 0,
            F.round(F.col("x") / (F.col("amax") / F.lit(127.0)), 0).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("q"),
        (F.col("amax") / F.lit(127.0)).alias("scale"),
    )


SEMDEDUP_TAU = 0.30
#: Target cluster size: the centroid count is ceil(N / this), so cluster
#: population stays ~constant as the corpus grows and the within-cluster
#: pair stage stays LINEAR in N (fixed k would make it quadratic).
SEMDEDUP_CLUSTER_SIZE = 64
#: Super-centroid count floor for two-level assignment routing.  The
#: actual S = min(k, max(64, ceil(sqrt(k)))): below k=4096 it is the
#: constant 64 (small broadcast, cells of ≤64 centroids); past that it
#: grows as sqrt(k), which BALANCES the two per-point terms (routing
#: O(S) + in-cell argmax O(k/S) is minimized at S=sqrt(k)) — total
#: assignment work O(N·sqrt(k)) with a sqrt-sized broadcast (~1e5 supers
#: at a trillion vectors, still a few MB).  The IVF-probe coarse
#: quantizer shape (VERDICT r4 #6); depth stays fixed at 2, and each
#: further hierarchy level would cut the exponent again (k^(1/3)...).
SEMDEDUP_SUPER = 64

_SEMDEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
st AS (SELECT CAST(ceil(COUNT(*) / {SEMDEDUP_CLUSTER_SIZE}.0) AS BIGINT) AS k,
              least(CAST(ceil(COUNT(*) / {SEMDEDUP_CLUSTER_SIZE}.0) AS BIGINT),
                    greatest({SEMDEDUP_SUPER},
                             CAST(ceil(sqrt(ceil(COUNT(*) / {SEMDEDUP_CLUSTER_SIZE}.0))) AS BIGINT))) AS s
       FROM e),
c AS (SELECT vec_id AS centroid_id, emb AS cemb FROM e, st WHERE vec_id < st.k),
sup AS (SELECT vec_id AS super_id, emb AS semb FROM e, st WHERE vec_id < st.s),
c_route AS (
  SELECT centroid_id, cemb, super_id FROM (
    SELECT c.centroid_id, c.cemb, sup.super_id,
           ROW_NUMBER() OVER (PARTITION BY c.centroid_id ORDER BY
             list_dot_product(c.cemb, sup.semb)
               / (sqrt(list_dot_product(c.cemb, c.cemb)) * sqrt(list_dot_product(sup.semb, sup.semb)))
             DESC, sup.super_id) AS rn
    FROM c, sup) t
  WHERE rn = 1
),
p_route AS (
  SELECT vec_id, emb, super_id FROM (
    SELECT e.vec_id, e.emb, sup.super_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.emb, sup.semb)
               / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(sup.semb, sup.semb)))
             DESC, sup.super_id) AS rn
    FROM e, sup) t
  WHERE rn = 1
),
scored AS (
  SELECT p.vec_id, p.emb, c.centroid_id,
         list_dot_product(p.emb, c.cemb)
           / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(c.cemb, c.cemb))) AS sim
  FROM p_route p JOIN c_route c USING (super_id)
),
assign AS (
  SELECT vec_id, emb, centroid_id, centroid_sim FROM
   (SELECT *, sim AS centroid_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
    FROM scored) t
  WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         a.centroid_sim AS a_cs, b.centroid_sim AS b_cs
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) > {SEMDEDUP_TAU}
),
losers AS (
  SELECT DISTINCT CASE WHEN a_cs > b_cs OR (a_cs = b_cs AND a_id > b_id)
                       THEN a_id ELSE b_id END AS vec_id
  FROM pairs
)
SELECT s.vec_id, s.centroid_id, s.centroid_sim, (l.vec_id IS NULL) AS keep
FROM assign s LEFT JOIN losers l USING (vec_id)
"""


@query(
    "dedup_semantic",
    oracle=_SEMDEDUP_ORACLE,
    tags=("similarity", "dedup", "pipeline"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the corpus, find within-cluster cosine-similar pairs, and of
    each near-duplicate pair prune the vector that sits CLOSER to its
    centroid (the more "typical" copy — keeping the farther one preserves
    diversity, the paper's keep-rule).  Emits one row per vector with its
    cluster, centroid similarity, and a `keep` verdict.

    Plan shape for 100 TB: the pairwise step is a self-join keyed on
    centroid_id, so the candidate set is per-cluster, never all-pairs —
    and the centroid count is derived IN-PLAN as ceil(N/64) (a 1-row
    count broadcast; no collect), pinning cluster population at ~64 so
    PAIR work grows linearly with the corpus (a fixed k would make it
    N²/k — measured super-linear in SCALING.md before this guard).

    ASSIGNMENT is two-level IVF-style routing (round-4 rewrite; the
    round-3 exhaustive broadcast-argmax against all k=N/64 centroids was
    itself O(N·k)=O(N²/64) with a corpus-sized/64 broadcast — the
    quadratic had moved, not vanished).  A set of
    S = min(k, max(64, ceil(sqrt(k)))) super-centroids is materialized
    driver-side (round-10: the same bounded rows the previous plan's
    BroadcastExchange collected — constant 64 until k=4096, then the
    sqrt(k) IVF coarse-quantizer shape, a few MB even at a trillion
    vectors) and shipped into a mapInPandas routing kernel; points and
    centroids each route to their nearest super-centroid in O(N·S)
    numpy work crossing the Python boundary once per ROW (not per
    row×super — guide §4.2/§8), then the point↔centroid argmax, the
    within-cluster pair scan AND the keep verdict all happen inside one
    cogrouped applyInPandas kernel per super-cell (round-11 fusion:
    every point assigned to centroid c routed to c's own cell, so each
    centroid's point group is complete there — see `assign_cell`; the
    round-10 shape paid the Python-worker/Arrow boundary three times
    and re-shuffled the assignment by centroid_id for the pair kernel
    plus a verdict join).  Centroids co-partition by super_id, no
    broadcast.  Every cell is non-empty (super-centroid s is also
    centroid s, and routes to itself at cosine 1).  S=sqrt(k) balances
    the two per-point terms (routing O(S) + in-cell argmax O(k/S)), so
    total assignment work is O(N·sqrt(k)) at depth 2 — exact
    nearest-of-a-growing-codebook cannot be linear at fixed index depth;
    each added hierarchy level cuts the exponent again (k^(1/3), ...),
    measured across a 16x embeddings decade in SCALING.md.
    The routed assignment is deterministic (cosine ties →
    lower id at both levels), so the DuckDB oracle replays routing,
    assignment, pair scoring, the keep-rule, and the final verdict
    term-for-term.  Reference parity:
    the reference has no ANN/dedup surface — north-star pipeline scope
    (SURVEY §2).
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl("embedding").alias("emb")
    )
    k = F.ceil(
        F.count(F.lit(1)) / F.lit(float(SEMDEDUP_CLUSTER_SIZE))
    ).cast("long")
    stats = e.agg(
        k.alias("k"),
        F.least(
            k,
            F.greatest(
                F.lit(SEMDEDUP_SUPER).cast("long"),
                F.ceil(F.sqrt(k)).cast("long"),
            ),
        ).alias("s"),
    )
    c = (
        e.crossJoin(F.broadcast(stats))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb"))
    )
    sup = (
        e.crossJoin(F.broadcast(stats))
        .filter(F.col("vec_id") < F.col("s"))
        .select(F.col("vec_id").alias("super_id"), F.col("emb").alias("semb"))
    )

    # Routing/assignment/pair scoring run as numpy kernels that cross the
    # Python boundary ONCE PER ROW (guide §4.2/§8: decide with small
    # crossings).  The previous shape — crossJoin(sup) + per-pair cosine —
    # blew each vector up S× before the similarity expression ever ran:
    # interpreted JVM folds cost 334 CPU-s in the pair stage alone, and a
    # pandas_udf over the blown-up rows shipped ~2 GB of arrays per stage
    # (paired A/B: 9.3 s vs 4.1 s — the boundary cost exceeded the compute
    # saved).  Every fold below is the exact sequential order of the
    # `cosine` expression (`_cos_cross`), every argmax/comparison the
    # engines' NaN-greatest total order, so the result is bit-identical
    # and the DuckDB oracle still replays it term-for-term.
    import numpy as np

    # Bounded driver materialization of the super set — the same S rows
    # the previous plan collected into a BroadcastExchange (S stays
    # min(k, max(64, ceil(sqrt(k)))): ~64 KB here, a few MB at 1T rows).
    sup_rows = sorted(sup.collect(), key=lambda r: r.super_id)
    sup_ids = np.array([r.super_id for r in sup_rows], dtype=np.int64)
    sup_mat = np.array([list(r.semb) for r in sup_rows], dtype=np.float64)

    def route_kernel(id_name: str, emb_name: str):
        @trims
        def fn(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.vstack(pdf[emb_name].to_numpy()).astype(
                    "float64", copy=False
                )
                best = _argmax_total(_cos_cross(A, sup_mat))
                out = pdf[[id_name, emb_name]].copy()
                out["super_id"] = sup_ids[best]
                yield out

        return fn

    c_routed = c.mapInPandas(
        route_kernel("centroid_id", "cemb"),
        "centroid_id long, cemb array<double>, super_id long",
    )
    p_routed = e.mapInPandas(
        route_kernel("vec_id", "emb"),
        "vec_id long, emb array<double>, super_id long",
    )

    @trims
    def assign_cell(points, cents):
        """Exact nearest centroid within one super cell (ties → lower
        centroid_id), FUSED with the within-cluster pair scan and keep
        verdict (round-11, guide §4: the round-10 shape paid the
        Python-worker/Arrow-stream setup three times — assign kernel,
        pair kernel, verdict join — 14.7 s runT vs 1.8 s cpuT in the
        stage profile).  The fusion is sound because every point
        assigned to centroid c routed to the SAME super cell c did:
        assignment picks c from the point's own cell, so S(c) = S(p)
        and each centroid's point group is COMPLETE inside this kernel
        — the per-centroid pair scan sees exactly the rows the old
        groupBy(centroid_id) shuffle delivered, and `_cos_cross`
        entries depend only on their own row pair, so every cosine is
        bit-identical.  Every populated cell holds ≥1 centroid: super-
        centroid s is also centroid s and routes to itself at cosine 1.

        Keep rule per pair (cos > τ under the engines' NaN-greatest
        `>`): prune the member CLOSER to its centroid (ties → higher
        vec_id) — the SemDeDup keep-the-outlier rule, unchanged."""
        if len(points) == 0 or len(cents) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "centroid_id": pd.Series(dtype="int64"),
                    "centroid_sim": pd.Series(dtype="float64"),
                    "keep": pd.Series(dtype="bool"),
                }
            )
        cents = cents.sort_values("centroid_id")
        P = np.vstack(points["emb"].to_numpy()).astype("float64", copy=False)
        Cm = np.vstack(cents["cemb"].to_numpy()).astype("float64", copy=False)
        C = _cos_cross(P, Cm)
        best = _argmax_total(C)
        vec_ids = points["vec_id"].to_numpy()
        cids = cents["centroid_id"].to_numpy()[best]
        sims = C[np.arange(len(points)), best]
        keep = np.ones(len(points), dtype=bool)
        for c in np.unique(cids):
            idx = np.flatnonzero(cids == c)
            if idx.size < 2:
                continue
            sub = idx[np.argsort(vec_ids[idx])]  # pair scan in vec_id order
            Cp = _cos_cross(P[sub], P[sub])
            i, j = np.triu_indices(sub.size, k=1)
            c_ij = Cp[i, j]
            hit = (c_ij > SEMDEDUP_TAU) | np.isnan(c_ij)
            if not hit.any():
                continue
            ids = vec_ids[sub]
            cs = sims[sub]
            ih, jh = i[hit], j[hit]
            losers = np.unique(
                np.where(_gt_total(cs[ih], cs[jh]), ids[ih], ids[jh])
            )
            keep[sub[np.isin(ids, losers)]] = False
        return pd.DataFrame(
            {
                "vec_id": vec_ids,
                "centroid_id": cids,
                "centroid_sim": sims,
                "keep": keep,
            }
        )

    return (
        p_routed.groupBy("super_id")
        .cogroup(c_routed.groupBy("super_id"))
        .applyInPandas(
            assign_cell,
            "vec_id long, centroid_id long, centroid_sim double, keep boolean",
        )
    )


_KNN_GRAPH_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
           WHERE vec_id < 300),
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id, b.label AS nbr_label,
         list_dot_product(a.emb, b.emb)
           / (sqrt(list_dot_product(a.emb, a.emb))
              * sqrt(list_dot_product(b.emb, b.emb))) AS cos_sim
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
)
SELECT src_id, nbr_id, nbr_label, cos_sim, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                               ORDER BY cos_sim DESC, nbr_id) AS rank
  FROM scored
) t WHERE rank <= 3
"""


@query("ann_knn_graph", oracle=_KNN_GRAPH_ORACLE, tags=("similarity", "pipeline"))
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor graph (k=3) over a bounded corpus slice — the
    building block of SemDeDup-style semantic dedup and graph clustering.

    Unlike `ann_bruteforce_topk` (few queries × full corpus) every node is
    a query here, so the corpus side stays partitioned and a bounded
    reference block (vec_id < 300) broadcasts; at 100 TB the same plan
    runs per LSH/IVF bucket (`ann_lsh_buckets` / `ann_ivf_assign` supply
    the buckets), which keeps each broadcast block small while the union
    of blocks covers the corpus.  Same fixed-order double dot product as
    the rest of this module — bit-identical to DuckDB's
    list_dot_product."""
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "label", _dbl("embedding").alias("emb"))
    )
    a = e.select(F.col("vec_id").alias("src_id"), F.col("emb").alias("src_emb"))
    b = e.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nbr_label"),
        F.col("emb").alias("nbr_emb"),
    )
    scored = a.join(F.broadcast(b), F.col("src_id") != F.col("nbr_id")).select(
        "src_id",
        "nbr_id",
        "nbr_label",
        cosine(F.col("src_emb"), F.col("nbr_emb")).alias("cos_sim"),
    )
    w = W.partitionBy("src_id").orderBy(F.desc("cos_sim"), "nbr_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("src_id", "nbr_id", "nbr_label", "cos_sim", "rank")
    )


#: K-means index build: fixed-point Lloyd iterations.  Coordinates are
#: 1e6-scaled BIGINTs, distances are integer squared-L2, centroid updates
#: are integer mean (SUM div COUNT, truncating like both engines' int
#: division) — every round is bit-exact at any parallelism, so the DuckDB
#: oracle replays the whole build.  64 dims × (2e6)^2 × . . . stays well
#: under 2^63.
KMEANS_ITERATIONS = 2
KMEANS_SCALE = 1_000_000


def _kmeans_oracle() -> str:
    k = N_CENTROIDS
    parts = [f"""
ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {KMEANS_SCALE}.0)
              AS BIGINT) AS xq
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, pos, xq AS cq FROM ex WHERE vec_id < {k})"""]
    for i in range(1, KMEANS_ITERATIONS + 1):
        parts.append(f"""
d{i} AS (
  SELECT e.vec_id, c.cid,
         CAST(SUM((e.xq - c.cq) * (e.xq - c.cq)) AS BIGINT) AS dist
  FROM ex e JOIN c{i-1} c USING (pos) GROUP BY e.vec_id, c.cid
),
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) AS rn
    FROM d{i}) t WHERE rn = 1
),
c{i} AS (
  SELECT a.cid, e.pos,
         CAST(SUM(e.xq) AS BIGINT) // COUNT(*) AS cq
  FROM a{i} a JOIN ex e USING (vec_id) GROUP BY a.cid, e.pos
)""")
    n = KMEANS_ITERATIONS
    return ("WITH " + ",".join(parts) + f""",
sizes AS (SELECT cid, COUNT(*) AS n_members FROM a{n} GROUP BY cid)
SELECT c.cid AS centroid_id, c.pos, c.cq AS coord_q,
       c.cq / {KMEANS_SCALE}.0 AS coord, s.n_members
FROM c{n} c JOIN sizes s USING (cid)""")


def _sq_dist(a: Column, b: Column) -> Column:
    """Integer squared-L2 distance between two bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


@query("ann_ivf_kmeans", oracle=_kmeans_oracle(), tags=("similarity", "ivf", "pipeline", "iterative"))
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index BUILD: k-means (Lloyd) over the corpus, K=8, two
    fixed-point iterations seeded from the first K vectors — the step
    that produces the centroids `ann_ivf_assign`/`ann_ivf_topk` consume
    (their docstrings note the plug-in point).

    Each iteration is the canonical distributed k-means shuffle pair:
    (1) ASSIGN — centroids broadcast (K×dim is KBs at any corpus size),
    distance computed JVM-side per row, nearest picked with a map-side
    `max(struct(-dist, -cid))` argmin, so the exchange carries one row
    per vector; (2) UPDATE — explode to (cid, pos, coord) and integer-
    mean per (cid, pos): one keyed groupBy, map-side combinable.  The
    loop is driver-side over a FIXED iteration count (no convergence
    action), so the whole build is 2 jobs of 2 shuffles regardless of
    scale.  Returns long-format centroids (centroid_id, pos, coord_q,
    coord, n_members) — the layout the oracle can replay exactly."""
    # persist the quantized corpus: every Lloyd iteration (and the final
    # size count) reads it, and identical parquet scans in one plan each
    # execute separately — the cache is the canonical k-means input
    # materialization (what MLlib's KMeans does with norms).
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            _dbl("embedding"), lambda x: F.floor(x * KMEANS_SCALE).cast("bigint")
        ).alias("xq"),
    ).persist()
    cents = (
        e.filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("xq").alias("cq"))
    )
    assigned = None
    for _ in range(KMEANS_ITERATIONS):
        scored = e.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "xq",
            "cid",
            _sq_dist(F.col("xq"), F.col("cq")).alias("dist"),
        )
        assigned = (
            scored.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct((-F.col("dist")).alias("nd"), (-F.col("cid")).alias("nc"))
                ).alias("m"),
                F.first("xq").alias("xq"),
            )
            .select("vec_id", "xq", (-F.col("m.nc")).cast("bigint").alias("cid"))
        )
        long = assigned.select(
            "cid", F.posexplode("xq").alias("pos0", "xq_i")
        ).select("cid", (F.col("pos0") + 1).alias("pos"), "xq_i")
        new_cents_long = long.groupBy("cid", "pos").agg(
            F.expr("sum(xq_i) div count(1)").cast("bigint").alias("cq")
        )
        cents = (
            new_cents_long.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cq"))),
                    lambda s: s.cq,
                ).alias("cq")
            )
        )
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    final_long = (
        cents.select("cid", F.posexplode("cq").alias("pos0", "coord_q"))
        .select("cid", (F.col("pos0") + 1).alias("pos"), "coord_q")
    )
    out = final_long.join(F.broadcast(sizes), "cid").select(
        F.col("cid").alias("centroid_id"),
        "pos",
        "coord_q",
        (F.col("coord_q") / F.lit(float(KMEANS_SCALE))).alias("coord"),
        "n_members",
    )
    return tie_unpersist(out, e)


#: Product quantization geometry: 64-dim vectors → 4 subspaces × 16 dims,
#: 4-entry codebook per subspace (subvectors of the first 4 corpus vectors
#: — deterministic stand-in, same convention as the IVF/SemDeDup centroids).
PQ_SUBSPACES = 4
PQ_SUBDIM = 16
PQ_CODEBOOK = 4

_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
subs AS (
  SELECT vec_id, s AS subspace,
         list_slice(emb, s*{PQ_SUBDIM} + 1, s*{PQ_SUBDIM} + {PQ_SUBDIM}) AS sub
  FROM e, unnest([0,1,2,3]) AS t(s)
),
cb AS (
  SELECT vec_id AS code_id, subspace, sub AS csub FROM subs WHERE vec_id < {PQ_CODEBOOK}
),
scored AS (
  SELECT v.vec_id, v.subspace, c.code_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             [ (v.sub[i] - c.csub[i]) * (v.sub[i] - c.csub[i])
               for i in range(1, {PQ_SUBDIM} + 1) ]),
           (a, b) -> a + b) AS dist
  FROM subs v JOIN cb c USING (subspace)
),
ranked AS (
  SELECT vec_id, subspace, code_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY dist, code_id) AS rn
  FROM scored
)
SELECT vec_id, CAST(subspace AS INTEGER) AS subspace,
       CAST(code_id AS BIGINT) AS code, dist AS sq_err
FROM ranked WHERE rn = 1
"""


@query("embedding_pq_codes", oracle=_PQ_ORACLE, tags=("similarity", "pipeline", "quantize"))
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the compression half of
    a FAISS-style IVF-PQ index (`ann_ivf_*` is the other): split each
    64-dim vector into 4×16-dim subvectors, assign each to its nearest
    codebook entry (L2, deterministic lowest-id tiebreak), and emit the
    4 codes + per-subspace squared reconstruction error.  64 doubles
    compress to 4 codes — the memory step that makes 100 TB of vectors
    fit an ANN index.

    Determinism: distances are left-to-right folds over a fixed 16-dim
    order on both engines (identical ULP), so the argmin ordering and the
    emitted sq_err are bit-identical.  Plan: subvector explode is 4 rows
    per vector (constant), the 16-entry codebook broadcasts, and the
    argmin is a map-side `MIN(struct(dist, code_id))` — one vec_id-keyed
    shuffle total, no window sort.  Codebooks here are deterministic
    first-K subvectors; training them is the same unrolled-Lloyd pattern
    as `ann_ivf_kmeans` and changes no plan shape."""
    best = F.min(
        F.struct(F.col("dist").alias("dist"), F.col("code_id").alias("code_id"))
    ).alias("m")
    return (
        _pq_scored(spark, sf_dir)
        .groupBy("vec_id", "subspace")
        .agg(best)
        .select(
            "vec_id",
            F.col("subspace").cast("int").alias("subspace"),
            F.col("m.code_id").cast("bigint").alias("code"),
            F.col("m.dist").alias("sq_err"),
        )
    )


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (vector, subspace, codebook-entry) L2 distances — the shared
    input of code assignment (`embedding_pq_codes`) and the query LUT
    (`ann_pq_adc_topk`).  Fixed-order fold per 16-dim subvector."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl("embedding").alias("emb")
    )
    subarrs = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1)),
        lambda s: F.slice(F.col("emb"), s * PQ_SUBDIM + F.lit(1), PQ_SUBDIM),
    )
    subs = e.select("vec_id", F.posexplode(subarrs).alias("subspace", "sub"))
    cb = subs.filter(F.col("vec_id") < PQ_CODEBOOK).select(
        F.col("vec_id").alias("code_id"),
        "subspace",
        F.col("sub").alias("csub"),
    )
    dist = F.aggregate(
        F.zip_with("sub", "csub", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return subs.join(F.broadcast(cb), "subspace").select(
        "vec_id", "subspace", "code_id", dist.alias("dist")
    )


_ADC_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
subs AS (
  SELECT vec_id, s AS subspace,
         list_slice(emb, s*{PQ_SUBDIM} + 1, s*{PQ_SUBDIM} + {PQ_SUBDIM}) AS sub
  FROM e, unnest([0,1,2,3]) AS t(s)
),
cb AS (SELECT vec_id AS code_id, subspace, sub AS csub FROM subs WHERE vec_id < {PQ_CODEBOOK}),
scored AS (
  SELECT v.vec_id, v.subspace, c.code_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [ (v.sub[i] - c.csub[i]) * (v.sub[i] - c.csub[i])
             for i in range(1, {PQ_SUBDIM} + 1) ]),
           (a, b) -> a + b) AS dist
  FROM subs v JOIN cb c USING (subspace)
),
codes AS (
  SELECT vec_id, subspace, code_id AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY dist, code_id) AS rn
    FROM scored) t WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, subspace, code_id AS code, dist
  FROM scored WHERE vec_id < {N_QUERIES}
),
pair AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         SUM(CASE WHEN c.subspace = 0 THEN l.dist END) AS d0,
         SUM(CASE WHEN c.subspace = 1 THEN l.dist END) AS d1,
         SUM(CASE WHEN c.subspace = 2 THEN l.dist END) AS d2,
         SUM(CASE WHEN c.subspace = 3 THEN l.dist END) AS d3
  FROM codes c JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, ((d0 + d1) + d2) + d3 AS adc_dist, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY ((d0 + d1) + d2) + d3, neighbor_id) AS rank
  FROM pair) t
WHERE rank <= {TOP_K}
"""


@query("ann_pq_adc_topk", oracle=_ADC_ORACLE, tags=("similarity", "pipeline", "quantize"))
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation (ADC) search over PQ codes — the
    query half of IVF-PQ: each query precomputes a 4×4 lookup table of
    subspace distances to the codebook, and a compressed vector's
    approximate distance is the sum of 4 LUT entries addressed by its
    codes — the corpus's 64 doubles are never touched at query time.

    Determinism: each (query, neighbor) pair has exactly one LUT entry
    per subspace, extracted via four single-element conditional SUMs and
    added in a fixed order — no order-dependent double accumulation, so
    ranks replay bit-identically.  Plan: codes come from the one keyed
    argmin shuffle; the LUT (|queries|×4×4 rows) broadcasts; the
    distance aggregation is one (query, neighbor)-keyed map-side-
    combinable shuffle over 4N rows; the final top-k is a per-query
    window over N rows — all linear in the corpus."""
    scored = _pq_scored(spark, sf_dir)
    codes = (
        scored.groupBy("vec_id", "subspace")
        .agg(
            F.min(
                F.struct(F.col("dist").alias("dist"), F.col("code_id").alias("code_id"))
            ).alias("m")
        )
        .select("vec_id", "subspace", F.col("m.code_id").alias("code"))
    )
    lut = scored.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("subspace").alias("l_subspace"),
        F.col("code_id").alias("l_code"),
        "dist",
    )
    joined = codes.join(
        F.broadcast(lut),
        (F.col("subspace") == F.col("l_subspace"))
        & (F.col("code") == F.col("l_code"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    d = [
        F.sum(F.when(F.col("subspace") == s, F.col("dist"))).alias(f"d{s}")
        for s in range(PQ_SUBSPACES)
    ]
    pair = joined.groupBy(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).agg(*d)
    adc = (
        (F.col("d0") + F.col("d1")) + F.col("d2")
    ) + F.col("d3")
    w = W.partitionBy("query_id").orderBy(adc.asc(), "neighbor_id")
    return (
        pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", adc.alias("adc_dist"), "rank")
    )


_OUTLIER_ORACLE = """
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
  FROM embeddings
),
cent AS (
  SELECT label, pos, COUNT(*) AS n, SUM(xq) AS sumq
  FROM ex GROUP BY label, pos
),
dist AS (
  SELECT e.vec_id, e.label,
         ROUND(CAST(SUM(CAST(e.xq * c.n - c.sumq AS HUGEINT)
                         * CAST(e.xq * c.n - c.sumq AS HUGEINT)) AS DOUBLE)
               / (CAST(MAX(c.n) AS DOUBLE) * CAST(MAX(c.n) AS DOUBLE) * 1e12),
               9) AS d2
  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.vec_id, e.label
),
m AS (
  SELECT label,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(d2 AS DECIMAL(18,9)) * CAST(d2 AS DECIMAL(18,9)))
              AS DOUBLE) AS sxx
  FROM dist GROUP BY label
)
SELECT d.vec_id, d.label, d.d2,
       ROUND((d.d2 - m.sx / m.n)
         / SQRT((m.sxx - m.sx * m.sx / m.n) / (m.n - 1)), 9) AS zscore
FROM dist d JOIN m ON d.label = m.label
WHERE m.n >= 2
  AND ABS(ROUND((d.d2 - m.sx / m.n)
          / SQRT((m.sxx - m.sx * m.sx / m.n) / (m.n - 1)), 9)) > 2.0
"""


@query(
    "embedding_outliers",
    oracle=_OUTLIER_ORACLE,
    tags=("similarity", "pipeline", "outlier"),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: vectors whose squared distance to
    their label centroid sits >2σ from the label's distance distribution —
    the curation gate that catches mislabeled or corrupted embeddings
    before they enter training (the embedding-space twin of
    `events_anomaly_zscore`).

    Determinism: components quantize to 1e-6 fixed point, so the centroid
    is an exact integer sum and the squared distance Σ(xq·n − Σxq)² is an
    exact DECIMAL(38) integer per vector — order-independent at any
    parallelism — with ONE final conversion to double (÷ n²·1e12, rounded
    9 dp).  Distance moments then follow the exprs.py discipline (exact
    decimal Σx/Σx², 9 dp z-scores), so the 2σ membership test is
    bit-stable and DuckDB replays every term.

    Scale: explode is a narrow 64× row multiply fused into the scan; the
    plan is two keyed aggregations (label×pos centroids, per-vector fold)
    + a broadcast of the per-label stats — no detail-row shuffle beyond
    the fold's vec_id key."""
    ex = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", F.posexplode(_dbl("embedding")).alias("pos", "x"))
        .select(
            "vec_id",
            "label",
            (F.col("pos") + 1).alias("pos"),  # 1-based like generate_subscripts
            F.floor(F.col("x") * 1000000.0).cast("long").alias("xq"),
        )
    )
    cent = ex.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xq").alias("sumq")
    )
    diff = (
        (F.col("xq") * F.col("n") - F.col("sumq")).cast("decimal(20,0)")
    )
    dist = (
        ex.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(diff * diff).alias("d2q"),
            F.max("n").alias("n_members"),
        )
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("d2q").cast("double")
                / (
                    F.col("n_members").cast("double")
                    * F.col("n_members").cast("double")
                    * F.lit(1e12)
                ),
                9,
            ).alias("d2"),
        )
    )
    dd = F.col("d2").cast("decimal(18,9)")
    m = dist.groupBy("label").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dd).cast("double").alias("sx"),
        F.sum(dd * dd).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    z = F.round(
        (F.col("d2") - sx / n) / F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))), 9
    )
    return (
        dist.join(F.broadcast(m), "label")
        .filter((n >= 2) & (F.abs(z) > 2.0))
        .select("vec_id", "label", "d2", z.alias("zscore"))
    )
