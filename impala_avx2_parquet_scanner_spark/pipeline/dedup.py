"""Deduplication operators over `documents` — the training-data pipeline
surface (north star; beyond the reference slice).

Scale design notes (100 TB):
* exact dedup — hash-groupBy on a fingerprint, one shuffle, map-side
  combinable.
* MinHash-LSH — per-doc signature computation is embarrassingly parallel;
  the only shuffle is the band-bucket self-join, whose fan-out is bounded
  by bucket size (skew-guarded via AQE).  Candidate verification re-joins
  shingle sets only for candidate pairs.
* All hashes are MD5-derived (deterministic, seedable via prefix), never
  `hash()`/`xxhash64` — portable across engines, so the DuckDB oracle can
  replay the whole pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.cache import tie_unpersist
from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.pyworker import trims
from impala_avx2_parquet_scanner_spark.registry import query

#: MinHash parameters: K hash functions in B bands of R rows each.
MINHASH_K = 12
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.5


def h64(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of MD5 as a bigint.
    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


_SQL_H64 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def normalize_text(col: Column) -> Column:
    return F.lower(F.regexp_replace(col, r"[^A-Za-z0-9]+", " "))


def shingles(col: Column, k: int = SHINGLE_WORDS) -> Column:
    """Distinct k-word shingles of the normalized text (array<string>).

    HOT-PATH WARNING: ``transform(sequence(...), lambda)`` evaluates its
    lambda INTERPRETED and re-evaluates the embedded tokenize subtree per
    element (measured 40x vs codegen, MICROBENCH.md) — query plans must
    use :func:`exploded_shingles` instead.  This column form is kept only
    for per-row contexts where an array value is genuinely required."""
    tokens = F.filter(F.split(F.trim(normalize_text(col)), " "), lambda t: t != F.lit(""))
    idx = F.sequence(F.lit(1), F.size(tokens) - (k - 1))
    # guard: sequence(1, n) with n < 1 yields a DESCENDING array, not empty
    return F.when(
        F.size(tokens) >= k,
        F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, k)))),
    ).otherwise(F.array().cast("array<string>"))


def exploded_shingles(docs: DataFrame, k: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, s): one row per DISTINCT k-word shingle per document —
    value-identical to ``explode(shingles(text))`` but built entirely on
    the whole-stage-codegen path (posexplode + ``lead`` window, the
    minhash_signatures trick): the interpreted array-HOF form re-evaluates
    the tokenize subtree per array element and made dedup_containment the
    one super-linear SCALING row before its round-4 rewrite.  The window's
    doc_id shuffle also spreads the regex+hash CPU across the cluster
    regardless of input file count."""
    toks = F.filter(
        F.split(F.trim(normalize_text(F.col("text"))), " "),
        lambda t: t != F.lit(""),
    )
    tp = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    nexts = [F.lead("tok", i).over(w) for i in range(1, k)]
    return (
        tp.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), *nexts).alias("s"),
            nexts[-1].alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())  # complete k-grams only
        .select("doc_id", "s")
        .distinct()
    )


@query(
    "dedup_exact",
    oracle="""
SELECT MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]+', ' ', 'g'))) AS text_key,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
    tags=("dedup", "pipeline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint: keep lowest doc_id.
    One hash-shuffle on a 32-char key, independent of document size."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(normalize_text(F.col("text"))).alias("text_key"), "doc_id")
        .groupBy("text_key")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


#: Universal-hash MinHash: each shingle is md5-hashed ONCE (the expensive
#: step), then the K per-function values derive by cheap integer mixing
#: h_j(s) = (a_j * h(s) + b_j) mod p over the Mersenne prime 2^31-1.
#: Operands stay < 2^31 so products stay < 2^62 — no bigint overflow in
#: either engine, and DuckDB replays the arithmetic bit-for-bit.  This is
#: the standard Carter-Wegman construction and cuts the md5 count from
#: K per shingle to 1.
MINHASH_PRIME = 2147483647


def mh_coeffs(j: int) -> tuple[int, int]:
    """Fixed (a_j, b_j) mixing coefficients for hash function j.

    a_j must be LARGE and structureless: with small multipliers
    (a*h) mod p partially preserves the order of h, every function picks
    the same argmin shingle, the K signature slots correlate, and LSH
    buckets blow up (observed: 10x candidate pairs).  Knuth's golden-ratio
    multiplier iterated mod p gives full-width, well-mixed constants."""
    a = (2654435761 * (j + 1)) % MINHASH_PRIME
    b = (2246822519 * j + 326648991) % MINHASH_PRIME
    return (a if a > 0 else 1), b


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m{K-1}) min-hash signature columns.

    Shingles are built WITHOUT array higher-order functions:
    ``transform(sequence(...), lambda)`` evaluates its lambda interpreted
    (outside codegen) and measured ~50x slower than the whole rest of the
    pipeline, so the k-gram windows come from posexplode + ``lead`` over
    (doc_id, pos) instead — every step whole-stage-codegen.  Duplicate
    shingles are NOT removed: MIN over a multiset equals MIN over its
    set, so signatures match the oracle's list_distinct formulation
    exactly while skipping a per-doc distinct.

    The window's doc_id shuffle doubles as the parallelism fix: scan
    parallelism follows file splits, so a corpus packed into few files
    would otherwise run the regex+hash stage on few cores.

    groupBy-min is map-side combinable — each partition collapses to one
    row per doc before the final shuffle."""
    toks = F.filter(
        F.split(F.trim(normalize_text(F.col("text"))), " "),
        lambda t: t != F.lit(""),
    )
    tp = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    nexts = [F.lead("tok", i).over(w) for i in range(1, SHINGLE_WORDS)]
    ex = (
        tp.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), *nexts).alias("s"),
            nexts[-1].alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())  # complete k-grams only
    )
    base = ex.select(
        "doc_id",
        (h64(F.concat(F.lit("mh:"), F.col("s"))) % MINHASH_PRIME).alias("hb"),
    )
    mixed = []
    for j in range(MINHASH_K):
        a, b = mh_coeffs(j)
        mixed.append(
            F.min((F.col("hb") * F.lit(a) + F.lit(b)) % MINHASH_PRIME).alias(f"m{j}")
        )
    return base.groupBy("doc_id").agg(*mixed)


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key) — LSH bucket keys, MINHASH_BANDS rows/doc."""
    sig = minhash_signatures(table(spark, sf_dir, "documents"))
    # One row per (doc, band) via a single explode — a per-band UNION
    # would recompute the whole signature pipeline (scan, shingle,
    # K hashes, groupBy-min) once per band.
    band_structs = []
    for b in range(MINHASH_BANDS):
        lo = b * MINHASH_ROWS
        key = F.md5(
            F.concat_ws(
                ",", *[F.col(f"m{lo + r}").cast("string") for r in range(MINHASH_ROWS)]
            )
        )
        band_structs.append(
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_key")


def _minhash_parts() -> tuple[str, str]:
    """(CTE list, final SELECT) for the DuckDB replay of the exact same
    MinHash-LSH pipeline — split so dedup_clusters can extend it with a
    recursive connected-components closure."""
    shingle_cte = """
tokens AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')), ' +', ' ', 'g')), ' '), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks) - 1, 1))]) AS shs
  FROM tokens WHERE len(toks) >= 3
)"""
    sig_terms = ",\n         ".join(
        "list_min([(h * {a} + {b}) % {p} for h in hs]) AS m{j}".format(
            a=mh_coeffs(j)[0], b=mh_coeffs(j)[1], p=MINHASH_PRIME, j=j
        )
        for j in range(MINHASH_K)
    )
    band_rows = []
    for b in range(MINHASH_BANDS):
        cols = " || ',' || ".join(
            f"CAST(m{b * MINHASH_ROWS + r} AS VARCHAR)" for r in range(MINHASH_ROWS)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM sig")
    bands_sql = "\nUNION ALL\n".join(band_rows)
    base_hash = _SQL_H64.format(x="'mh:' || s")
    ctes = f"""{shingle_cte},
hs AS (
  SELECT doc_id, [{base_hash} % {MINHASH_PRIME} for s in shs] AS hs
  FROM sh
),
sig AS (
  SELECT doc_id,
         {sig_terms}
  FROM hs
),
bands AS (
{bands_sql}
)"""
    select = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(DISTINCT a.band) AS n_shared_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""
    return ctes, select


def _minhash_oracle() -> str:
    """DuckDB replay of the exact same MinHash-LSH pipeline."""
    ctes, select = _minhash_parts()
    return f"\nWITH {ctes}{select}"


@query("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "minhash", "pipeline"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs: shingle → K min-hashes →
    band buckets → per-bucket pair explosion.  Docs sharing any band's
    full signature slice become candidates (doc_a < doc_b).

    Round-11 rewrite (guide §2.4, the containment/winnowing trick): the
    bucket IS the pair generator — one (band, band_key)-keyed exchange
    builds each bucket's sorted doc list and pairs explode from the list
    in place, replacing the round-9 bucket SELF-JOIN (which exchanged
    and sorted the bands table twice and shuffled the joined pairs a
    third time).  A pair can share at most one bucket per band (a doc
    has exactly one band_key per band), so `count(1)` over exploded
    pairs equals the old `countDistinct(band)` exactly — and the count
    is map-side combinable where the self-join's distinct was not.

    Scale note: bucket sizes are data-dependent (no df-cap in these
    semantics, unlike containment/winnowing); candidate output is
    Θ(Σ bucket²) under EITHER plan, but a boilerplate mega-bucket runs
    single-task here where the old sort-merge join could be AQE
    skew-split.  Measured at sf0.1 the buckets are tiny (max 4 docs,
    avg 1.05, 19k buckets) and production LSH caps buckets upstream;
    if this operator ever feeds uncapped web-scale data, cap or chunk
    the lists the way dedup_containment does."""
    bands = minhash_bands(spark, sf_dir)
    lists = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select("docs")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("docs"),
                lambda a, i: F.transform(
                    F.slice(F.col("docs"), i + F.lit(2), F.size("docs") - i - 1),
                    lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                ),
            )
        )
    )
    return (
        lists.select(pair.alias("pair"))
        .select("pair.doc_a", "pair.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


_NGRAM_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks) - 1, 1))]) AS shs
  FROM (
    SELECT doc_id,
           list_filter(string_split(trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')), ' +', ' ', 'g')), ' '), t -> t <> '') AS toks
    FROM documents WHERE doc_id < 120
  ) t WHERE len(toks) >= 3
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shs, b.shs)) AS n_common,
         len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS n_union
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / n_union AS jaccard
FROM pairs
WHERE CAST(n_common AS DOUBLE) / n_union >= 0.02
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tags=("dedup", "pipeline"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity on a bounded doc subset (doc_id <
    120): the verification stage of near-dup detection.  Implemented as
    shingle-explode → pair-count join (never a full cross join): pairs
    sharing no shingle are never materialized.

    Jaccard = |A∩B| / (|A|+|B|-|A∩B|); the division is int/int → double,
    identical in both engines.

    Shingles come from the codegen path (`exploded_shingles`, posexplode
    + lead) — the interpreted array-HOF form cost ~4x on this query.
    The exploded set is persisted once and feeds the size table plus both
    self-join legs."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    exploded = exploded_shingles(d).persist()
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.02)
    )
    return tie_unpersist(out, exploded)


def simhash_fingerprints(d: DataFrame) -> DataFrame:
    """SimHash fingerprints for any (doc_id, text) DataFrame: per-token
    60-bit hash, bitwise majority vote over tokens → one 60-bit
    fingerprint per doc, plus a 16-bit prefix bucket for near-dup
    blocking.  Pure column expressions (explode + groupBy-sum per bit),
    no Python in the hot path."""
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.trim(normalize_text(F.col("text"))), " "),
                    lambda t: t != F.lit(""),
                )
            )
        ).alias("tok"),
    )
    th = toks.select("doc_id", h64(F.col("tok")).alias("h"))
    votes = [
        F.sum(F.shiftright(F.col("h"), bit) % 2).alias(f"v{bit}") for bit in range(60)
    ]
    agg = th.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"), *votes)
    fingerprint = None
    for bit in range(60):
        bit_on = (F.col(f"v{bit}") * 2 > F.col("n_tok")).cast("bigint") * F.lit(2**bit)
        fingerprint = bit_on if fingerprint is None else fingerprint + bit_on
    return agg.select(
        "doc_id",
        fingerprint.alias("simhash"),
        F.shiftright(fingerprint, 44).alias("bucket16"),
    )


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (
    SELECT doc_id,
           UNNEST(string_split(trim(lower(regexp_replace(
               text, '[^A-Za-z0-9]+', ' ', 'g'))), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, b.bit, SUM((h >> b.bit) % 2) AS v, COUNT(*) AS n_tok
  FROM th CROSS JOIN (SELECT UNNEST(generate_series(0, 59)) AS bit) b
  GROUP BY doc_id, b.bit
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v * 2 > n_tok
                       THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT doc_id, simhash, simhash >> 44 AS bucket16 FROM fp
"""


@query(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup", "simhash", "pipeline"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints over the documents corpus (see
    simhash_fingerprints).  The oracle replays the full bitwise majority
    vote in SQL: per-token h64 hashes cross-joined with a 0..59 bit
    series, votes summed per (doc, bit), then the fingerprint rebuilt as
    a sum of set-bit powers — so the 60-bit fingerprints (not just row
    counts) are verified.

    Round-11 (§2.5): the corpus spreads before the tokenize+explode —
    the regex/split/distinct CPU was fused into the one-small-file scan
    task; no-op once splits ≥ cores.  The per-bit vote sums are
    map-side combinable, so the spread adds no post-explode bytes."""
    from impala_avx2_parquet_scanner_spark.catalog import spread_table

    return simhash_fingerprints(
        spread_table(spark, sf_dir, "documents", "doc_id")
    )


_FUZZY_ORACLE = """
WITH d AS (
  SELECT doc_id,
         substr(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')), 1, 40) AS k,
         substr(text, 1, 80) AS p
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
FROM d a JOIN d b ON a.k = b.k AND a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 20
"""


@query("dedup_fuzzy_verify", oracle=_FUZZY_ORACLE, tags=("dedup", "pipeline"))
def dedup_fuzzy_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of near-duplicate candidates: bucket by
    normalized 40-char prefix (the blocking key), then confirm with
    Levenshtein ≤ 20 on the raw 80-char prefixes.

    The block-then-verify shape every fuzzy-dedup pipeline uses: the
    O(n²) distance computation only runs inside buckets (the equi-join
    is a plain hash join on the blocking key), and prefixes bound the
    per-pair cost to O(80²) regardless of document size.  Tighter blocks
    (longer prefix, or MinHash bands — dedup_minhash_lsh) trade recall
    for candidate count as the corpus grows."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, 40).alias("k"),
        F.substring(F.col("text"), 1, 80).alias("p"),
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("k").alias("k_a"), F.col("p").alias("p_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("k").alias("k_b"), F.col("p").alias("p_b"))
    return (
        a.join(b, (F.col("k_a") == F.col("k_b")) & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("p_a", "p_b").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 20)
    )


#: Exact-substring span dedup (Lee et al. 2022, "Deduplicating Training
#: Data Makes Language Models Better" — the ExactSubstr variant, public):
#: 64-char windows at stride 32 over normalized text; a window appearing
#: in ≥2 documents marks both as carrying duplicated spans.
SPAN_LEN = 64
SPAN_STRIDE = 32
SPAN_FLAG_PPM = 500_000  # flag docs with ≥ half their spans shared

_SPANS_ORACLE = f"""
WITH norm AS (
  SELECT doc_id,
         TRIM(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]+', ' ', 'g'))) AS t
  FROM documents
),
eligible AS (SELECT * FROM norm WHERE LEN(t) >= {SPAN_LEN}),
offs AS (
  SELECT doc_id, t,
         UNNEST(range(0, (LEN(t) - {SPAN_LEN}) // {SPAN_STRIDE} + 1)) AS i
  FROM eligible
),
spans AS (
  SELECT DISTINCT doc_id,
         {_SQL_H64.format(x=f"substr(t, CAST(i*{SPAN_STRIDE} + 1 AS INTEGER), {SPAN_LEN})")} AS h
  FROM offs
),
per_h AS (SELECT h, COUNT(*) AS n_docs FROM spans GROUP BY h),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN p.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM spans s JOIN per_h p USING (h)
  GROUP BY s.doc_id
)
SELECT doc_id, n_spans, n_shared,
       (n_shared * 1000000) // n_spans AS shared_ppm,
       (n_shared * 1000000) // n_spans >= {SPAN_FLAG_PPM} AS flagged
FROM per_doc
"""


@query("dedup_repeated_spans", oracle=_SPANS_ORACLE, tags=("dedup", "pipeline"))
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup: fraction of each document's 64-char
    windows (stride 32, normalized text) that also occur verbatim in
    another document — catches boilerplate/templated passages that
    whole-document MinHash misses because the rest of the page differs.

    Two keyed shuffles, both on the span hash: (1) groupBy(h) counts
    carrier docs per span (map-side combinable), (2) the span table joins
    that count back and rolls up per doc.  Span hashes are 8-byte ints —
    the shuffled payload never contains text, so volume is
    ~len(corpus)/stride × 16 bytes regardless of document sizes.  At
    100 TB the per-span doc count would cap at 2 (shared / not-shared is
    all the rollup needs), turning the hot groupBy into a near-boolean
    partial aggregate."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.trim(normalize_text(F.col("text"))).alias("t"))
        .filter(F.length("t") >= SPAN_LEN)
    )
    spans = (
        d.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.expr(f"(length(t) - {SPAN_LEN}) div {SPAN_STRIDE}"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            h64(F.expr(f"substr(t, i*{SPAN_STRIDE} + 1, {SPAN_LEN})")).alias("h"),
        )
        .distinct()
    )
    per_h = spans.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        spans.join(per_h, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
    )
    shared_ppm = F.expr("(n_shared * 1000000) div n_spans")
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_shared",
        shared_ppm.alias("shared_ppm"),
        (shared_ppm >= SPAN_FLAG_PPM).alias("flagged"),
    )


#: Winnowing (Schleimer et al., SIGMOD 2003) parameters: character k-grams
#: of the normalized text, guarantee window w, per-fingerprint document cap
#: (drops boilerplate grams the way LSH drops mega-buckets), and the
#: shared-fingerprint count that promotes a pair to near-dup.
WINNOW_K = 16
WINNOW_W = 8
WINNOW_PREFIX = 192
WINNOW_DOC_CAP = 20
WINNOW_SHARED_MIN = 6

_WINNOW_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         substr(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')),
                1, {WINNOW_PREFIX}) AS t
  FROM documents
), pos AS (
  SELECT doc_id, t, unnest(range(1, length(t) - {WINNOW_K} + 2)) AS p
  FROM d WHERE length(t) >= {WINNOW_K}
), g AS (
  SELECT doc_id, p,
    list_reduce(list_prepend(CAST(7 AS BIGINT),
      [CAST(ascii(c) AS BIGINT)
       for c in string_split(substr(t, CAST(p AS INT), {WINNOW_K}), '')]),
      (a, b) -> (a * 31 + b) % 2147483647) AS h
  FROM pos
), wsel AS (
  SELECT doc_id, p,
    MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS fp
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wsel WHERE p >= {WINNOW_W}
), rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {WINNOW_DOC_CAP}
), kept AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_SHARED_MIN}
"""


@trims
def _winnow_fingerprints(batches):
    """mapInPandas kernel: (doc_id, t) → per-doc DISTINCT winnowing
    fingerprints (doc_id, fp).

    Bit-identical to the previous in-plan expression chain
    (test_winnow_vectorized pins it): the sequential gram fold
    ``acc = (acc*31 + c) % (2^31-1)`` equals the dot product
    ``(codes·31^(K-1-i) + 7·31^K) mod M`` because mod is
    congruence-preserving, and intermediate dot products stay < 2^43,
    well inside int64.  The w-window MIN and the p ≥ w positional cut
    are numpy sliding windows over the same 1-based gram positions.
    """
    import numpy as np
    import pandas as pd

    MOD = 2147483647
    weights = np.array(
        [pow(31, WINNOW_K - 1 - i, MOD) for i in range(WINNOW_K)], dtype=np.int64
    )
    seed_term = (7 * pow(31, WINNOW_K, MOD)) % MOD
    sw = np.lib.stride_tricks.sliding_window_view
    for pdf in batches:
        ids, fps = [], []
        for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
            codes = np.frombuffer(t.encode("ascii"), dtype=np.uint8).astype(np.int64)
            if codes.size - (WINNOW_K - 1) < WINNOW_W:
                continue
            h = (sw(codes, WINNOW_K) @ weights + seed_term) % MOD
            u = np.unique(sw(h, WINNOW_W).min(axis=1))
            ids.append(np.full(u.size, doc_id, dtype=np.int64))
            fps.append(u)
        if ids:
            yield pd.DataFrame(
                {"doc_id": np.concatenate(ids), "fp": np.concatenate(fps)}
            )
        else:
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "fp": pd.Series([], dtype="int64"),
                }
            )


@query("dedup_winnowing", oracle=_WINNOW_ORACLE, tags=("dedup", "pipeline", "fingerprint"))
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup detection (MOSS fingerprinting, Schleimer et al.
    2003): rolling k-gram hashes over the normalized text, keep the MIN
    hash of each sliding w-window as a fingerprint (any shared substring
    of length ≥ w+k-1 is guaranteed to share a fingerprint), then pair
    documents by shared fingerprints.  Complements MinHash (set-overlap)
    with *contiguous-match* detection at ~2/(w+1) of the rolling-hash
    footprint.

    Scale design (round-10 rewrite, guide §4.2): normalization stays a
    JVM expression at the scan; gram hashing, the w-window MIN, and the
    per-doc fingerprint dedup all run VECTORIZED inside one Arrow batch
    per scan task (`_winnow_fingerprints` — numpy sliding windows), so
    the per-gram rows, the interpreted array-HOF hash fold, and the
    doc_id window exchange of the old plan no longer exist.  Only the
    (doc_id, fp) pairs leave the task.  The corpus-level work is one
    fp-keyed shuffle building per-fingerprint doc lists (bounded: groups
    above the 20-doc frequency cap are dropped like LSH mega-buckets, so
    lists hold ≤20 ids and pair fan-out is ≤ cap²/2) plus the pair-count
    aggregation.  Documents are scanned exactly once — no self-join, no
    broadcast of corpus-sized state.  Same base-31 mod-2^31-1 integer
    hash as `text_rolling_hash`, replayed term-for-term by the oracle
    (and pinned bit-for-bit against the old expression chain by
    test_winnow_vectorized)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, WINNOW_PREFIX).alias("t"),
    ).filter(F.length("t") >= WINNOW_K)
    fps = d.mapInPandas(_winnow_fingerprints, "doc_id bigint, fp bigint")
    # One fp-keyed shuffle replaces the rare-filter join + self-join: the
    # per-fingerprint doc list is capped at WINNOW_DOC_CAP elements, so
    # collect_list is bounded and pair fan-out is ≤ cap²/2 per fingerprint.
    # (The distinct above adds no exchange: the window's doc_id partitioning
    # satisfies the (doc_id, fp) grouping, so documents are scanned ONCE.)
    doc_lists = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs").between(2, WINNOW_DOC_CAP))
    )
    pairs = F.explode(
        F.flatten(
            F.transform(
                F.col("docs"),
                lambda a, i: F.transform(
                    F.slice(
                        F.col("docs"), i + F.lit(2), F.size("docs") - i - 1
                    ),
                    lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                ),
            )
        )
    )
    return (
        doc_lists.select(pairs.alias("pair"))
        .select("pair.doc_a", "pair.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_SHARED_MIN)
    )


_INCREMENTAL_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
         MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]+', ' ', 'g'))) AS text_key
  FROM documents
),
cut AS (SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS cut_id FROM keyed),
existing AS (
  SELECT text_key, MIN(doc_id) AS dup_of_existing
  FROM keyed, cut WHERE doc_id <= cut_id GROUP BY text_key
),
incoming AS (
  SELECT doc_id, text_key,
         MIN(doc_id) OVER (PARTITION BY text_key) AS first_incoming
  FROM keyed, cut WHERE doc_id > cut_id
)
SELECT i.doc_id, i.text_key,
       e.dup_of_existing,
       CASE WHEN i.first_incoming < i.doc_id THEN i.first_incoming END
         AS dup_within_incoming,
       (e.dup_of_existing IS NULL AND i.first_incoming = i.doc_id) AS keep
FROM incoming i LEFT JOIN existing e USING (text_key)
"""


@query("dedup_incremental", oracle=_INCREMENTAL_ORACLE, tags=("dedup", "pipeline"))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new batch checked against the EXISTING corpus
    and against itself — the daily-crawl shape (ingest N docs/day into a
    100 TB historical store; re-dedup-ing the union from scratch every day
    is the anti-pattern this operator replaces).

    The corpus is split in-plan at max(doc_id)/2 (a 1-row broadcast; the
    fixture's stand-in for yesterday's snapshot vs today's batch).  The
    historical side collapses to (text_key → first doc_id) — one
    map-side-combinable shuffle — and the batch left-joins that key set:
    `dup_of_existing` marks cross-snapshot dups, a per-key window-min
    inside the batch marks `dup_within_incoming`, and `keep` is the
    batch's survivor set.

    Scale: the historical key table is ~32 bytes/doc and in production is
    pre-materialized + bucketed on text_key (sources/parquet_io), so the
    daily join co-locates without reshuffling history; Spark's bloom
    runtime filter prunes the batch scan besides.  Work per day is
    O(batch + matched keys), never O(corpus)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("text_key")
    )
    cut = d.agg((F.max("doc_id") / 2).cast("long").alias("cut_id"))
    keyed = d.crossJoin(F.broadcast(cut))
    existing = (
        keyed.filter(F.col("doc_id") <= F.col("cut_id"))
        .groupBy("text_key")
        .agg(F.min("doc_id").alias("dup_of_existing"))
    )
    incoming = keyed.filter(F.col("doc_id") > F.col("cut_id")).withColumn(
        "first_incoming", F.min("doc_id").over(W.partitionBy("text_key"))
    )
    return (
        incoming.join(existing, "text_key", "left")
        .select(
            "doc_id",
            "text_key",
            "dup_of_existing",
            F.when(
                F.col("first_incoming") < F.col("doc_id"), F.col("first_incoming")
            ).alias("dup_within_incoming"),
            (
                F.col("dup_of_existing").isNull()
                & (F.col("first_incoming") == F.col("doc_id"))
            ).alias("keep"),
        )
    )


#: Containment: shingles appearing in more than this many docs are
#: boilerplate — excluded from BOTH the candidate index and the score
#: (df-capped containment), which caps inverted-index fan-out at
#: CONTAIN_DF_CAP per shingle.
CONTAIN_DF_CAP = 20
CONTAIN_MIN = 0.6

_CONTAIN_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest(shs) AS s
  FROM (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1))]) AS shs
    FROM (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')), ' +', ' ', 'g')), ' '), t -> t <> '') AS toks
      FROM documents
    ) t WHERE len(toks) >= 3
  )
),
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)
         WHERE df.df <= {CONTAIN_DF_CAP}),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rare
          FROM rare GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT c.doc_a, c.doc_b, c.n_common,
         CAST(c.n_common AS DOUBLE) / LEAST(sa.n_rare, sb.n_rare) AS containment
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
) WHERE containment >= {CONTAIN_MIN}
"""


@query("dedup_containment", oracle=_CONTAIN_ORACLE, tags=("dedup", "pipeline"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder 1997's other resemblance
    measure): C = |A∩B| / min(|A|,|B|) — catches doc-inside-doc
    relationships (a post quoting another, boilerplate-wrapped copies)
    that symmetric Jaccard dilutes below threshold when sizes differ.

    Runs on the FULL corpus (unlike the bounded `dedup_ngram_jaccard`
    verify stage) via a document-frequency-capped inverted index:
    shingles in more than {CONTAIN_DF_CAP} docs are boilerplate and are
    dropped from both the index and the score, which (a) makes the
    measure deliberately boilerplate-insensitive and (b) caps the
    per-shingle pair fan-out at df^2 <= {CONTAIN_DF_CAP}^2 — candidate
    work is O(sum_over_rare_shingles df^2), linear-ish in the corpus,
    never all-pairs.  The same cap discipline as winnowing's
    WINNOW_DOC_CAP.  Division is int/int -> binary64, identical in both
    engines; DuckDB replays tokenize -> trigram shingles -> df cap ->
    inverted-index pair counts -> containment verbatim.

    Round-10 rewrite (guide §2.4): the inverted index IS the pair
    generator — one s-keyed shuffle builds the capped per-shingle doc
    list, pairs explode from each list in place (winnowing's own
    bounded-fan-out trick), and per-doc rare-shingle sizes fold from
    the same lists.  The old plan re-shuffled the persisted rare index
    on s for BOTH legs of a self-join and once more on doc_id for
    sizes; this one exchanges the corpus-sized data once."""
    d = table(spark, sf_dir, "documents")
    # Shingles come from the codegen path (posexplode + lead window, the
    # minhash_signatures trick), NOT the array-HOF `shingles()` helper:
    # `transform(sequence, lambda)` re-evaluates the embedded tokenize
    # subtree per element interpreted, which made THIS query the one
    # super-linear row in SCALING.md (40.9 s in the shingle stage alone
    # at sf0.1; 0.9 s on this path).  `.distinct()` replaces
    # array_distinct — containment counts each shared shingle once per
    # doc pair.
    toks = F.filter(
        F.split(F.trim(normalize_text(F.col("text"))), " "),
        lambda t: t != F.lit(""),
    )
    tp = d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    nexts = [F.lead("tok", i).over(w) for i in range(1, SHINGLE_WORDS)]
    sh = (
        tp.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), *nexts).alias("s"),
            nexts[-1].alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .select("doc_id", "s")
        .distinct()
    )
    # ONE s-keyed exchange: per-shingle doc lists, boilerplate (df > cap)
    # dropped.  Lists are ≤ CONTAIN_DF_CAP elements, so the in-place pair
    # explosion below is bounded at cap²/2 rows per shingle.  persist:
    # lists feed both the pair counts and the per-doc sizes.
    lists = (
        sh.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= CONTAIN_DF_CAP)
        .select("docs")
        .persist()
    )
    # sizes feeds BOTH the sa and sb attach legs; unpersisted, each leg
    # replans the explode+groupBy over the lists cache and the build runs
    # twice (stage profile: twin 32-task stages, 2.6 MB cache in → 1.1 MB
    # shuffle out each).  One row per doc — dimension-sized at any scale.
    # Interleaved A/B at sf0.1: min 2.71 → 2.47 s, new wins 4/4 pairs.
    sizes = (
        lists.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_rare"))
        .persist()
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("docs"),
                lambda a, i: F.transform(
                    F.slice(F.col("docs"), i + F.lit(2), F.size("docs") - i - 1),
                    lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                ),
            )
        )
    )
    common = (
        lists.filter(F.size("docs") >= 2)
        .select(pair.alias("pair"))
        .select("pair.doc_a", "pair.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_rare").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_rare").alias("n_b"))
    containment = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_common", containment.alias("containment"))
        .filter(F.col("containment") >= CONTAIN_MIN)
    )
    return tie_unpersist(out, lists, sizes)


EDIT_PREFIX = 48

_EDIT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, source,
         substr(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')),
                1, {EDIT_PREFIX}) AS t
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.t, b.t) AS INTEGER) AS edit_dist,
       1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
           / greatest(length(a.t), length(b.t)) AS edit_sim
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
"""


@query("dedup_edit_distance", oracle=_EDIT_ORACLE, tags=("dedup", "pipeline"))
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification under metadata BLOCKING: pairs
    are generated only within (lang, source) blocks — the classic record-
    linkage move that turns the O(N^2) corpus cross join into
    sum-over-blocks work; at bigger corpora the block key simply grows
    (add a length bucket, a fingerprint band) to hold block sizes
    constant, which changes recall policy but never plan shape.  Within a
    block, Levenshtein distance over the first {EDIT_PREFIX} chars of the
    normalized text scores EVERY candidate pair (emitting all distances
    rather than only sub-threshold ones pins the DP itself on thousands
    of value pairs; a production dedup adds the `edit_dist <= tau`
    filter, which subsets this result without changing the plan).

    Cross-engine trap pinned: DuckDB's levenshtein counts BYTES while
    Spark's counts CHARACTERS — they disagree on any multi-byte
    codepoint ('cafe' vs 'café' is 1 in Spark, 2 in DuckDB).  The
    [^A-Za-z0-9] normalization maps the comparison text into pure ASCII
    first, where the two definitions provably coincide — the oracle
    match certifies exactly that.  The distance itself is the O(len^2)
    dynamic program on a BOUNDED prefix, so per-pair cost is a constant,
    JVM-side (no Python).

    Round-11 (guide §2.5 + §4.4-adjacent codegen trap): two fixes, both
    measured.  (1) The probe side spreads — the block join broadcasts
    the dimension-sized build side, so on a one-small-file corpus the
    whole pair stage ran in the single scan task (8.3 s, 1 task); the
    spread is a no-op once splits ≥ cores.  (2) The normalize+prefix
    projection is computed BELOW the spread exchange: `t` is not a join
    key, so whole-stage codegen DEFERS the projection into the
    broadcast join's match loop and re-evaluates it once per MATCHED
    PAIR — 159 k regex evaluations instead of 5 k (isolated: join
    carrying a regex-derived `t` 6.9 s vs 0.4 s with a cheap `t`; one
    full regex pass over the corpus is 0.3 s).  Materializing `t` in
    the exchange makes the stream-side variable a plain column read,
    and shrinks the shuffle (48-char prefix instead of full text).  At
    real scale (no spread exchange) the blocked join is a sort-merge
    whose sort buffer materializes `t` the same way.  Reference parity:
    string-functions scope (SURVEY §2A #21); blocking policy mirrors
    `dedup_ngram_jaccard`'s bounded verify stage."""
    from impala_avx2_parquet_scanner_spark.catalog import _spread  # df-level spread

    t = F.substring(F.lower(F.regexp_replace("text", r"[^A-Za-z0-9]+", " ")), 1, EDIT_PREFIX)
    base = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", t.alias("t")
    )
    a = _spread(spark, base, "doc_id").alias("a")
    b = base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    lev = F.levenshtein(F.col("a.t"), F.col("b.t"))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.cast("int").alias("edit_dist"),
            (
                F.lit(1.0)
                - lev.cast("double")
                / F.greatest(F.length("a.t"), F.length("b.t"))
            ).alias("edit_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate-segment removal (CCNet-style)
# ---------------------------------------------------------------------------

#: Segment width in tokens — the "paragraph" unit for cross-doc boilerplate
#: counting (CCNet removes duplicated *lines* across shards; this corpus is
#: unpunctuated, so fixed 16-token windows stand in for lines).
BOILER_SEG_W = 16
#: A segment present in >= this many DISTINCT documents is boilerplate.
BOILER_MIN_DOCS = 2

_BOILER_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
seg AS (
  SELECT doc_id, CAST(j AS BIGINT) AS seg_ix,
         array_to_string(
           toks[CAST(j*{BOILER_SEG_W}+1 AS BIGINT):CAST(j*{BOILER_SEG_W}+{BOILER_SEG_W} AS BIGINT)],
           ' ') AS seg_text
  FROM d, LATERAL unnest(range(0, CAST(ceil(len(toks)/{BOILER_SEG_W}.0) AS BIGINT))) AS t(j)
),
c AS (SELECT seg_text, COUNT(DISTINCT doc_id) AS ndocs FROM seg GROUP BY 1)
SELECT seg.doc_id,
       COALESCE(string_agg(CASE WHEN c.ndocs < {BOILER_MIN_DOCS} THEN seg.seg_text END,
                           ' ' ORDER BY seg.seg_ix), '') AS clean_text,
       COUNT(*) FILTER (c.ndocs < {BOILER_MIN_DOCS}) AS n_kept,
       COUNT(*) FILTER (c.ndocs >= {BOILER_MIN_DOCS}) AS n_dropped
FROM seg JOIN c USING (seg_text)
GROUP BY seg.doc_id
"""


@query(
    "dedup_boilerplate_segments",
    oracle=_BOILER_ORACLE,
    tags=("dedup", "text", "pipeline"),
)
def dedup_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (CCNet, Wenzek et al. 2020,
    public): count each fixed-width token segment's distinct-document
    frequency across the WHOLE corpus, drop segments that appear in
    >= BOILER_MIN_DOCS documents (headers/footers/licence blocks — the
    stuff exact- and near-dup dedup both miss because the *documents*
    differ), and re-emit each document's cleaned text in original
    segment order plus kept/dropped counts.

    Plan shape for 100 TB: segmentation is posexplode + integer-division
    grouping (whole-stage codegen, no interpreted HOF over the token
    array — the dedup_containment lesson, MICROBENCH.md); the global
    frequency table is a hash groupBy keyed on the segment text, exactly
    as partition-parallel as the corpus; the segment->count join is
    shuffle-on-segment (both sides already keyed); document rebuild is
    one groupBy(doc_id) with an in-group sort of O(doc segments).  No
    broadcast of anything corpus-sized, no driver-side state, 3 keyed
    shuffles total.  Reference parity: none (no text pipeline in the
    reference) — north-star training-data scope (SURVEY §7 phase 5)."""
    toks = F.split(F.col("text"), " ")
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    seg = (
        t.withColumn("seg_ix", (F.col("pos") / BOILER_SEG_W).cast("long"))
        .groupBy("doc_id", "seg_ix")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("seg_text")
        )
    )
    counts = seg.groupBy("seg_text").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    keep = F.col("ndocs") < BOILER_MIN_DOCS
    flagged = seg.join(counts, "seg_text").select(
        "doc_id",
        "seg_ix",
        F.when(keep, F.col("seg_text")).alias("kept_seg"),
        keep.cast("int").alias("is_kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seg_ix", "kept_seg"))),
                lambda s: s.kept_seg,
            ),
            " ",
        ).alias("clean_text"),
        F.sum("is_kept").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("is_kept")).alias("n_dropped"),
    )
