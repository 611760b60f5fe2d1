"""End-to-end corpus curation: the north-star training-data pipeline as
ONE composable query — quality gates → language filter → exact dedup.

Each stage reuses the already-oracle-checked building blocks
(functions/text.py quality + lang-ID expressions, pipeline/dedup.py
normalization), demonstrating that the pipeline operators compose without
materialization: the whole thing is a single Catalyst plan with one
shuffle (the dedup window on the 32-char fingerprint).

At 100 TB: the gates are scan-side column expressions (pushed into the
same stage as the parquet read), so the shuffle only carries documents
that survived filtering; the window-min dedup shuffles a hash key, never
the document text beyond this stage's projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.cache import tie_unpersist
from impala_avx2_parquet_scanner_spark.catalog import (
    pin_above_spread,
    spread_table,
    table,
)
from impala_avx2_parquet_scanner_spark.functions.text import (
    _lang_sql_score,
    lang_id,
    token_count,
)
from impala_avx2_parquet_scanner_spark.pipeline.dedup import normalize_text
from impala_avx2_parquet_scanner_spark.registry import query

_CURATE_ORACLE = f"""
SELECT doc_id, text_key, n_tokens
FROM (
  SELECT doc_id,
         MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]+', ' ', 'g'))) AS text_key,
         CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
  FROM (
    SELECT doc_id, text,
           {_lang_sql_score('en')} AS en,
           {_lang_sql_score('es')} AS es,
           {_lang_sql_score('fr')} AS fr,
           {_lang_sql_score('de')} AS de
    FROM documents
    WHERE LENGTH(text) BETWEEN 100 AND 20000
      AND LEN(regexp_extract_all(text, '[A-Za-z0-9]+')) >= 20
  ) scored
  WHERE en >= es AND en >= fr AND en >= de AND en > 0
) gated
QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text_key)
"""


@query("pipeline_curate", oracle=_CURATE_ORACLE, tags=("pipeline", "dedup", "text"))
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate → English-only → exact-dedup curation pipeline.

    Stage fusion is the point: filters and scoring are narrow column
    expressions fused into the scan stage; the only shuffle is the
    window-min over the normalized-text fingerprint (dedup keep-first)."""
    t = F.col("text")
    # spread_table: guide §2.5 — the gate/lang-ID/md5 regex CPU is fused
    # into the scan stage, so a one-small-file table runs it all in ONE
    # task (measured 3.4 s single-task at sf0.1).  No-op once splits ≥
    # cores, i.e. at any real scale.
    #
    # Gate placement: Catalyst pushes every DETERMINISTIC conjunct
    # through the spread repartition back into the single-split scan task
    # (stage profile: the whole 12-regex lang-ID tree ran below the
    # exchange, serialized on one core; conjunct order does not matter —
    # the push splits conjunctions).  The cheap length/token gates are
    # LEFT pushable (they shrink the exchange), while the lang-ID gate is
    # entangled with a nondeterministic tautology — when(partition_id >=
    # 0, lang) is lang on every row but unsplittable and unpushable — so
    # the regex CPU lands after the spread, on every core.  (A standalone
    # `rand(s) > -1` conjunct does NOT work: Spark 4.1 constant-folds
    # Rand range comparisons, and a separate nondeterministic conjunct
    # leaves the deterministic ones pushable.)  When spread is a no-op
    # (splits ≥ cores) there is no exchange and the pin is stage-inert.
    gated = (
        spread_table(spark, sf_dir, "documents", "doc_id")
        .filter(F.length(t).between(100, 20000) & (token_count(t) >= 20))
        .filter(
            pin_above_spread(lang_id(t)) == "en"
        )
        .select(
            "doc_id",
            F.md5(normalize_text(t)).alias("text_key"),
            token_count(t).alias("n_tokens"),
        )
    )
    keep = F.min("doc_id").over(W.partitionBy("text_key"))
    return (
        gated.withColumn("keep_id", keep)
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "text_key", "n_tokens")
    )


EVAL_MAX_DOC = 20  # doc_id < 20 plays the held-out benchmark set
CONTAIN_THRESHOLD = 0.5

_DECONTAM_ORACLE = f"""
WITH tokens AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(regexp_replace(
             text, '[^A-Za-z0-9]+', ' ', 'g')), ' +', ' ', 'g')), ' '),
                     t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in range(1, greatest(len(toks) - 1, 1))]) AS shs
  FROM tokens WHERE len(toks) >= 3
),
eval_sh AS (
  SELECT DISTINCT UNNEST(shs) AS s FROM sh WHERE doc_id < {EVAL_MAX_DOC}
),
train AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh WHERE doc_id >= {EVAL_MAX_DOC}
),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_shared
  FROM train t JOIN eval_sh e ON t.s = e.s
  GROUP BY t.doc_id
)
SELECT tot.doc_id, tot.n_shingles,
       COALESCE(hits.n_shared, 0) AS n_shared,
       CAST(COALESCE(hits.n_shared, 0) AS DOUBLE)
         / CAST(tot.n_shingles AS DOUBLE) AS containment,
       CAST(COALESCE(hits.n_shared, 0) AS DOUBLE)
         / CAST(tot.n_shingles AS DOUBLE) >= {CONTAIN_THRESHOLD}
         AS contaminated
FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
"""


@query("decontaminate_overlap", oracle=_DECONTAM_ORACLE, tags=("pipeline", "dedup", "text"))
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its 3-word shingles that also appear in a held-out evaluation set
    (docs with doc_id < EVAL_MAX_DOC stand in for the benchmark corpus).
    containment ≥ 0.5 flags the document for removal.

    The scale shape: the eval shingle set is DISTINCT'd and broadcast
    (benchmarks are small — MBs against a 100 TB corpus), so the check
    is a broadcast semi-probe fused into the training-side scan; the only
    wide shuffle is the per-document count.  This is the cross-corpus
    variant of `dedup_ngram_jaccard` (containment, not symmetric
    Jaccard — the right asymmetry when one side is tiny).

    Shingles come from the codegen path (`exploded_shingles`, posexplode
    + lead) — the interpreted array-HOF form cost ~8x on this query; one
    persisted explode pass feeds both the eval set and the train side."""
    from impala_avx2_parquet_scanner_spark.pipeline.dedup import exploded_shingles

    sh_all = exploded_shingles(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).persist()
    eval_sh = (
        sh_all.filter(F.col("doc_id") < EVAL_MAX_DOC).select("s").distinct()
    )
    train = sh_all.filter(F.col("doc_id") >= EVAL_MAX_DOC)
    tot = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = train.join(F.broadcast(eval_sh), "s").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    out = tot.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
    )
    containment = F.col("n_shared").cast("double") / F.col("n_shingles").cast("double")
    result = out.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        containment.alias("containment"),
        (containment >= CONTAIN_THRESHOLD).alias("contaminated"),
    )
    return tie_unpersist(result, sh_all)
