"""SparkSession construction with the engine's required/tuned configuration.

Two layers of configuration:

* RUNTIME_CONFS — dynamic SQLConfs the engine *requires* for correct
  semantics (UTC session time, parquet pushdown, ns-timestamp handling).
  These are (re)applied to any externally supplied session via
  :func:`ensure_runtime_confs`, because the verification driver builds its
  own ``SparkSession`` and only hands it to us.

* builder-time confs — memory / parallelism tuning used by our own tests
  and bench harness.  On a real cluster these come from spark-submit; the
  values here are sized for ``local[N]``.  Two of them are *static* confs
  that only a new session can take: the generated-class cache size
  (``spark.sql.codegen.cache.maxEntries``, :data:`CODEGEN_CACHE_ENTRIES`)
  and PySpark's per-Column call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled``).  They reach only
  sessions that :func:`get_spark` builds.  A session handed in by the
  verification driver (``__spark_entry__.entry``) keeps Spark's
  100-entry class cache and its call-site capture: Spark refuses a
  static conf on a live session, so :func:`ensure_runtime_confs` cannot
  apply them (it would swallow the error).

Reference parity notes (SURVEY.md §2A): the reference scanner's pushed-down
predicate evaluation (simple-predicates.h:30-205) and metadata-only count(*)
(hdfs-parquet-scanner.cc:1377-1396) map onto
``spark.sql.parquet.filterPushdown`` and
``spark.sql.parquet.aggregatePushdown``; its adaptive runtime bitmap filter
(hdfs-parquet-scanner.cc:464-470) maps onto Spark's runtime bloom filters.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Dynamic confs required for correct + fast behavior; safe to set on a
#: live session.
RUNTIME_CONFS: dict[str, str] = {
    # DuckDB-oracle parity: both engines must agree on wall-clock meaning.
    "spark.sql.session.timeZone": "UTC",
    # Reference operator #5: predicates evaluated at the scan (encoded data).
    "spark.sql.parquet.filterPushdown": "true",
    # Reference operator #3: metadata-only count(*) fast path.
    "spark.sql.parquet.aggregatePushdown": "true",
    # events.parquet could store TIMESTAMP(NANOS); with this flag Spark
    # reads such a column as int64 and catalog._events converts to
    # timestamp_ntz (the shipped fixtures are plain µs and skip that path).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # INT96 timestamps (reference hdfs-parquet-scanner.cc:57-59, 598-605:
    # optional UTC→local conversion for Hive-written files) — Spark's
    # equivalent knob is spark.sql.parquet.int96TimestampConversion
    # (+ int96RebaseModeInRead/Write for pre-Gregorian rebasing).  The
    # fixtures carry no INT96 data, so the confs are documented here per
    # SURVEY §7 rather than set: the defaults (no conversion, EXCEPTION on
    # ambiguous rebase) are correct for Spark-written files.  The decode
    # path itself IS exercised: test_int96_timestamp_write_read_roundtrip
    # writes physical INT96 (outputTimestampType=INT96) and reads it back.
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Reference operator #11 (runtime bitmap filter from join builds):
    # Spark's bloom-filter runtime filters are the scale-out analog.
    # (runtimeFilter.semiJoinReduction is deliberately NOT enabled: on this
    # Spark build it deadlocks even trivial jobs.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for any pandas-UDF path (pipeline operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Predicate pushdown into registered Python DataSources (the custom
    # ppmdir scanner's pushFilters — §2A #5 in a user-defined source).
    "spark.sql.python.filterPushdown.enabled": "true",
}

#: Sessions that already passed through :func:`ensure_runtime_confs`.
#: Weak keys: the guard must not keep a stopped session's JVM refs alive.
_CONF_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an existing session, ignoring any conf the
    running Spark build rejects (forward/backward compatibility).

    Applied ONCE per session: callers (every `catalog.table()` call, i.e.
    several times per query) used to re-issue ~9 `spark.conf.set` py4j
    round-trips per table reference — pure per-query planning overhead
    (guide §1.2 step 2), and the re-applied constant also silently
    overrode any conf a test or caller had deliberately changed
    mid-session.  The conf VALUES are static, so once is enough.

    Shuffle partitioning is scale-adaptive, not a constant: a session
    still carrying Spark's stock 200 default (e.g. the verification
    driver's vanilla session) gets `defaultParallelism` — the actual
    core count of whatever master it was built with — with AQE
    coalescing (enabled above) sizing partitions downward at runtime.
    Sessions that already chose a value (our own get_spark, the test
    session's 8, a cluster deploy's 2-3x cores) are left alone.

    Only dynamic confs reach a live session.  The static confs of
    :func:`get_spark` (class cache size, call-site capture) are not in
    RUNTIME_CONFS: Spark refuses a static conf on a live session (this
    function would swallow that error like any other), so a session
    built elsewhere, such as the verification driver's, keeps Spark's
    defaults.
    """
    if spark in _CONF_APPLIED:
        return spark
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    _CONF_APPLIED.add(spark)
    return spark


#: The directory that holds this package.  Python workers start in the
#: JVM's working directory with the JVM's PYTHONPATH; unless one of the
#: two holds this directory, they cannot import the engine.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: Cores of the pinned benchmark run (`bench.py`'s `BENCH_FULL.json`).
PINNED_CPUS = 32

#: Entries of Spark's JVM-wide generated-class cache
#: (``spark.sql.codegen.cache.maxEntries``, default 100, static).  One
#: pass over the whole registry at sf0.001 compiles 2,580 classes; with
#: the default, a second pass compiled 3,284 again, and one client
#: cycling the 7 ``tpch_mix`` queries recompiled 63 of their 100 classes
#: per cycle, inside ``collect()``.  Retained classes cost ~7 KB of
#: metaspace each, so a full cache is bounded at ~30 MB.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", PINNED_CPUS))


def get_spark(app_name: str = "impala-avx2-parquet-scanner-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a tuned local session.

    On a cluster these builder-time settings are supplied by the deploy
    environment instead; everything semantic lives in RUNTIME_CONFS.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # Local mode: one JVM; shuffle partitions ≈ cores, not the 200
        # default (SURVEY.md §7 risk register — partition sizing is the
        # first perf lever).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB parquet splits — matches HDFS-block-sized scan ranges the
        # reference issues per column chunk (hdfs-parquet-scanner.cc:1453-1534).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # merged by Spark with the JVM's own PYTHONPATH, not replacing it
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Keep every compiled class of the engine's query set, so a query
        # that comes back does not pay its Janino compile again.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark otherwise captures the Python call site of every Column
        # function: 5 py4j round trips and a stack walk per call, ~3/4 of
        # a TPC-H builder's round trips.  Errors lose their
        # "was called from <file>:<line>" line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
