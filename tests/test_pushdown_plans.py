"""Plan-shape assertions — the Spark analog of the reference's claim that
predicates run on encoded data at the scan (SURVEY.md §2A #5, #4, #3).

These tests pin that:
* each SimplePredicate-equivalent form reaches the scan as a PushedFilter
  (the operator set {eq,lt,le,gt,ge,in,and,or} from scalar-fn-call.cc:945-961),
* projections prune the ReadSchema,
* count(*) uses metadata-only aggregation,
* dimension joins broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_avx2_parquet_scanner_spark.catalog import table
from impala_avx2_parquet_scanner_spark.plans import (
    exchange_count,
    has_broadcast_join,
    has_pushed_aggregation,
    pushed_filters,
    read_schema_columns,
)


def test_range_predicates_pushed(spark, sf_dir):
    df = (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 48) & (F.col("l_linenumber") <= 2))
        .select("l_orderkey")
    )
    filters = " ".join(pushed_filters(df))
    assert "GreaterThan(l_quantity" in filters
    assert "LessThanOrEqual(l_linenumber" in filters


def test_eq_and_in_pushed(spark, sf_dir):
    df = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R") & (F.col("l_linenumber") == 3))
        .select("l_orderkey")
    )
    filters = " ".join(pushed_filters(df))
    assert "In(l_returnflag" in filters
    assert "EqualTo(l_linenumber" in filters


def test_or_tree_pushed(spark, sf_dir):
    df = (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") < 2) | (F.col("l_quantity") > 49))
        .select("l_orderkey")
    )
    filters = " ".join(pushed_filters(df))
    assert "Or(LessThan(l_quantity" in filters


def test_residual_not_pushed_but_companion_is(spark, sf_dir):
    df = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity") * (1 - F.col("l_discount")) > 47.5)
            & (F.col("l_linenumber") >= 5)
        )
        .select("l_orderkey")
    )
    filters = " ".join(pushed_filters(df))
    # the arithmetic conjunct cannot push; the simple one must still push
    # (Spark splits the conjunct list — better than the reference's
    # all-or-nothing bail, hdfs-parquet-scanner.cc:1825-1834).
    # IsNotNull(l_discount) IS pushed (null-intolerance of the residual) —
    # only the comparison itself must stay residual.
    assert "GreaterThanOrEqual(l_linenumber,5)" in filters
    assert "47.5" not in filters
    assert "GreaterThan(l_quantity" not in filters


def test_projection_prunes_read_schema(spark, sf_dir):
    df = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_count_star_uses_metadata_aggregation(spark, sf_dir):
    """Metadata-only count(*) — reference hdfs-parquet-scanner.cc:1377-1396.
    Parquet aggregate pushdown is a DataSource-V2 feature; the engine's
    default reads use the (battle-tested) V1 path where count(*) is a
    zero-column scan, so this asserts the V2 plan explicitly."""
    prev = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))
        assert has_pushed_aggregation(df)
        assert df.collect()[0].n == table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev)


def test_dimension_join_broadcasts(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    df = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select("l_orderkey", "p_name")
    assert has_broadcast_join(df)
    assert exchange_count(df) == 0  # broadcast ⇒ no shuffle of the fact side


def test_q6_plan_is_scan_only(spark, sf_dir):
    """The flagship scan query must be shuffle-free up to the final
    single-row aggregate exchange."""
    from impala_avx2_parquet_scanner_spark.operators.tpch import tpch_q6

    df = tpch_q6(spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters and "l_discount" in filters and "l_quantity" in filters
    # exactly ONE exchange: the single-partition gather of per-partition
    # partial aggregates (one row each) — no hash shuffle of data rows
    assert exchange_count(df) == 1


def test_q19_disjunction_pushes_to_both_join_sides(spark, sf_dir):
    """The OR-of-conjunct-groups in tpch_q19 spans both join sides;
    Catalyst's CNF extraction derives per-side implied filters and pushes
    them to BOTH parquet scans — beyond the reference's all-or-nothing
    extractor (hdfs-parquet-scanner.cc:1825-1834)."""
    from impala_avx2_parquet_scanner_spark.operators.tpch_extra import tpch_q19

    filters = " ".join(pushed_filters(tpch_q19(spark, sf_dir)))
    # lineitem side: quantity range disjunction reached the scan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in filters
    assert "LessThanOrEqual(l_quantity,30.0)" in filters
    # part side: brand/size disjunction reached the scan
    assert "EqualTo(p_brand,Brand#12)" in filters
    assert "LessThanOrEqual(p_size,15)" in filters


def test_shuffle_hash_hint_selects_shuffled_hash_join(spark, sf_dir):
    """The SHUFFLE_HASH hint must materialize as ShuffledHashJoin (not
    broadcast, not sort-merge) — physical-strategy control for fact⋈fact
    joins at scale."""
    from impala_avx2_parquet_scanner_spark.operators.joins import join_shuffle_hash
    from impala_avx2_parquet_scanner_spark.plans import formatted_plan

    plan = formatted_plan(join_shuffle_hash(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_hint_selects_sort_merge_join(spark, sf_dir):
    """The MERGE hint must materialize as SortMergeJoin — the
    spill-safe-on-both-sides strategy for fact⋈fact joins whose output
    feeds sort-consuming operators."""
    from impala_avx2_parquet_scanner_spark.operators.joins import join_sort_merge
    from impala_avx2_parquet_scanner_spark.plans import formatted_plan

    plan = formatted_plan(join_sort_merge(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_binned_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The binned interval join must plan as a hash/merge EQUI join on
    the bin key — the whole point of binning is avoiding
    BroadcastNestedLoopJoin between two large inputs."""
    from impala_avx2_parquet_scanner_spark.operators.joins import join_range_binned
    from impala_avx2_parquet_scanner_spark.plans import formatted_plan

    plan = formatted_plan(join_range_binned(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_q21_single_pass_no_self_joins(spark, sf_dir):
    """Q21's decorrelated rewrite must stay a single pass over lineitem:
    one conditional aggregation per order, broadcast dimension joins — no
    sort-merge self-joins re-scanning the fact table (the naive
    three-frame plan had 6 exchanges and 4 SMJs)."""
    from impala_avx2_parquet_scanner_spark.operators.tpch_extra import tpch_q21
    from impala_avx2_parquet_scanner_spark.plans import formatted_plan

    df = tpch_q21(spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert exchange_count(df) <= 3


def test_q16_broadcasts_part_and_exclusion(spark, sf_dir):
    """Q16's dimension join (part) and supplier exclusion must broadcast;
    the only lineitem-sized work is the DISTINCT pair projection."""
    from impala_avx2_parquet_scanner_spark.operators.tpch_extra import tpch_q16
    from impala_avx2_parquet_scanner_spark.plans import formatted_plan

    df = tpch_q16(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert exchange_count(df) <= 3


def test_selectivity_sweep_predicate_pushed(spark, sf_dir):
    """Every sweep point must push its range predicate into the scan —
    the sweep measures scan/decode throughput, not Filter-operator cost
    (reference README.md:15-22 contract)."""
    from impala_avx2_parquet_scanner_spark.registry import REGISTRY

    for name in ("selectivity_002", "selectivity_100"):
        df = REGISTRY[name].fn(spark, sf_dir)
        filters = pushed_filters(df)
        assert any("l_quantity" in f for f in filters), (name, filters)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a partitioned fact with a filtered dim on the partition
    column plants a dynamicpruning subquery in the fact scan — Spark's
    partition-level analog of the reference's runtime bitmap filter
    (hdfs-parquet-scanner.cc:464-470): only partitions surviving the dim
    filter are read."""
    from pyspark.sql import functions as F

    fact = spark.range(1000).select(
        "id", (F.col("id") % 5).alias("pk"), (F.col("id") * 2).alias("v")
    )
    fact.write.partitionBy("pk").parquet(str(tmp_path / "fact"))
    fact_r = spark.read.parquet(str(tmp_path / "fact"))
    dim = (
        spark.range(5)
        .select(F.col("id").alias("pk"), F.lit("x").alias("name"))
        .filter(F.col("pk") < 2)
    )
    plan = fact_r.join(dim, "pk")._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_partition_filter_prunes_directories(spark, sf_dir, tmp_path):
    """Partition-column predicates must land in PartitionFilters (metadata
    pruning — the Spark analog of the reference resolving clustering
    columns from the partition descriptor, descriptors.h:154-162, and
    never reading file bytes for them) and the pruned scan must list only
    the matching partition directories."""
    from impala_avx2_parquet_scanner_spark.operators.scan import (
        partitioned_lineitem_path,
    )
    from impala_avx2_parquet_scanner_spark.plans import formatted_plan

    path = partitioned_lineitem_path(spark, sf_dir)
    df = spark.read.parquet(path).filter(F.col("l_returnflag") == "R").select(
        "l_orderkey"
    )
    plan = formatted_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "l_returnflag" in m.group(1)
    # the data filter must NOT also appear as a parquet PushedFilter —
    # partition columns have no file bytes to evaluate against
    pf = " ".join(pushed_filters(df))
    assert "l_returnflag" not in pf
    # pruning is observable: only one of the three flag directories scanned
    files = [r.filePath for r in df.select(F.input_file_name().alias("filePath")).distinct().collect()]
    assert files and all("l_returnflag=R" in f for f in files)


def test_nested_schema_pruning_and_predicate_pushdown(spark, sf_dir):
    """Struct-leaf projection must prune the ReadSchema to the referenced
    subfields (the wide `text` sibling is never read) and the struct-field
    equality must reach the scan as a pushed filter — the Spark analog of
    the reference's per-leaf column readers resolved by col_path
    (hdfs-parquet-scanner.cc:1410-1451)."""
    from impala_avx2_parquet_scanner_spark.operators.scan import (
        nested_documents_path,
    )
    from impala_avx2_parquet_scanner_spark.plans import formatted_plan

    path = nested_documents_path(spark, sf_dir)
    df = (
        spark.read.parquet(path)
        .filter(F.col("meta.lang") == "en")
        .select("doc_id", F.col("meta.source").alias("src"))
    )
    plan = formatted_plan(df)
    import re

    m = re.search(r"ReadSchema: struct<(.*)>$", plan, re.MULTILINE)
    assert m, plan
    schema = m.group(1)
    assert "text" not in schema  # the 95%-of-bytes sibling is pruned
    assert "n_chars" not in schema  # unreferenced struct leaf pruned too
    assert "lang" in schema and "source" in schema
    filters = " ".join(pushed_filters(df))
    assert "meta.lang" in filters  # nested predicate reached the scan


def test_sorted_rewrite_enables_row_group_skipping(spark, sf_dir):
    """The sorted lineitem rewrite (selectivity_sorted_* sweep) must (a)
    keep the range predicate pushed to the scan and (b) produce a layout
    whose row-group min/max statistics on l_quantity are tight enough that
    the 2%-selective predicate can skip most row groups — the layout half
    of the reference's predicate-on-encoded-sorted-data headline
    (README.md:15-22, dict-encoding.h:393-406).  Skippability is asserted
    from the parquet footers themselves (the same stats Spark's reader
    uses for row-group filtering)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from impala_avx2_parquet_scanner_spark.operators.tpch import (
        _materialize_sorted_lineitem,
    )
    from impala_avx2_parquet_scanner_spark.plans import pushed_filters

    path = _materialize_sorted_lineitem(spark, sf_dir)
    df = spark.read.parquet(os.path.join(path, "*.parquet")).filter(
        F.col("l_quantity") <= 1
    )
    filters = " ".join(pushed_filters(df))
    assert "l_quantity" in filters and ("LessThanOrEqual" in filters or "<=" in filters)

    total, skippable = 0, 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "l_quantity"
            )
            total += 1
            assert col.statistics is not None and col.statistics.has_min_max
            if col.statistics.min > 1:
                skippable += 1
    # 16 range-partitioned files over quantity 1..50: all but the lowest
    # band must be skippable for the <=1 predicate.
    assert total >= 8
    assert skippable >= total * 3 // 4, (skippable, total)


def test_metadata_file_provenance_matches_directory(spark, sf_dir):
    """`_metadata.file_name` provenance must agree with the physical
    layout: per-file row counts computed THROUGH the hidden column equal
    the counts read from each parquet file's own footer."""
    import glob
    import os

    import pyarrow.parquet as pq

    from impala_avx2_parquet_scanner_spark.operators.scan import (
        partitioned_lineitem_path,
    )

    path = partitioned_lineitem_path(spark, sf_dir)
    got = {
        ("/".join(r.fp.split("/")[-2:]), r.n)
        for r in spark.read.parquet(path)
        .groupBy(F.col("_metadata.file_path").alias("fp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        ("/".join(f.split("/")[-2:]), pq.read_metadata(f).num_rows)
        for f in glob.glob(os.path.join(path, "*", "*.parquet"))
    }
    assert got == want and len(want) >= 3


def test_zorder_layout_tightens_both_dimensions(spark, sf_dir):
    """The Z-ordered rewrite must make row-group min/max spans tight in
    BOTH interleaved columns: for the 2%-selective conjunctive predicate
    (l_quantity <= 5 AND l_discount >= 0.08) a majority of row groups
    must be skippable using either column's footer stats — the 2-D
    pruning a single-column sort cannot give."""
    import glob
    import os

    import pyarrow.parquet as pq

    from impala_avx2_parquet_scanner_spark.operators.tpch import (
        _materialize_zorder_lineitem,
        scan_zorder_pruned,
    )
    from impala_avx2_parquet_scanner_spark.plans import pushed_filters

    df = scan_zorder_pruned(spark, sf_dir)  # also materializes the layout
    filters = " ".join(pushed_filters(df))
    assert "l_quantity" in filters and "l_discount" in filters

    path = _materialize_zorder_lineitem(spark, sf_dir)  # the same asset
    total, skippable = 0, 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            stats = {}
            for i in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(i)
                if col.path_in_schema in ("l_quantity", "l_discount"):
                    assert col.statistics is not None
                    stats[col.path_in_schema] = col.statistics
            total += 1
            if stats["l_quantity"].min > 5 or stats["l_discount"].max < 0.08:
                skippable += 1
    assert total >= 8
    assert skippable >= total // 2, (skippable, total)


def test_no_pinned_broadcast_on_sf_scaled_sides():
    """No TPC-H query may pin F.broadcast() on a frame that grows with
    scale factor (customer/supplier/part/lineitem-derived sets).  A
    pinned hint overrides AQE's size check and the build collects to the
    driver — at 100x data that is an OOM, not a slowdown.  Only
    fixed-size sides may carry hints: nation (25 rows), region (5 rows),
    and 1-row scalar aggregates (max_rev / avg_bal / tot).  AQE + the
    64 MB autoBroadcastJoinThreshold picks broadcast at fixture scale
    anyway (same local plans; see PLANS.md) and degrades to shuffle
    joins at cluster scale — matching the reference, whose runtime
    bitmap filter is built from a *partitioned* hash join
    (hdfs-parquet-scanner.cc:260-263), never an assumed-resident build."""
    import inspect
    import re

    from impala_avx2_parquet_scanner_spark.operators import (
        tpch,
        tpch_extra,
        tpch_partsupp,
    )

    allowed = re.compile(
        r"""^(
            n|r|n1|n2                 # nation/region frames
          | max_rev|avg_bal|tot       # 1-row scalar aggregates
          | table\(spark,\ sf_dir,\ "(nation|region)"\)
        )$""",
        re.VERBOSE,
    )
    offenders = []
    for mod in (tpch, tpch_extra, tpch_partsupp):
        src = inspect.getsource(mod)
        for m in re.finditer(r"F\.broadcast\(\s*([^()]*(?:\([^()]*\))?[^()]*?)\s*[,)]", src):
            arg = " ".join(m.group(1).split())
            if not allowed.match(arg.replace('table(spark, sf_dir,', 'table(spark, sf_dir,')):
                offenders.append(f"{mod.__name__}: F.broadcast({arg})")
    assert not offenders, offenders


def test_fledir_pushdown_consumes_conjuncts_in_real_plan(spark, sf_dir):
    """Plan-level proof that a REAL Spark read pushes into the fledir
    reader (value-level tests alone can't catch a silent pushdown
    regression — residual re-evaluation would keep results correct):
    after optimization, the post-scan Filter must retain ONLY the
    non-pushable `% 3` residual; the dictionary equality and the int
    range conjunct are consumed by `FleDirReader.pushFilters`
    (the pushed-vs-residual split, hdfs-parquet-scanner.cc:1825-1834)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        materialize_fle_multi_dir,
        register_fledir,
    )

    path = materialize_fle_multi_dir(spark, sf_dir)
    register_fledir(spark)
    df = (
        spark.read.format("fledir")
        .option("path", path)
        .load()
        .filter(
            (F.col("l_linestatus") == "F")
            & (F.col("l_quantity") >= 25)
            & (F.col("l_quantity") % 3 != 1)
        )
    )
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "% 3" in optimized  # residual stays above the scan
    assert "l_linestatus" not in optimized.split("RelationV2")[0]
    assert ">= 25" not in optimized and "25)" not in optimized.split(
        "RelationV2"
    )[0]
