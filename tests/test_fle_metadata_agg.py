"""Metadata-only MIN/MAX from fledir manifest stats: typed-domain
mapping, all-NULL segment skip, partitioned-root fold, and the loud
failure on stats-less manifests."""
from __future__ import annotations

import datetime as dtm
import decimal as decm
import os

import numpy as np
import pytest

from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
    encode_segment_columns,
    fledir_min_max,
    register_fledir,
)


def _write_dir(spark, path: str, segments: list[list[tuple]]) -> str:
    import pandas as pd

    register_fledir(spark)

    def encode(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                i = int(row["seg_id"])
                yield pd.DataFrame(
                    {
                        "seg_id": [i],
                        "payload": [encode_segment_columns(segments[i])],
                    }
                )

    (
        spark.createDataFrame(
            [(i,) for i in range(len(segments))], "seg_id long"
        )
        .repartition(2)
        .mapInPandas(encode, schema="seg_id long, payload binary")
        .write.format("fledir")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    return path


def test_min_max_typed_domains_and_null_segment_skip(spark, tmp_path):
    seg_a = [
        ("q", np.array([5, 2, 9], dtype=np.int64)),
        ("p", np.array([1.5, -2.25, 0.0]), "f64"),
        ("t", np.array(
            ["1995-06-01T12:00:00", "1995-06-03T00:00:00",
             "1995-06-02T00:00:00"], dtype="datetime64[us]")),
        ("d", np.array([decm.Decimal("1.25"), decm.Decimal("-3.50"),
                        decm.Decimal("0.75")], dtype=object),
         ("dec", 12, 2)),
        ("s", np.array(["bb", "aa", "cc"], dtype=object)),
    ]
    # second segment: q all NULL (empty interval must be skipped),
    # others extend the extrema
    seg_b = [
        ("q", np.array([None, None, None], dtype=object)),
        ("p", np.array([10.0, np.nan, -8.5]), "f64_nan_null"),
        ("t", np.array(
            ["1995-05-30T00:00:00", "1995-06-04T06:30:00",
             "1995-06-01T00:00:00"], dtype="datetime64[us]")),
        ("d", np.array([decm.Decimal("9.99"), None,
                        decm.Decimal("-0.01")], dtype=object),
         ("dec", 12, 2)),
        ("s", np.array([None, "zz", "ab"], dtype=object)),
    ]
    path = _write_dir(spark, str(tmp_path / "mm"), [seg_a, seg_b])
    mm = fledir_min_max(path, ["q", "p", "t", "d", "s"])
    assert mm["q"] == (2, 9)  # all-NULL segment contributed nothing
    assert mm["p"] == (-8.5, 10.0)
    assert mm["t"] == (
        dtm.datetime(1995, 5, 30), dtm.datetime(1995, 6, 4, 6, 30)
    )
    assert mm["d"] == (decm.Decimal("-3.50"), decm.Decimal("9.99"))
    assert mm["s"] == ("aa", "zz")


def test_min_max_all_null_column_is_sql_null(spark, tmp_path):
    seg = [("x", np.array([None, None], dtype=object))]
    path = _write_dir(spark, str(tmp_path / "mm_null"), [seg])
    assert fledir_min_max(path, ["x"]) == {"x": (None, None)}


def test_min_max_partitioned_root_folds_all_leaves(spark, tmp_path):
    root = str(tmp_path / "mm_part")
    for key, lo in (("A", 100), ("R", 5)):
        _write_dir(
            spark,
            os.path.join(root, f"flag={key}"),
            [[("q", np.arange(lo, lo + 10, dtype=np.int64))]],
        )
    assert fledir_min_max(root, ["q"]) == {"q": (5, 109)}


def test_min_max_unknown_column_and_stats_less_manifest(spark, tmp_path):
    seg = [("x", np.array([1, 2], dtype=np.int64))]
    path = _write_dir(spark, str(tmp_path / "mm_err"), [seg])
    with pytest.raises(KeyError, match="missing from segment"):
        fledir_min_max(path, ["nope"])
    # strip the stats column from the manifest: the fold must refuse
    done = os.path.join(path, "_DONE")
    with open(done) as fh:
        names = [ln.split("\t")[0] for ln in fh.read().splitlines() if ln]
    with open(done, "w") as fh:
        fh.write("\n".join(names))
    with pytest.raises(ValueError, match="stats-less"):
        fledir_min_max(path, ["x"])


def test_grouped_partition_counts(spark, tmp_path):
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_partition_row_counts,
    )

    root = str(tmp_path / "grp")
    for key, n in (("A", 7), ("R", 13)):
        _write_dir(
            spark,
            os.path.join(root, f"flag={key}"),
            [[("q", np.arange(n, dtype=np.int64))]],
        )
    keys, rows = fledir_partition_row_counts(root)
    assert keys == ["flag"]
    assert sorted(rows) == [("A", 7), ("R", 13)]
    flat = str(tmp_path / "flat")
    _write_dir(spark, flat, [[("q", np.arange(3, dtype=np.int64))]])
    with pytest.raises(ValueError, match="not hive-partitioned"):
        fledir_partition_row_counts(flat)


def test_zorder_layout_prunes_on_both_dimensions(spark, sf_dir):
    """The Z-order locality claim: a range on EITHER column alone
    refutes segment files via manifest stats (a single-column sort
    gives only its own column this property)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        FleDirReader,
        materialize_fle_zorder_dir,
    )

    path = materialize_fle_zorder_dir(spark, sf_dir)

    def surviving(pushed):
        r = FleDirReader({"path": path})
        r.pushed = pushed
        return sum(len(part.paths) for part in r.partitions())

    total = surviving([])
    assert total >= 12  # 16 range partitions → >= 12 committed segments
    by_qty = surviving([("l_quantity", "le", 5)])
    by_price = surviving([("price", "le", 10000.0)])
    assert by_qty < total
    assert by_price < total
    both = surviving(
        [("l_quantity", "le", 5), ("price", "le", 10000.0)]
    )
    assert both <= min(by_qty, by_price)


def test_grouped_partition_counts_int_keys_typed(spark, tmp_path):
    """ADVICE r9: partition-key values come back TYPED — an int-keyed
    layout (ship_year=1997) must surface a bigint key column, not
    crash createDataFrame with a string schema."""
    from impala_avx2_parquet_scanner_spark.operators.scan import (
        partition_counts_df,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_partition_row_counts,
    )

    root = str(tmp_path / "grp_int")
    for year, n in ((1996, 4), (1997, 9)):
        _write_dir(
            spark,
            os.path.join(root, f"ship_year={year}"),
            [[("q", np.arange(n, dtype=np.int64))]],
        )
    keys, rows = fledir_partition_row_counts(root)
    assert keys == ["ship_year"] and sorted(rows) == [(1996, 4), (1997, 9)]
    df = partition_counts_df(spark, keys, rows)
    assert dict(df.dtypes) == {"ship_year": "bigint", "n_rows": "bigint"}
    assert sorted(map(tuple, df.collect())) == [(1996, 4), (1997, 9)]
    # string keys keep the string type (the original query's layout)
    root2 = str(tmp_path / "grp_str")
    for key, n in (("A", 2), ("R", 3)):
        _write_dir(
            spark,
            os.path.join(root2, f"flag={key}"),
            [[("q", np.arange(n, dtype=np.int64))]],
        )
    keys2, rows2 = fledir_partition_row_counts(root2)
    df2 = partition_counts_df(spark, keys2, rows2)
    assert dict(df2.dtypes) == {"flag": "string", "n_rows": "bigint"}


def test_plane_sum_exact_random_and_big_ints():
    """plane_sum == numpy/python-int sum on random widths, with NULL
    lanes excluded, and EXACT past float64 precision (2^62-scale
    values whose float sum would round)."""
    from impala_avx2_parquet_scanner_spark.sources.fle_codec import (
        fle_pack,
        pack_validity,
        plane_sum,
    )
    from impala_avx2_parquet_scanner_spark.sources.fle_kinds import (
        _encode_int_column,
    )

    rng = np.random.default_rng(42)
    for n in (1, 63, 64, 65, 1000):
        vals = rng.integers(0, 1 << 20, size=n).astype(np.uint64)
        valid = rng.random(n) > 0.3
        if not valid.any():
            valid[0] = True
        codes, _, width, _ = _encode_int_column("x", vals.astype(np.int64))
        planes, _n = fle_pack(codes, width)
        got = plane_sum(planes, width, n, validity=pack_validity(valid))
        assert got == (int(vals[valid].sum()), int(valid.sum()))
    big = np.array([(1 << 62) + 1, (1 << 62) + 3, 5], dtype=np.uint64)
    codes, _, width, _ = _encode_int_column("x", big.astype(object))
    planes, _n = fle_pack(codes, width)
    got = plane_sum(planes, width, 3)
    assert got == ((1 << 63) + 9, 3)  # exceeds int64; float64 would round
    # no valid lane → None
    assert plane_sum(planes, width, 3,
                     validity=pack_validity(np.zeros(3, bool))) is None


def test_fledir_sum_typed_null_and_signed_paths(spark, tmp_path):
    import decimal as decm

    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_sum,
    )

    seg_a = [
        ("q", np.array([5.0, np.nan, 9.0])),              # int + NULL
        ("d", np.array([-7, 3, -1], dtype=np.int64)),     # signed offset
        ("m", np.array([decm.Decimal("1.25"),
                        decm.Decimal("-3.50"),
                        decm.Decimal("0.75")], dtype=object),
         ("dec", 12, 2)),
        ("s", np.array(["aa", "bb", "cc"], dtype=object)),
    ]
    seg_b = [
        ("q", np.array([None, None, None], dtype=object)),  # all NULL
        ("d", np.array([10, -20, 4], dtype=np.int64)),
        ("m", np.array([decm.Decimal("9.99"), None,
                        decm.Decimal("-0.01")], dtype=object),
         ("dec", 12, 2)),
        ("s", np.array(["x", "y", None], dtype=object)),
    ]
    path = _write_dir(spark, str(tmp_path / "sum"), [seg_a, seg_b])
    got = fledir_sum(path, ["q", "d", "m"])
    assert got["q"] == (14, 2)          # all-NULL segment adds nothing
    assert got["d"] == (-11, 6)         # base·n_valid term exercised
    assert got["m"] == (decm.Decimal("8.48"), 5)
    assert isinstance(got["m"][0], decm.Decimal)
    # string column carries no sum stat → loud, not silent scan
    with pytest.raises(ValueError, match="no sum stat"):
        fledir_sum(path, ["s"])
    # all-NULL everywhere → SQL NULL
    allnull = _write_dir(
        spark, str(tmp_path / "sum_null"),
        [[("q", np.array([None, None], dtype=object))]],
    )
    assert fledir_sum(allnull, ["q"]) == {"q": (None, 0)}


def test_fledir_sum_partitioned_root_and_legacy_manifest(spark, tmp_path):
    from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
        fledir_sum,
    )

    root = str(tmp_path / "sum_part")
    for key, lo in (("A", 100), ("R", 5)):
        _write_dir(
            spark,
            os.path.join(root, f"flag={key}"),
            [[("q", np.arange(lo, lo + 10, dtype=np.int64))]],
        )
    assert fledir_sum(root, ["q"]) == {"q": (sum(range(100, 110))
                                             + sum(range(5, 15)), 20)}
    flat = str(tmp_path / "sum_legacy")
    _write_dir(spark, flat, [[("q", np.array([1, 2], dtype=np.int64))]])
    done = os.path.join(flat, "_DONE")
    with open(done) as fh:
        names = [ln.split("\t")[0] for ln in fh.read().splitlines() if ln]
    with open(done, "w") as fh:
        fh.write("\n".join(names))
    with pytest.raises(ValueError, match="stats-less"):
        fledir_sum(flat, ["q"])


def test_segment_stats_carry_nv_on_every_kind(spark, tmp_path):
    """nv (non-null lane count — the parquet footer null-count analog)
    rides every column's manifest entry, typed and string kinds alike."""
    import json

    seg = [
        ("q", np.array([1.0, np.nan, 3.0])),
        ("s", np.array(["a", None, "c"], dtype=object)),
        ("p", np.array([1.5, 2.5, np.nan]), "f64_nan_null"),
    ]
    path = _write_dir(spark, str(tmp_path / "nv"), [seg])
    with open(os.path.join(path, "_DONE")) as fh:
        stats = json.loads(fh.read().splitlines()[0].split("\t", 1)[1])
    assert stats["q"]["nv"] == 2 and stats["s"]["nv"] == 2
    assert stats["p"]["nv"] == 2
    assert stats["q"]["sum"] == 4
    assert "sum" not in stats["p"]  # sortable-bits doubles: not additive
