"""Local replica of the driver's t2 correctness gate.

Runs every registered query through Spark AND its DuckDB oracle on the
same parquet tables, then compares row count, column names, and an
order-insensitive value hash — with both result sets routed **through
pandas**, because that is what the driver's canonicalizer does (its crash
tracebacks surface inside ``pandas.sort_values``).  Routing through pandas
is what makes the known divergence classes visible locally:

* DuckDB HUGEINT (e.g. window ``SUM`` over BIGINT) lands in pandas as
  float64 → ``'134.0'`` vs Spark's int64 ``'134'``  → hash mismatch.
* Spark DECIMAL survives as ``decimal.Decimal`` (object dtype) and
  stringifies with trailing zeros (``'205941.60'``) while DuckDB DECIMAL
  arrives as float64 (``'205941.6'``)               → hash mismatch.
* Array/list cells (ndarray after conversion) are unhashable in pandas
  ``sort_values`` — the driver *crashes* on them    → hard failure here.
* DuckDB DATE becomes a midnight Timestamp while Spark DATE stays a
  ``datetime.date``; the driver treats these as equal (date-bearing green
  queries prove it), so both normalize to the same ISO instant.

Usage::

    python tools/parity.py [sf_dir] [query ...]

Exit code 0 iff all compared queries match.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from impala_avx2_parquet_scanner_spark import registry  # noqa: E402
from impala_avx2_parquet_scanner_spark.catalog import TABLES  # noqa: E402
from impala_avx2_parquet_scanner_spark.session import get_spark  # noqa: E402


class CanonError(Exception):
    """Raised where the driver's pandas canonicalizer would crash."""


def norm_cell(v) -> str:
    """Stringify one pandas cell the way the driver's canon sees it.

    Deliberately does NOT paper over numeric-representation differences:
    int64 1 → '1' and float64 1.0 → '1.0' stay distinct, Decimal('1.60')
    → '1.60' stays distinct from float 1.6 — those are exactly the
    divergences the driver flags.  Only datetime-likes are unified
    (date == midnight timestamp), matching observed driver behavior.
    """
    if isinstance(v, (list, np.ndarray)):
        raise CanonError("unhashable array cell (driver canon crashes on these)")
    if v is None:
        return "NULL"
    if isinstance(v, float) and np.isnan(v):
        return "NULL"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        if pd.isna(v):  # NaT
            return "NULL"
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def canon_lines(pdf: pd.DataFrame) -> list[str]:
    """Column-name-sorted, row-sorted cell-string lines (the hash input)."""
    cols = sorted(pdf.columns)
    lines = [
        "\x01".join(norm_cell(row[c]) for c in cols)
        for row in pdf.to_dict("records")
    ]
    lines.sort()
    return lines


def value_hash(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for line in canon_lines(pdf):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Return a list of human-readable problems (empty == parity)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"cols spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    try:
        s_lines = canon_lines(spark_pdf)
    except CanonError as exc:
        return [f"spark canon: {exc}"]
    try:
        d_lines = canon_lines(duck_pdf)
    except CanonError as exc:
        return [f"duckdb canon: {exc}"]
    if s_lines != d_lines:
        problems.append("value-hash mismatch")
        for a, b in zip(s_lines, d_lines):
            if a != b:
                problems.append(
                    f"  first diff:\n   spark={a[:300]}\n   duck ={b[:300]}"
                )
                break
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # completely stock session — no engine confs pre-applied; proves
        # catalog.py self-applies whatever a query needs (the driver
        # imports __spark_entry__ with ITS OWN vanilla session)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("parity-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("parity", cpus=8)
    failures: list[str] = []
    for name, spec in sorted(registry.REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            spark_pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        finally:
            # Several queries persist() intermediates that only unpersist
            # with the session; over a 255-query sweep those cached blocks
            # accumulate (driver ADVICE r4) — drop them once the terminal
            # action has materialized the result.
            spark.catalog.clearCache()
        if spec.oracle is None:
            print(f"okNA {name}: rows={len(spark_pdf)} (no oracle) {time.time()-t0:.1f}s")
            if len(spark_pdf) == 0 and "empty_ok" not in spec.tags:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            duck_pdf = con.execute(spec.oracle).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = compare_frames(spark_pdf, duck_pdf)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems[:3]))
        else:
            print(f"ok   {name}: rows={len(spark_pdf)} {time.time()-t0:.1f}s")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
