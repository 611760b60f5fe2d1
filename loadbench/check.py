"""Correctness gate: canonical result comparison and the DuckDB oracle.

Runs outside every timed region.  Results are compared as multisets of
rows with columns in name order; floats are compared to a relative
tolerance because Spark and DuckDB may sum in different orders.
"""

from __future__ import annotations

import datetime
import decimal
import math

REL_TOL = 1e-9


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):  # numpy scalar
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, (datetime.date, datetime.datetime)):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def _sort_key(row: tuple) -> tuple:
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, (int, float)):
            out.append((1, f"{v:.6g}"))
        else:
            out.append((2, str(v)))
    return tuple(out)


def canonical(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [columns[i] for i in order], out


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def same_result(a: tuple[list[str], list[tuple]],
                b: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if a[0] != b[0]:
        return f"columns {a[0]} != {b[0]}"
    if len(a[1]) != len(b[1]):
        return f"row count {len(a[1])} != {len(b[1])}"
    for i, (ra, rb) in enumerate(zip(a[1], b[1])):
        if len(ra) != len(rb) or not all(_same(x, y) for x, y in zip(ra, rb)):
            return f"row {i}: {ra!r:.200} != {rb!r:.200}"
    return None


def spark_rows(df_columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    return canonical(list(df_columns), [tuple(r) for r in rows])


class Oracle:
    """DuckDB over the generated parquet files of one input directory."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return canonical(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()
