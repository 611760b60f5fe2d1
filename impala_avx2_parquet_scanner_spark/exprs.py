"""Shared column-expression helpers.

The exact-decimal conventions here are the engine's answer to the oracle
value-hash: the fixture tables store money/rate columns as doubles, and a
parallel double sum is order-dependent.  Casting to exact DECIMAL first
(the stored values carry ≤2 decimal digits, so the cast is lossless) makes
every aggregate associative and bit-reproducible on any cluster size —
Spark's partial/final aggregation, DuckDB's single-threaded scan, and a
1000-executor shuffle all agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Price/quantity columns: < 10^10 with 2 decimals.
DEC_PRICE = "decimal(12,2)"
# Discount/tax rates: 0.00..0.99.
DEC_RATE = "decimal(3,2)"


def dec_price(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC_PRICE)


def dec_rate(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC_RATE)


def one_minus(col: str | Column) -> Column:
    """(1 - rate) as DECIMAL(4,2) — mirrored in oracle SQL."""
    return (F.lit(1) - dec_rate(col)).cast("decimal(4,2)")


def one_plus(col: str | Column) -> Column:
    """(1 + rate) as DECIMAL(4,2)."""
    return (F.lit(1) + dec_rate(col)).cast("decimal(4,2)")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec_price("l_extendedprice") * one_minus("l_discount")


def sum_dbl(col: Column, alias: str) -> Column:
    """SUM over exact decimal, surfaced as double."""
    return F.sum(col).cast("double").alias(alias)


def avg_dbl(col: Column, alias: str) -> Column:
    """Order-independent average: exact decimal sum → double ÷ count."""
    return (F.sum(col).cast("double") / F.count(F.lit(1))).alias(alias)


# The oracle-side (DuckDB) SQL of disc_price above.
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(4,2))"
)
