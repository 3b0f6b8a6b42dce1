"""Data-quality checks that actually fail.

The reference constructs DQ exceptions but never raises them
(``/root/reference/etl.py:252-257`` — ``Exception(...)`` as a bare
expression), so its checks can never fail. These raise.

Scale note: ``isEmpty()``/``limit(1)`` short-circuits — no full count of a
100 TB table just to prove non-emptiness. ``dq_count`` is for when the
count itself is the deliverable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class DataQualityError(RuntimeError):
    pass


def dq_nonempty(df: DataFrame, name: str) -> None:
    """Raise unless ``df`` has at least one row (cheap: scans one partition
    in the common case, not the whole table)."""
    if df.isEmpty():
        raise DataQualityError(f"data quality check failed: {name} is empty")


def dq_count(df: DataFrame, name: str, at_least: int = 1) -> int:
    n = df.count()
    if n < at_least:
        raise DataQualityError(
            f"data quality check failed: {name} has {n} rows, need >= {at_least}"
        )
    return n

