"""Output checks against the DuckDB oracles.

A registry query is checked with ``compare_agghash`` from
``tests/oracle.py``: column names, canonical types, row count and two
60-bit hash sums, so no result rows leave either engine. Its Spark side
renders timestamps with ``unix_micros``, which rejects TIMESTAMP_NTZ;
the generated tables carry naive timestamps like the engine's test data,
so NTZ result columns are cast to the session-zone TIMESTAMP first (the
session zone is UTC, so the wall-clock value is kept). The i94 ETL
tables have no registry query over the generated inputs, so they are
folded the same way here, with the same canonical cell rendering, and
compared with the DuckDB twins of ``pipe_i94_fact`` and
``pipe_i94_port_demographics``.

``PERFBENCH_BREAK_ORACLE=1`` perturbs every expected hash; the self-test
uses it to show that a mismatch fails the run.
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tests"))

import oracle  # noqa: E402  (tests/oracle.py)


class CheckFailed(AssertionError):
    pass


def _broken() -> bool:
    return os.environ.get("PERFBENCH_BREAK_ORACLE") == "1"


def _ltz(sdf):
    ntz = {f.name for f in sdf.schema.fields if f.dataType.typeName() == "timestamp_ntz"}
    if not ntz:
        return sdf
    return sdf.select([sdf[c].cast("timestamp").alias(c) if c in ntz else sdf[c]
                       for c in sdf.columns])


@contextmanager
def _oracle_patched(spill_dir: str):
    """For the duration of one ``compare_agghash`` call: keep DuckDB's
    spill directory inside ``spill_dir``, hash NTZ columns as TIMESTAMP,
    and apply the broken-oracle switch."""
    saved = (oracle.duckdb_con, oracle._agghash_scalars_spark,
             oracle._agghash_scalars_duck)
    con_orig, spark_orig, duck_orig = saved

    def con(sf_dir):
        c = con_orig(sf_dir)
        c.execute(f"SET temp_directory='{spill_dir}'")
        return c

    def spark_side(sdf, *a, **k):
        return spark_orig(_ltz(sdf), *a, **k)

    def broken_duck(*a, **k):
        n, h1, h2 = duck_orig(*a, **k)
        return n, h1 + 1, h2

    oracle.duckdb_con, oracle._agghash_scalars_spark = con, spark_side
    if _broken():
        oracle._agghash_scalars_duck = broken_duck
    try:
        yield
    finally:
        (oracle.duckdb_con, oracle._agghash_scalars_spark,
         oracle._agghash_scalars_duck) = saved


def check_query(spark, op: str, sf_dir: str, spill_dir: str) -> None:
    """Raise unless registry query ``op`` matches its DuckDB oracle."""
    with _oracle_patched(spill_dir):
        oracle.compare_agghash(spark, op, sf_dir)


def duck_con(spill_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET threads=2")
    return con


def duck_hash(con, sql: str) -> dict:
    rel = con.sql(sql)
    raw = list(rel.columns)
    types = [oracle.canon_duck_type(t) for t in rel.types]
    order = sorted(range(len(raw)), key=lambda i: raw[i])
    cols, types = [raw[i] for i in order], [types[i] for i in order]
    n, h1, h2 = oracle._agghash_scalars_duck(
        con, sql, cols, types, oracle._AGGHASH_DOUBLE_SCALE
    )
    return {"cols": cols, "types": types, "n": n, "h1": h1, "h2": h2}


def spark_hash(sdf) -> dict:
    sdf = _ltz(sdf)
    oracle.assert_no_decimal("result", sdf)
    fields = {f.name: oracle.canon_spark_type(f.dataType) for f in sdf.schema.fields}
    cols = sorted(sdf.columns)
    types = [fields[c] for c in cols]
    n, h1, h2 = oracle._agghash_scalars_spark(
        sdf, cols, types, oracle._AGGHASH_DOUBLE_SCALE
    )
    return {"cols": cols, "types": types, "n": n, "h1": h1, "h2": h2}


def compare(name: str, got: dict, want: dict) -> None:
    """Raise :class:`CheckFailed` unless the two hashes agree on column
    names, canonical types, row count and both hash sums."""
    if _broken():
        want = dict(want, h1=want["h1"] + 1)
    for key in ("cols", "types", "n", "h1", "h2"):
        if got[key] != want[key]:
            raise CheckFailed(
                f"{name}: {key} differs: spark={got[key]!r} duckdb={want[key]!r}"
            )
