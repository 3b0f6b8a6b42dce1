"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Runs a registered query's PySpark implementation and its DuckDB oracle SQL
over the same parquet tables, then compares row count, column names,
**column result types** (strict: Spark's ``simpleString`` must equal the
canonicalized DuckDB result type — no HUGEINT, no decimal-precision drift,
no int-width drift), and order-insensitive values compared **exactly**
(no float tolerance, no Decimal→float collapse).

The driver's value hash is type-sensitive (round-2 evidence: identical
values at DECIMAL(33,4) vs DECIMAL(38,4), INT vs BIGINT rank, BIGINT vs
HUGEINT sum all hash-mismatched), so this gate is deliberately at least
as strict as the driver.
"""

from __future__ import annotations

import math
import os
import re
from datetime import date, datetime
from decimal import Decimal

import duckdb

from udacity_data_engineer_capstone_spark.catalog import TABLES, table_path
from udacity_data_engineer_capstone_spark.registry import QUERIES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # bound the oracle engine: an in-memory DuckDB with no temp
    # directory cannot offload, and a big self-join balloons RSS until
    # the OS kills the whole comparing process (observed 118 GB on the
    # sf100 ngram inverted-index oracle). With a spill dir it degrades
    # to disk and fails loudly on ENOSPC instead.
    con.execute("SET memory_limit='40GB'")
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for t in TABLES:
        path = table_path(sf_dir, t)
        if os.path.isdir(path):
            # Spark-written table: a DIRECTORY of part files
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


# --- type canonicalization -------------------------------------------------

_DUCK_RENAMES = {
    "varchar": "string",
    "blob": "binary",
    "integer": "int",
    # Spark TIMESTAMP is session-tz (LTZ); DuckDB naive TIMESTAMP carries the
    # same wall-clock values — driver evidence (join_asof_event green) says
    # these hash equal.
    "timestamp with time zone": "timestamp",
}


def canon_duck_type(t: str) -> str:
    """DuckDB type string -> Spark ``simpleString`` style."""
    s = str(t).strip().lower()
    # nested lists: DOUBLE[] -> array<double> (recursion handles nesting)
    if s.endswith("[]"):
        return f"array<{canon_duck_type(s[:-2])}>"
    m = re.fullmatch(r"map\((.+),\s*(.+)\)", s)
    if m:
        return f"map<{canon_duck_type(m.group(1))},{canon_duck_type(m.group(2))}>"
    m = re.fullmatch(r"struct\((.+)\)", s)
    if m:
        # keep struct opaque-but-canonical: lowercase, collapse spaces
        return "struct<" + re.sub(r"\s+", " ", m.group(1)) + ">"
    if s in _DUCK_RENAMES:
        return _DUCK_RENAMES[s]
    return s  # bigint, int, double, float, decimal(p,s), date, timestamp,
    #           boolean, hugeint (never matches a Spark type — intended)


def canon_spark_type(t) -> str:
    s = t.simpleString()
    # Spark TIMESTAMP_NTZ and DuckDB naive TIMESTAMP are both Arrow
    # timestamp[us] (no tz) — identical; LTZ passed the driver too
    # (join_asof_event r1+r2), so all timestamp flavors canonicalize.
    return "timestamp" if s == "timestamp_ntz" else s


# --- value canonicalization (type-preserving) ------------------------------


def _canon(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return v  # exact; scale parity is enforced by the type check
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def assert_no_decimal(name: str, sdf) -> None:
    """Engine-wide invariant (COVERAGE.md; r2/r3 driver hash-fails):
    NO registered query may emit a DECIMAL anywhere in its result
    schema — including nested inside arrays/maps/structs. DECIMAL
    precision drift (33,4 vs 38,4; HUGEINT promotion) is the one class
    the driver's type-sensitive value hash punished; exact results ride
    in BIGINT cents/micros lanes instead."""
    bad = [
        f.name
        for f in sdf.schema.fields
        if "decimal" in f.dataType.simpleString().lower()
    ]
    assert not bad, (
        f"{name}: DECIMAL in result schema (driver-hash-unstable) "
        f"columns={bad}"
    )


def compare(spark, name: str, sf_dir: str) -> None:
    """Assert the Spark query and its oracle agree at ``sf_dir`` —
    column names, result types, row count, and exact values."""
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    assert_no_decimal(name, sdf)
    fields = {f.name: canon_spark_type(f.dataType) for f in sdf.schema.fields}
    spark_cols = sorted(sdf.columns)
    spark_types = [fields[c] for c in spark_cols]
    spark_rows = [
        tuple(_canon(row[c]) for c in spark_cols) for row in sdf.collect()
    ]

    assert spec.oracle is not None, f"{name} has no oracle"
    con = duckdb_con(sf_dir)
    rel = con.sql(spec.oracle_text())
    duck_cols_raw = list(rel.columns)
    duck_types_raw = [canon_duck_type(t) for t in rel.types]
    order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = [duck_cols_raw[i] for i in order]
    duck_types = [duck_types_raw[i] for i in order]
    duck_rows = [tuple(_canon(r[i]) for i in order) for r in rel.fetchall()]

    assert spark_cols == duck_cols, (
        f"{name}: column mismatch spark={spark_cols} duckdb={duck_cols}"
    )
    type_diffs = [
        (c, st, dt)
        for c, st, dt in zip(spark_cols, spark_types, duck_types)
        if st != dt
    ]
    assert not type_diffs, (
        f"{name}: result-TYPE mismatch (driver hash would fail) "
        f"[(col, spark, duckdb)]: {type_diffs}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count mismatch spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )

    spark_rows.sort(key=_sort_key)
    duck_rows.sort(key=_sort_key)
    bad = [
        (i, s, d)
        for i, (s, d) in enumerate(zip(spark_rows, duck_rows))
        if s != d
    ]
    assert not bad, f"{name}: {len(bad)} mismatched rows; first 3: {bad[:3]}"


# --- aggregate-hash compare (scaled-result mode) ---------------------------
#
# ``compare`` materializes both result sets on the driver — at sf10+ a
# full-table output (10M+ rows) OOMs the comparing process (~108 GB RSS
# observed, round 10). ``compare_agghash`` instead folds each engine's
# ENTIRE result down to three scalars INSIDE that engine — row count
# plus two independent 60-bit sums of per-row md5 chunks over a
# canonicalized row string — and compares the scalars. Order-
# insensitive (sum), distributed on the Spark side (no driver
# materialization), out-of-core on the DuckDB side.
#
# Canonical cell rendering (must be bit-identical across engines):
#   int lanes  -> CAST AS STRING          (identical decimal text)
#   string     -> the value itself
#   boolean    -> '1' / '0' (NULL-preserving CASE: a NULL boolean must
#                 fall through to the chr(1) null marker like every
#                 other lane, not silently render as '0' — a plain
#                 CASE WHEN x THEN '1' ELSE '0' END would make a
#                 NULL-vs-false cross-engine divergence hash-invisible)
#   date       -> CAST AS STRING          (ISO-8601 in both)
#   timestamp  -> epoch micros as text    (unix_micros / epoch_us;
#                 session TZ is UTC so LTZ wall-clocks agree)
#   double     -> CAST(FLOOR(x * 10^k + 0.5) AS BIGINT) text — the
#                 engine's integer-lane idiom. Every double op here is
#                 IEEE-identical in both engines, so the rendering is
#                 deterministic; and because the engine's double lanes
#                 carry <=k-decimal rationals (cents/micros
#                 discipline), the scaled integer recovers the EXACT
#                 underlying rational, not an approximation. A double
#                 whose |x|*10^k exceeds int64 ANSI-aborts loudly in
#                 both engines (no silent wrap). NaN/±inf render as
#                 literals.
# NULL renders as chr(1) (unreachable by real data); cells join with
# chr(31). Java's %.17e is NOT correctly rounded (pads shortest-repr
# digits with zeros, measured: 0.1 -> ...00000e-01 vs DuckDB's
# ...00006e-01), which is why doubles canonicalize via scaled integers
# rather than text formatting.
#
# INPUT CONTRACT for the double lane (round-12, after the r11
# hypothesis counterexample 1801439850948.6562): the rendering is
# bit-identical ONLY for bit-identical input doubles. That holds in
# every real gate run — both engines read the same parquet bits and
# every double op in enrolled queries is IEEE-identical — but NOT for
# doubles ingested as bare SQL literals: DuckDB parses a bare
# `1801439850948.6562` as DECIMAL(17,4) and converts (hugeint→double,
# two roundings, measured bits ...4a7f) while Spark/Python parse the
# string correctly-rounded (bits ...4a80) — a 1-ulp ingestion skew
# that the x*10^k magnification then exposes, measured:
# 18014398509486564 vs 18014398509486560. The r11 red
# test_double_rendering_parity was exactly this harness-ingestion
# artifact (its DuckDB lane interpolated bare literals); the fix is
# `CAST('<repr>' AS DOUBLE)` (string parse, correctly rounded in both)
# everywhere a test feeds doubles to DuckDB by literal, and the
# property suite re-certifies the rendering over the full drawn range.
# Corollary: oracle SQL enrolled for agghash must not synthesize NEW
# fractional double literals on result lanes (comparisons/ratios
# against literals are fine — both parse to doubles within 1 ulp and
# the engine-side values they gate are identical).
#
# SCALE discipline (per-query): `scale` is a parameter of
# compare_agghash. The default k=4 is exact for this engine's
# cents/rates discipline (every enrolled double lane carries a
# <=4-decimal rational); any future query with finer lanes (e.g. a
# 6-decimal price*(1-disc)*(1+tax)) must enroll with its own k and
# int64 headroom check — divergences below 5·10^-(k+1) are invisible
# at scale k by construction.

_AGGHASH_DOUBLE_SCALE = 4


def _cell_exprs(col: str, canon_type: str, engine: str, scale: int):
    """Render one column to its canonical string in ``engine``
    ('spark' | 'duck') SQL. Raises on types with no portable canonical
    form (arrays/maps/structs/decimal) — those queries keep the
    row-materializing gate."""
    q = f'"{col}"' if engine == "duck" else f"`{col}`"
    if canon_type == "string":
        base = q
    elif canon_type in ("bigint", "int", "smallint", "tinyint"):
        base = f"CAST({q} AS STRING)" if engine == "spark" else f"CAST({q} AS VARCHAR)"
    elif canon_type == "boolean":
        # NULL-preserving: no ELSE, so NULL stays NULL and COALESCE
        # maps it to chr(1) like every other lane (a blanket ELSE '0'
        # would render NULL and false identically)
        base = f"CASE WHEN {q} THEN '1' WHEN NOT {q} THEN '0' END"
    elif canon_type == "date":
        base = f"CAST({q} AS STRING)" if engine == "spark" else f"CAST({q} AS VARCHAR)"
    elif canon_type == "timestamp":
        base = (
            f"CAST(unix_micros(CAST({q} AS TIMESTAMP)) AS STRING)"
            if engine == "spark"
            else f"CAST(epoch_us({q}) AS VARCHAR)"
        )
    elif canon_type in ("double", "float"):
        mul = 10**scale
        if engine == "spark":
            num = (
                f"CASE WHEN isnan({q}) THEN 'nan'"
                f" WHEN {q} = double('Infinity') THEN 'inf'"
                f" WHEN {q} = double('-Infinity') THEN '-inf'"
                f" ELSE CAST(CAST(FLOOR({q} * {mul} + 0.5) AS BIGINT) AS STRING) END"
            )
        else:
            num = (
                f"CASE WHEN isnan({q}) THEN 'nan'"
                f" WHEN isinf({q}) AND {q} > 0 THEN 'inf'"
                f" WHEN isinf({q}) THEN '-inf'"
                f" ELSE CAST(CAST(FLOOR({q} * {mul} + 0.5) AS BIGINT) AS VARCHAR) END"
            )
        base = num
    else:
        raise AssertionError(
            f"column {col}: no portable canonical form for type {canon_type}"
        )
    return f"COALESCE({base}, chr(1))"


def _agghash_scalars_spark(sdf, cols, types, scale):
    cells = [
        _cell_exprs(c, t, "spark", scale) for c, t in zip(cols, types)
    ]
    row_s = f"concat_ws(chr(31), {', '.join(cells)})"
    agg = sdf.selectExpr(f"md5({row_s}) AS h").selectExpr(
        "CAST(COUNT(*) AS STRING) AS n",
        "CAST(SUM(CAST(conv(substring(h, 1, 15), 16, 10) AS DECIMAL(38,0)))"
        " AS STRING) AS h1",
        "CAST(SUM(CAST(conv(substring(h, 17, 15), 16, 10) AS DECIMAL(38,0)))"
        " AS STRING) AS h2",
    )
    r = agg.collect()[0]
    return int(r["n"]), int(r["h1"] or 0), int(r["h2"] or 0)


def _agghash_scalars_duck(con, oracle_sql: str, cols, types, scale):
    cells = [
        _cell_exprs(c, t, "duck", scale) for c, t in zip(cols, types)
    ]
    row_s = f"concat_ws(chr(31), {', '.join(cells)})"
    q = f"""
WITH q AS ({oracle_sql}),
h AS (SELECT md5({row_s}) AS h FROM q)
SELECT CAST(COUNT(*) AS VARCHAR) AS n,
       CAST(SUM(CAST(CAST('0x' || substr(h, 1, 15) AS BIGINT) AS HUGEINT))
            AS VARCHAR) AS h1,
       CAST(SUM(CAST(CAST('0x' || substr(h, 17, 15) AS BIGINT) AS HUGEINT))
            AS VARCHAR) AS h2
FROM h
"""
    n, h1, h2 = con.sql(q).fetchone()
    return int(n), int(h1 or 0), int(h2 or 0)


def compare_agghash(
    spark, name: str, sf_dir: str, scale: int = _AGGHASH_DOUBLE_SCALE
) -> dict:
    """Scaled-result oracle gate: assert the Spark query and its DuckDB
    oracle agree at ``sf_dir`` on column names, canonical result types,
    row count, and an order-insensitive whole-result hash — WITHOUT
    materializing a single result row outside either engine. Strictly
    weaker than :func:`compare` only in that equal hashes are
    probabilistic evidence (two independent 60-bit chunk sums) rather
    than row-by-row equality; every canonical rendering above is
    value-exact for this engine's lanes, including doubles (scaled
    integers of <=``scale``-decimal rationals)."""
    spec = QUERIES[name]
    sdf = spec.fn(spark, sf_dir)
    assert_no_decimal(name, sdf)
    fields = {f.name: canon_spark_type(f.dataType) for f in sdf.schema.fields}
    spark_cols = sorted(sdf.columns)
    spark_types = [fields[c] for c in spark_cols]

    assert spec.oracle is not None, f"{name} has no oracle"
    con = duckdb_con(sf_dir)
    rel = con.sql(spec.oracle_text())  # binds lazily: types without a run
    duck_cols_raw = list(rel.columns)
    duck_types_raw = [canon_duck_type(t) for t in rel.types]
    order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = [duck_cols_raw[i] for i in order]
    duck_types = [duck_types_raw[i] for i in order]

    assert spark_cols == duck_cols, (
        f"{name}: column mismatch spark={spark_cols} duckdb={duck_cols}"
    )
    type_diffs = [
        (c, st, dt)
        for c, st, dt in zip(spark_cols, spark_types, duck_types)
        if st != dt
    ]
    assert not type_diffs, (
        f"{name}: result-TYPE mismatch [(col, spark, duckdb)]: {type_diffs}"
    )

    s_n, s_h1, s_h2 = _agghash_scalars_spark(sdf, spark_cols, spark_types, scale)
    d_n, d_h1, d_h2 = _agghash_scalars_duck(
        con, spec.oracle_text(), duck_cols, duck_types, scale
    )
    assert s_n == d_n, f"{name}: row count mismatch spark={s_n} duckdb={d_n}"
    assert (s_h1, s_h2) == (d_h1, d_h2), (
        f"{name}: aggregate-hash mismatch over {s_n} rows "
        f"(spark=({s_h1},{s_h2}) duckdb=({d_h1},{d_h2}))"
    )
    return {"rows": s_n, "h1": s_h1, "h2": s_h2}
