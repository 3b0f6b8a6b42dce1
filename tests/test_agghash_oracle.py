"""The aggregate-hash oracle mode (tests/oracle.compare_agghash).

Round-11 directive 1: the row-materializing gate OOMs on full-table
outputs at sf10+ (108 GB RSS, round 10) — this mode folds each engine's
whole result to (count, two 60-bit md5-chunk sums) INSIDE that engine
and compares scalars. These tests pin:

1. agreement with the exact gate on queries covering every canonical
   cell type (int, string, date, timestamp, double, boolean);
2. sensitivity — a value perturbation, a dropped row, and a NULL/empty
   swap each flip the hash;
3. the double rendering's cross-engine determinism on adversarial
   values (the reason text formatting was rejected: Java's %.17e pads
   shortest-repr digits with zeros and diverges from C's).
"""

from __future__ import annotations

import duckdb
import pytest

import udacity_data_engineer_capstone_spark as engine

engine.load_all()

from tests.oracle import (  # noqa: E402
    QUERIES,
    _cell_exprs,
    compare,
    compare_agghash,
)

SF = "/root/testdata/sf0.001"

# Coverage across canonical cell types:
#   win_running_frame      bigint + double + int lanes, full-table output
#   ts_rolling_median      string + timestamp + bigint
#   join_salted_skew       bigint + double (net_price IEEE product lane)
#   fn_datetime            date + timestamp + int lanes
#   agg_null_profile       NULL-bearing aggregate
CASES = [
    "win_running_frame",
    "ts_rolling_median",
    "join_salted_skew",
    "fn_datetime",
    "agg_null_profile",
]


@pytest.mark.parametrize("name", CASES)
def test_agghash_agrees_where_exact_gate_passes(spark, name):
    compare(spark, name, SF)  # the exact gate
    compare_agghash(spark, name, SF)  # must agree


@pytest.mark.parametrize("sf_dir", [SF, "/root/testdata/sf0.01"])
def test_agghash_renders_timestamp_ntz(spark, sf_dir):
    """``canon_spark_type`` folds TIMESTAMP_NTZ into timestamp, so the
    Spark rendering must accept both: ``tpch_q3_shipping_priority``
    returns ``o_orderdate`` as TIMESTAMP_NTZ."""
    compare_agghash(spark, "tpch_q3_shipping_priority", sf_dir)


def _mutated(name: str, old: str, new: str):
    spec = QUERIES[name]
    orig = spec.oracle_text()
    assert old in orig, f"mutation target {old!r} not in oracle"

    class Mut:
        fn = staticmethod(spec.fn)
        oracle = spec.oracle

        @staticmethod
        def oracle_text():
            return orig.replace(old, new, 1)

    return Mut


def test_agghash_detects_value_mutation(spark, monkeypatch):
    mut = _mutated(
        "ts_rolling_median", "sum_cents,", "sum_cents + 1 AS sum_cents,"
    )
    monkeypatch.setitem(QUERIES, "__mut_val__", mut)
    with pytest.raises(AssertionError, match="aggregate-hash mismatch"):
        compare_agghash(spark, "__mut_val__", SF)


def test_agghash_detects_dropped_rows(spark, monkeypatch):
    spec = QUERIES["join_salted_skew"]

    class Mut:
        fn = staticmethod(spec.fn)
        oracle = spec.oracle

        @staticmethod
        def oracle_text():
            return spec.oracle_text() + " WHERE l.l_linenumber <> 1"

    monkeypatch.setitem(QUERIES, "__mut_rows__", Mut)
    with pytest.raises(AssertionError, match="row count mismatch"):
        compare_agghash(spark, "__mut_rows__", SF)


def test_double_rendering_is_cross_engine_exact(spark):
    """The FLOOR(x*10^k + 0.5) lane must render identically for the
    kinds of doubles the engine emits — including values whose Java
    shortest-repr text would differ from C's %.17e."""
    vals = [
        0.1,
        12345.678,
        -12345.678,
        0.00005,  # rounds up at scale 4
        -0.00005,
        99999999.9999,
        123.45 * (1 - 0.07),  # the net_price product shape
        2.5e-5,
        0.0,
    ]
    cell_s = _cell_exprs("v", "double", "spark", 4)
    cell_d = _cell_exprs("v", "double", "duck", 4)
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    got_s = [r[0] for r in sdf.selectExpr(f"{cell_s} AS c").collect()]
    con = duckdb.connect()
    got_d = [
        con.sql(
            f"SELECT {cell_d} AS c FROM (SELECT CAST({v!r} AS DOUBLE) AS v)"
        ).fetchone()[0]
        for v in vals
    ]
    assert got_s == got_d, list(zip(vals, got_s, got_d))


def test_nan_inf_null_rendering(spark):
    cell_s = _cell_exprs("v", "double", "spark", 4)
    cell_d = _cell_exprs("v", "double", "duck", 4)
    sdf = spark.createDataFrame(
        [(float("nan"),), (float("inf"),), (float("-inf"),), (None,)],
        "v double",
    )
    got_s = [r[0] for r in sdf.selectExpr(f"{cell_s} AS c").collect()]
    con = duckdb.connect()
    got_d = [
        con.sql(f"SELECT {cell_d} AS c FROM (SELECT {lit} AS v)").fetchone()[0]
        for lit in (
            "CAST('nan' AS DOUBLE)",
            "CAST('inf' AS DOUBLE)",
            "CAST('-inf' AS DOUBLE)",
            "CAST(NULL AS DOUBLE)",
        )
    ]
    assert got_s == got_d == ["nan", "inf", "-inf", "\x01"]
