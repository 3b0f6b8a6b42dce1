"""Registry and catalog contract tests."""

from __future__ import annotations

import pytest

import udacity_data_engineer_capstone_spark as engine
from udacity_data_engineer_capstone_spark.catalog import load_table
from udacity_data_engineer_capstone_spark.registry import query

engine.load_all()


def test_unknown_table_raises(spark, sf_dir):
    with pytest.raises(KeyError):
        load_table(spark, sf_dir, "nonexistent")


def test_duplicate_query_name_rejected():
    with pytest.raises(ValueError):

        @query("flagship_regional_revenue")
        def dup(spark, sf_dir):  # pragma: no cover
            raise AssertionError


def test_every_oracle_has_a_query():
    assert set(engine.get_oracles()) <= set(engine.get_queries())


def test_survey_inventory_complete():
    """Every SURVEY §2 operator ID must be a registered query."""
    survey_ids = {
        "src_config", "src_sas_labels", "src_local_rows", "src_csv",
        "src_sas7bdat", "snk_parquet_part2", "snk_parquet_part1",
        "snk_parquet_plain", "src_temp_view", "flt_neq", "flt_notnull",
        "flt_post_join", "prj_alias", "prj_star_qualified", "prj_drop",
        "fn_regexp_replace", "fn_split_getitem", "fn_trim", "fn_lower",
        "fn_withcolumn", "udf_sas_date", "join_left_5way", "join_inner_expr",
        "agg_groupby_sum", "act_count_dq", "sql_select",
    }
    registered = set(engine.get_queries())
    missing = survey_ids - registered
    assert not missing, f"SURVEY §2 IDs without a query: {missing}"
    # and all of them must carry an oracle (full correctness gate)
    unoracled = survey_ids - set(engine.get_oracles())
    assert not unoracled, f"SURVEY §2 IDs without an oracle: {unoracled}"


def test_bench_headline_names_are_registered():
    """bench.py's HEADLINE list must reference only registered queries —
    a rename that orphans a bench entry should fail here, not in the
    driver's bench run."""
    import bench

    import udacity_data_engineer_capstone_spark as engine

    engine.load_all()
    missing = [n for n in bench.HEADLINE if n not in engine.QUERIES]
    assert not missing, missing


def test_no_decimal_invariant_guard(spark):
    """COVERAGE.md's zero-DECIMAL-output sweep as a pytest invariant:
    every registered query's result schema is checked by
    tests.oracle.assert_no_decimal inside the parity gate (all
    queries, sf0.001 + sf0.01, oracled or not) — so the r2/r3
    driver-hash-fail class (DECIMAL precision drift / HUGEINT
    promotion) cannot regress silently. This test pins the guard
    itself: it must fire on any decimal, including nested ones."""
    from pyspark.sql import functions as F

    from tests.oracle import assert_no_decimal

    ok = spark.range(1).select(F.lit(1).cast("bigint").alias("x"))
    assert_no_decimal("ok", ok)

    flat = spark.range(1).select(F.lit(1).cast("decimal(18,4)").alias("d"))
    with pytest.raises(AssertionError, match="DECIMAL"):
        assert_no_decimal("flat", flat)

    nested = spark.range(1).select(
        F.array(F.lit(1).cast("decimal(10,2)")).alias("arr")
    )
    with pytest.raises(AssertionError, match="DECIMAL"):
        assert_no_decimal("nested", nested)


def test_env_settings_documented():
    """Every ``SPARK_GRAFT_*`` name the package source mentions is listed
    in README.md's "Settings" section, and the section lists nothing
    else: a new knob cannot land undocumented."""
    import pathlib
    import re

    root = pathlib.Path(engine.__file__).parent
    used = {
        name
        for path in root.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text())
    }
    readme = (root.parent / "README.md").read_text()
    section = readme.split("\n## Settings\n", 1)[1].split("\n## ", 1)[0]
    documented = set(re.findall(r"^\| `(SPARK_GRAFT_[A-Z0-9_]+)`", section, re.M))
    assert used == documented
