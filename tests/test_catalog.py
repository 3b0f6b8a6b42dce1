"""The catalog's resolve-once schema memo: a table's parquet footer is
converted in the driver JVM on its first read, with no Spark job and to
the schema Spark's inference gives, later reads supply the cached
``StructType``, and a rewritten file, the layout shim's kill switch and
concurrent loaders all still see the right schema."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, bind_active_session, spark_job_ids
from udacity_data_engineer_capstone_spark.catalog import (
    TABLES,
    _footer_schema,
    load_table,
    register_views,
    table_path,
)


def _copy_tables(dst, names=TABLES) -> str:
    for name in names:
        shutil.copyfile(table_path(SF_DIR, name), table_path(str(dst), name))
    return str(dst)


def test_second_load_launches_no_job(spark, tmp_path):
    sf = _copy_tables(tmp_path, ("orders",))
    with spark_job_ids(spark) as cold:
        first = load_table(spark, sf, "orders")
    with spark_job_ids(spark) as warm:
        second = load_table(spark, sf, "orders")
    with spark_job_ids(spark) as action:
        n = second.count()
    assert action, "the job counter should see the count's job"
    assert cold == [] and warm == []  # the footer is read in the driver
    assert second.schema == first.schema
    assert n == first.count()


def test_register_views_launches_no_job(spark, tmp_path):
    sf = _copy_tables(tmp_path)  # unseen paths: every schema resolves cold
    child = spark.newSession()  # keeps the temp views off the shared session
    with spark_job_ids(spark) as ids:
        views = register_views(child, sf)
    assert ids == []
    assert set(views) == set(TABLES)


_TIERS = sorted(
    d for d in os.listdir(os.path.dirname(SF_DIR)) if d.startswith("sf")
)


@pytest.mark.parametrize("tier", _TIERS)
def test_footer_schema_equals_inferred(spark, tier):
    sf = os.path.join(os.path.dirname(SF_DIR), tier)
    for name in TABLES:
        path = table_path(sf, name)
        assert _footer_schema(spark, path) == spark.read.parquet(path).schema, name


def test_unreadable_footer_gives_no_schema(spark, tmp_path):
    """A Py4J error from the footer read yields None, so the caller
    falls back to Spark's inference."""
    path = tmp_path / "junk.parquet"
    path.write_bytes(b"not a parquet file")
    assert _footer_schema(spark, str(path)) is None


def test_in_place_rewrite_is_picked_up(spark, tmp_path):
    sf = _copy_tables(tmp_path, ("region",))
    before = load_table(spark, sf, "region")
    path = table_path(sf, "region")
    tbl = pq.read_table(path)
    pq.write_table(tbl.append_column("r_extra", pa.array([7] * tbl.num_rows)), path)
    after = load_table(spark, sf, "region")
    assert "r_extra" not in before.columns
    assert after.columns == before.columns + ["r_extra"]
    assert after.agg(F.sum("r_extra")).first()[0] == 7 * tbl.num_rows


def test_two_loads_self_join_unambiguously(spark, sf_dir):
    a = load_table(spark, sf_dir, "lineitem")
    b = load_table(spark, sf_dir, "lineitem")
    joined = a.join(b, a.l_orderkey == b.l_orderkey)
    expected = (
        a.groupBy("l_orderkey").count()
        .agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    assert joined.select(a.l_linenumber, b.l_linenumber).count() == expected


def test_disable_layout_shim_serves_original_path(spark, tmp_path, monkeypatch):
    # a single-row-group file large enough for the shim to rewrite
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    sf = tmp_path / "sf"
    sf.mkdir()
    src = table_path(str(sf), "region")
    n = 60_000
    pq.write_table(
        pa.table({"r_regionkey": pa.array(range(n), pa.int64()),
                  "r_name": pa.array([f"r{i % 5}" for i in range(n)])}),
        src, row_group_size=n,
    )
    shimmed = load_table(spark, str(sf), "region")
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_LAYOUT_SHIM", "1")
    original = load_table(spark, str(sf), "region")
    assert [f.endswith(src) for f in shimmed.inputFiles()] == [False]
    assert [f.endswith(src) for f in original.inputFiles()] == [True]
    assert original.schema == shimmed.schema
    assert original.count() == shimmed.count() == n


def test_concurrent_loads_match_serial(spark, tmp_path):
    serial = {name: load_table(spark, SF_DIR, name).schema for name in TABLES}
    sf = _copy_tables(tmp_path)  # unseen paths: every thread starts cold

    def load_all(_):
        bind_active_session(spark)
        return {name: load_table(spark, sf, name).schema for name in TABLES}

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(load_all, range(8), timeout=300))
    finally:
        sys.setswitchinterval(old)
    assert len(results) == 8
    for got in results:
        assert got == serial
