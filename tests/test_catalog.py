"""The catalog's resolve-once schema memo: a table's parquet footer is
inferred by one Spark job on its first read, later reads supply the
cached ``StructType`` and launch none, and a rewritten file, the layout
shim's kill switch and concurrent loaders all still see the right
schema."""

from __future__ import annotations

import shutil
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, bind_active_session, spark_job_ids
from udacity_data_engineer_capstone_spark.catalog import (
    TABLES,
    load_table,
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
    # the cold read infers the footer with a job, so the counter works
    assert cold, "first read of an unseen file should infer its schema"
    assert warm == []
    assert second.schema == first.schema
    assert second.count() == first.count()


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
