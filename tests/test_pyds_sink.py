"""Custom Python DataSource WRITER: the manifest commit protocol.

The registered query (``snk_python_datasource``) hash-verifies the
happy path against the oracle; these tests pin the COMMIT PROTOCOL
itself — the properties that make the sink safe under task retries,
speculation, and concurrent readers at scale:

1. readers are manifest-scoped: a stray part file in the output
   directory (a leaked failed-attempt artifact) is invisible;
2. overwrite atomically replaces the previous commit;
3. empty partitions produce sentinel commit messages, never files;
4. the staging dir is gone after commit and the manifest's row count
   equals the sum of its per-file counts.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.catalog import load_table
from udacity_data_engineer_capstone_spark.sources.pyds import (
    SINK_MANIFEST,
    read_manifest_parquet,
    register_manifest_sink,
)

_SCHEMA = "n_nationkey int, n_name string"


def _write(spark, df, path: str) -> None:
    register_manifest_sink(spark)
    df.write.format("manifest_parquet").mode("overwrite").option(
        "path", path
    ).save()


def test_manifest_scoped_read_ignores_orphan_files(spark, sf_dir, tmp_path):
    d = str(tmp_path / "out")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    n_src = nation.count()
    _write(spark, nation, d)
    # leak an orphan "failed attempt" part file straight into the root
    orphan = pa.table({"n_nationkey": [9999], "n_name": ["GHOST"]})
    pq.write_table(orphan, os.path.join(d, "part-orphan.parquet"))
    df, manifest = read_manifest_parquet(spark, d, _SCHEMA)
    assert manifest["n_rows"] == n_src
    assert df.count() == n_src
    assert df.filter(F.col("n_nationkey") == 9999).count() == 0


def test_overwrite_replaces_previous_commit(spark, sf_dir, tmp_path):
    d = str(tmp_path / "out")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_nationkey"),
        F.col("r_name").alias("n_name"),
    )
    _write(spark, nation, d)
    _write(spark, region, d)
    df, manifest = read_manifest_parquet(spark, d, _SCHEMA)
    n_region = region.count()
    assert manifest["n_rows"] == n_region
    assert df.count() == n_region
    # nothing from the first commit survives, on disk or in the manifest
    names = {f["filename"] for f in manifest["files"]}
    on_disk = {
        p for p in os.listdir(d) if p.startswith("part-")
    }
    assert on_disk == names


def test_empty_partitions_commit_no_files(spark, sf_dir, tmp_path):
    d = str(tmp_path / "out")
    nation = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .repartition(200)  # far more partitions than rows -> empties
    )
    n_src = nation.count()
    _write(spark, nation, d)
    df, manifest = read_manifest_parquet(spark, d, _SCHEMA)
    assert manifest["n_rows"] == n_src
    assert df.count() == n_src
    assert all(f["n_rows"] > 0 for f in manifest["files"])
    assert len(manifest["files"]) <= n_src


def test_stream_sink_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying a micro-batch (failure after sink commit, before the
    engine checkpoints) rewrites the SAME per-batch manifest: the
    retry's files replace the first attempt's in manifest scope, the
    orphans stay invisible, and total visible rows don't double."""
    from udacity_data_engineer_capstone_spark.sources.pyds import (
        _ManifestParquetStreamWriter,
        read_stream_manifests,
    )

    d = str(tmp_path / "out")
    w = _ManifestParquetStreamWriter({"path": d})
    batch = pa.record_batch(
        {"n_nationkey": [1, 2, 3], "n_name": ["A", "B", "C"]}
    )
    # attempt 1 of batch 0: staged + committed
    m1 = w.write(iter([batch]))
    w.commit([m1], batchId=0)
    # batch 0 REPLAYS (same data, new attempt) and commits again
    m2 = w.write(iter([batch]))
    w.commit([m2], batchId=0)
    # one batch-1 commit on top
    m3 = w.write(iter([batch]))
    w.commit([m3], batchId=1)
    df, manifests = read_stream_manifests(spark, d, _SCHEMA)
    assert [m["batch_id"] for m in manifests] == [0, 1]
    assert df.count() == 6  # 3 per batch; the replay did not double
    # the replaced attempt's file is an on-disk orphan, not visible
    visible = {
        f["filename"] for m in manifests for f in m["files"]
    }
    assert m1.filename not in visible and m2.filename in visible


def test_commit_cleans_staging_and_counts_agree(spark, sf_dir, tmp_path):
    d = str(tmp_path / "out")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    _write(spark, nation, d)
    assert not os.path.isdir(os.path.join(d, "_temporary"))
    with open(os.path.join(d, SINK_MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert manifest["n_rows"] == sum(f["n_rows"] for f in manifest["files"])
    for f in manifest["files"]:
        assert os.path.isfile(os.path.join(d, f["filename"]))


def test_registration_is_per_session(spark, tmp_path):
    """Spark keeps registered data sources per session: a ``newSession()``
    child of a session that already registered ``sas_labels`` gets its
    own registration, and reads through it."""
    from udacity_data_engineer_capstone_spark.sources.pyds import register

    labels = tmp_path / "labels.sas"
    labels.write_text("value i94cntyl\n  101 = 'ALBANIA'\n  102 = 'ANDORRA'\n;\n")
    register(spark)
    child = spark.newSession()
    register(child)
    rows = child.read.format("sas_labels").option("path", str(labels)).load()
    assert sorted(tuple(r) for r in rows.collect()) == [
        ("i94cntyl", "101", "ALBANIA"),
        ("i94cntyl", "102", "ANDORRA"),
    ]
