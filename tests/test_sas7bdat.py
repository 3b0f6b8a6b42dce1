"""SAS7BDAT writer/reader: the binary layout is validated by round-trip
through pandas' *independent* SAS parser (a separate public
implementation of the format), then through the engine's Spark-facing
reader. A writer bug in any header field, subheader offset, or page
layout makes pandas' reader throw or mis-read — so these tests pin the
format, not just self-consistency."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from udacity_data_engineer_capstone_spark.sources.sas7bdat import (
    read_sas7bdat,
    write_sas7bdat,
)

COLS = [
    ("k", "num", 8),
    ("price", "num", 8),
    ("status", "str", 3),
]


def _rows(n: int):
    st = ["OK", "ERR", "NEW"]
    return [(float(i), i + 0.25, st[i % 3]) for i in range(1, n + 1)]


def test_pandas_parses_written_file_single_page(tmp_path):
    path = str(tmp_path / "small.sas7bdat")
    write_sas7bdat(path, COLS, _rows(10), dataset_name="SMALL")
    df = pd.read_sas(path, format="sas7bdat", encoding="utf-8")
    assert list(df.columns) == ["k", "price", "status"]
    assert df.shape == (10, 3)
    assert df["k"].tolist() == [float(i) for i in range(1, 11)]
    assert df["status"].tolist() == [["OK", "ERR", "NEW"][i % 3] for i in range(1, 11)]


def test_pandas_parses_written_file_multi_page(tmp_path):
    path = str(tmp_path / "big.sas7bdat")
    n = 3000  # row_length 19 → hundreds of rows per 4 KiB page → many pages
    write_sas7bdat(path, COLS, _rows(n), dataset_name="BIG")
    df = pd.read_sas(path, format="sas7bdat", encoding="utf-8")
    assert df.shape == (n, 3)
    # page boundaries must not tear rows: spot-check whole columns
    assert df["k"].tolist() == [float(i) for i in range(1, n + 1)]
    assert (df["price"] == [i + 0.25 for i in range(1, n + 1)]).all()


def test_pandas_chunked_read_agrees(tmp_path):
    path = str(tmp_path / "chunked.sas7bdat")
    write_sas7bdat(path, COLS, _rows(777), dataset_name="CHUNK")
    with pd.read_sas(path, format="sas7bdat", chunksize=100, encoding="utf-8") as rdr:
        total = sum(len(c) for c in rdr)
    assert total == 777


def test_spark_reader_roundtrip(spark, tmp_path):
    path = str(tmp_path / "spark.sas7bdat")
    write_sas7bdat(path, COLS, _rows(500), dataset_name="SPARK")
    df = read_sas7bdat(spark, path)
    assert df.count() == 500
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == {"k": "double", "price": "double", "status": "string"}
    from pyspark.sql import functions as F

    agg = df.agg(
        F.sum("k").alias("sk"), F.countDistinct("status").alias("ns")
    ).collect()[0]
    assert agg.sk == sum(range(1, 501)) and agg.ns == 3


def test_spark_reader_stage_is_cached(spark, tmp_path):
    path = str(tmp_path / "cached.sas7bdat")
    write_sas7bdat(path, COLS, _rows(50), dataset_name="CACHED")
    read_sas7bdat(spark, path)
    import glob
    import tempfile

    stage_root = os.path.join(
        tempfile.gettempdir(), f"engine_stage_{os.getuid()}"
    )
    before = set(glob.glob(os.path.join(stage_root, "*cached*")))
    assert before  # staged once
    read_sas7bdat(spark, path)
    assert set(glob.glob(os.path.join(stage_root, "*cached*"))) == before


def _stage_root() -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), f"engine_stage_{os.getuid()}")


def _stages(path: str) -> list[str]:
    """The staged copies of the input at ``path``: one per fingerprint."""
    import glob

    base = os.path.abspath(path).replace("/", "_").strip("_")
    return glob.glob(os.path.join(_stage_root(), f"sas7bdat-{base}-{'?' * 16}"))


def test_rewritten_input_leaves_one_stage(spark, tmp_path):
    """Reading an input again after it was rewritten (a new mtime and
    size) stages it anew and removes the stage of its old contents."""
    path = str(tmp_path / "rewritten.sas7bdat")
    write_sas7bdat(path, COLS, _rows(20), dataset_name="OLD")
    assert read_sas7bdat(spark, path).count() == 20
    old = _stages(path)
    assert len(old) == 1
    write_sas7bdat(path, COLS, _rows(30), dataset_name="NEW")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert read_sas7bdat(spark, path).count() == 30
    now = _stages(path)
    assert len(now) == 1 and now != old


def _plant_stage(stage: str, inputs: list[str]) -> None:
    """An empty stage directory whose sidecar records ``inputs``."""
    os.makedirs(stage)
    with open(os.path.join(stage, "_inputs.json"), "w") as fh:
        json.dump(inputs, fh)


def test_stale_stage_removed_on_read(spark, tmp_path):
    """A stage of the same input under another fingerprint (left by an
    earlier session, before the input changed) is removed by the next
    read; a stage of a different input whose name extends this one's,
    and whose recorded input exists, is kept."""
    path = str(tmp_path / "planted.sas7bdat")
    write_sas7bdat(path, COLS, _rows(10), dataset_name="PLANT")
    os.makedirs(_stage_root(), mode=0o700, exist_ok=True)
    base = os.path.abspath(path).replace("/", "_").strip("_")
    stale = os.path.join(_stage_root(), f"sas7bdat-{base}-{'0' * 16}")
    other = os.path.join(_stage_root(), f"sas7bdat-{base}-2-{'0' * 16}")
    for d in (stale, other):
        _plant_stage(d, [path])
    try:
        assert _stages(path) == [stale]
        assert read_sas7bdat(spark, path).count() == 10
        staged = _stages(path)
        assert len(staged) == 1 and staged != [stale]
        assert os.path.isdir(other)
    finally:
        shutil.rmtree(other, ignore_errors=True)


def test_stage_of_deleted_input_removed_on_read(spark, tmp_path):
    """Each stage records its inputs in an ``_inputs.json`` sidecar that
    Spark does not read as data. Once an input is deleted, a read of any
    other source removes its stage, and a stage with no sidecar goes
    too."""
    gone = str(tmp_path / "gone.sas7bdat")
    write_sas7bdat(gone, COLS, _rows(10), dataset_name="GONE")
    assert read_sas7bdat(spark, gone).count() == 10
    (stage,) = _stages(gone)
    with open(os.path.join(stage, "_inputs.json")) as fh:
        assert json.load(fh) == [os.path.abspath(gone)]
    bare = os.path.join(_stage_root(), f"bare-{'0' * 16}.parquet")
    os.makedirs(bare)
    os.remove(gone)
    kept = str(tmp_path / "kept.sas7bdat")
    write_sas7bdat(kept, COLS, _rows(5), dataset_name="KEPT")
    assert read_sas7bdat(spark, kept).count() == 5
    assert not os.path.exists(stage)
    assert not os.path.exists(bare)
    assert len(_stages(kept)) == 1


def test_writer_rejects_nothing_but_reader_strips_padding(tmp_path):
    # SAS fixed-width semantics: trailing spaces are padding, stripped on
    # read; over-width strings truncate at the declared byte width.
    path = str(tmp_path / "pad.sas7bdat")
    write_sas7bdat(
        path,
        [("s", "str", 4)],
        [("ab",), ("abcdEF",), ("",)],
    )
    df = pd.read_sas(path, format="sas7bdat", encoding="utf-8")
    vals = df["s"].tolist()
    assert vals[0] == "ab" and vals[1] == "abcd"
    # all-space/empty strings surface as missing (NaN) — SAS semantics
    assert pd.isna(vals[2])


def test_multi_file_dir_parses_one_shard_per_file(spark, tmp_path):
    """A directory of .sas7bdat files ingests as one executor task per
    file: the staged parquet holds exactly one shard per input file
    (the distributed write preserves the one-path-per-partition
    layout), and the union row count / content is exact."""
    src = tmp_path / "monthly"
    src.mkdir()
    sizes = [40, 55, 70, 85]
    for i, n in enumerate(sizes):
        write_sas7bdat(
            str(src / f"i94_m{i:02d}.sas7bdat"),
            COLS,
            [(float(i * 1000 + j), j + 0.5, "OK") for j in range(n)],
            dataset_name=f"M{i:02d}",
        )
    df = read_sas7bdat(spark, str(src))
    assert df.count() == sum(sizes)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == {"k": "double", "price": "double", "status": "string"}
    # the staged copy: exactly one parquet shard per input file
    import glob
    import tempfile

    stage_root = os.path.join(
        tempfile.gettempdir(), f"engine_stage_{os.getuid()}"
    )
    sanitized = str(src).replace("/", "_").strip("_")
    staged = [
        d
        for d in glob.glob(os.path.join(stage_root, f"sas7bdat-{sanitized}-*"))
        if os.path.isdir(d)
    ]
    assert len(staged) == 1
    parts = glob.glob(os.path.join(staged[0], "part-*"))
    assert len(parts) == len(sizes)
    from pyspark.sql import functions as F

    assert df.agg(F.sum("k")).collect()[0][0] == sum(
        i * 1000 + j for i, n in enumerate(sizes) for j in range(n)
    )


def test_bulk_parse_runs_in_executors_not_driver(spark, tmp_path, monkeypatch):
    """Pin the distribution claim: the DRIVER python process may only
    do the bounded schema peek (iterator=True, ≤1 row); any chunked
    bulk parse on the driver raises. Python workers are separate
    processes in local mode, so the monkeypatch does not reach them —
    the read succeeding proves every chunked parse ran executor-side."""
    import pandas as pd

    real_read_sas = pd.read_sas

    def guarded(path, *args, **kwargs):
        if kwargs.get("chunksize") is not None:
            raise AssertionError(
                "driver-side chunked SAS parse — ingest must be executor-side"
            )
        return real_read_sas(path, *args, **kwargs)

    monkeypatch.setattr(pd, "read_sas", guarded)

    src = tmp_path / "fleet"
    src.mkdir()
    for i in range(3):
        write_sas7bdat(
            str(src / f"f{i}.sas7bdat"),
            COLS,
            _rows(120 + i),
            dataset_name=f"F{i}",
        )
    df = read_sas7bdat(spark, str(src))
    assert df.count() == 120 + 121 + 122


def test_zero_row_file_schema_from_header(spark, tmp_path):
    path = str(tmp_path / "empty.sas7bdat")
    write_sas7bdat(path, COLS, [], dataset_name="EMPTY")
    df = read_sas7bdat(spark, path)
    assert df.count() == 0
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == {"k": "double", "price": "double", "status": "string"}
