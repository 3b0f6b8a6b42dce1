"""Watermark semantics: events later than the watermark are dropped.

Two-microbatch file stream (maxFilesPerTrigger=1, lexicographic file
order): batch 1 carries recent events and advances the watermark; batch 2
replays *old* events far behind it. In append mode the finalized windows
must count only the on-time rows.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.streaming.events import (
    EVENTS_STREAM_SCHEMA,
    run_to_memory,
    stream_events,
)

T0 = datetime(2024, 6, 1, 0, 0, 0)


def _write_batch(spark, tmp_path, fname, rows):
    """Write one flat parquet *file* ``tmp_path/src/fname`` (file-source
    microbatch unit; a directory name with '=' would be misread as a
    partition column), staged through ``tmp_path/stage/fname``. Returns
    its path."""
    import glob
    import shutil

    df = spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
    tmp = str(tmp_path / "stage" / fname)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = str(tmp_path / "src" / fname)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.copy(part, dest)
    return dest


def test_watermark_guarantees(spark, tmp_path):
    """Microbatch order (the file source sorts by mtime):
    1. on-time events at 10:05/10:20 → watermark advances to 09:20
    2. an event at 00:10, 9+ hours behind the watermark
    3. a future event at 20:00 → watermark 19:00, finalizing the 10:00
       window so append mode emits it

    Asserted guarantees (the strict direction of Spark's watermark
    contract): on-time data is never dropped and its window emits exactly
    once with the right count; windows only emit after the watermark
    passes them (the 20:00 window must NOT appear — wm stops at 19:00).
    The far-late row falls under "data delayed beyond the watermark may
    or may not be aggregated" — empirically Spark 4 aggregates-and-emits
    it immediately (its window has no state to have evicted), so we pin
    that observed behavior too.
    """
    batches = [
        ("000.parquet", [
            (1, T0 + timedelta(hours=10, minutes=5), 1, "click", 1.0, "{}"),
            (2, T0 + timedelta(hours=10, minutes=20), 1, "click", 1.0, "{}"),
        ]),
        ("001.parquet", [
            (3, T0 + timedelta(minutes=10), 1, "click", 1.0, "{}"),
        ]),
        ("002.parquet", [
            (4, T0 + timedelta(hours=20), 1, "click", 1.0, "{}"),
        ]),
    ]
    for i, (fname, rows) in enumerate(batches):
        dest = _write_batch(spark, tmp_path, fname, rows)
        os.utime(dest, (1000000 + i * 100, 1000000 + i * 100))
    src = str(tmp_path / "src")

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    result = {r.ws: r.n for r in run_to_memory(agg, output_mode="append").collect()}
    assert result[T0 + timedelta(hours=10)] == 2  # on-time, exactly once
    assert T0 + timedelta(hours=20) not in result  # wm never passed it
    assert result.get(T0) in (None, 1)  # beyond-watermark: no guarantee


def test_late_events_kept_without_watermark_in_complete_mode(spark, tmp_path):
    """Contrast case: complete mode + no watermark keeps everything."""
    _write_batch(
        spark,
        tmp_path,
        "000.parquet",
        [(1, T0 + timedelta(hours=10), 1, "click", 1.0, "{}")],
    )
    _write_batch(
        spark, tmp_path, "001.parquet", [(2, T0, 1, "click", 1.0, "{}")]
    )
    src = str(tmp_path / "src")
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    result = {r.ws: r.n for r in run_to_memory(agg, output_mode="complete").collect()}
    assert result == {T0 + timedelta(hours=10): 1, T0: 1}
