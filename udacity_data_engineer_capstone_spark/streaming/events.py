"""Structured Streaming twins of the batch event-time operators.

The reference has no streaming at all (SURVEY §2.8); this module gives
the engine the ``readStream → window/watermark → writeStream`` surface:

- :func:`stream_events` — file-source stream over the events parquet;
- :func:`tumbling_counts` — watermarked 1-hour tumbling aggregation;
- :func:`run_to_memory` — drain with ``availableNow`` into a memory sink
  (what a production job would do with a real sink + checkpoint);
- :func:`running_user_totals` — custom stateful op via
  ``applyInPandasWithState`` (running per-user count/sum).

On a cluster the same code runs continuously against kafka/file sources;
watermarks bound state so the 100 TB-equivalent stream never grows
state unboundedly — late events beyond the watermark are dropped.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from udacity_data_engineer_capstone_spark.catalog import load_table, parquet_file
from udacity_data_engineer_capstone_spark.memo import Memo, scratch_dir, stage_once
from udacity_data_engineer_capstone_spark.registry import query
from udacity_data_engineer_capstone_spark.session import (
    fits_one_partition,
    sized_partitions,
)

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


# Staged source directories per (application, kind, source file
# identity): about fifteen streaming queries read the same 8-shard
# event-time-ordered staging, so it is written once. A staged dir is
# read-only input (every stream keeps its own checkpoint); the two
# queries that plant duplicates build on their own unmemoized staging
# and memoize the finished dir under their own kind. The source's
# (mtime_ns, size) in the key makes an in-place rewrite of the testdata
# stage again, and a dir deleted from outside the process is staged
# again. Entries are never evicted: a drain on another thread may still
# be reading one, and there is one per sf_dir and kind.
_STAGED = Memo(valid=os.path.isdir)


def _staged(spark: SparkSession, sf_dir: str, kind: str, stage, table="events") -> str:
    """The directory ``stage(spark, sf_dir)`` writes, memoized per
    (application, kind, source file identity)."""
    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    try:
        st = os.stat(src)
        ident = (st.st_mtime_ns, st.st_size)
    except OSError:  # directory-shaped table: key on the path only
        ident = (0, 0)
    return _STAGED.get(spark, (kind, src, ident), lambda: stage(spark, sf_dir))


def stage_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """The events table staged once per session as a directory the
    file-source stream can watch (:func:`_stage_events`): at most 8
    ``ts``-ordered shards with ascending modification times, written on
    the driver with pyarrow when the table is small and by Spark
    otherwise. Callers must treat it as read-only."""
    return _staged(spark, sf_dir, "events", _stage_events)


def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events table into a new directory the file-source
    stream can watch (normalizing the NANOS timestamp on the way).

    Files are staged in EVENT-TIME order: cut into contiguous ``ts``
    ranges with ascending modification times, so the file source's
    discovery order (mod-time, then path) feeds micro-batches whose
    watermark only ever trails data still to come. Unordered staging
    would let the watermark jump to max(ts)−delay on an early batch and
    silently drop later-arriving older files from join/aggregation
    state — exactly the failure a production job avoids by reading an
    append-ordered log (kafka, LSM'd object store listing).

    A small table (:func:`_driver_events`: sf0.001 and sf0.01) is read,
    sorted and cut on the driver with pyarrow and launches no Spark job;
    a larger one (sf0.1) is range-partitioned and written by Spark.
    Both go through :func:`_write_ordered_shards`."""
    return _stage_ordered(_events_source(spark, sf_dir))


def _stage_ordered(events: DataFrame | pa.Table) -> str:
    """``events`` written by :func:`_write_ordered_shards` into a new
    directory, its shards' modification times ascending in ``ts``
    order."""
    out = scratch_dir("engine_stream_src_")
    shutil.rmtree(out)
    _write_ordered_shards(events, out)
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    base = time.time() - len(parts) - 10
    for i, p in enumerate(parts):
        os.utime(os.path.join(out, p), (base + i, base + i))
    return out


def _events_source(spark: SparkSession, sf_dir: str) -> DataFrame | pa.Table:
    """The events table to stage: the Arrow table :func:`_driver_events`
    reads when the table is small, else ``load_table``'s frame."""
    table = _driver_events(spark, sf_dir)
    return load_table(spark, sf_dir, "events") if table is None else table


def _driver_events(spark: SparkSession, sf_dir: str) -> pa.Table | None:
    """The events table read on the driver with pyarrow; ``None``, with
    no column read, unless all of these hold:

    - the session time zone is UTC (Spark's path reads a naive ``ts``
      in the session time zone; the driver's reads it as UTC);
    - the table is a single parquet file whose row groups hold at most
      one ``minPartitionSize`` uncompressed
      (:func:`~udacity_data_engineer_capstone_spark.session.fits_one_partition`,
      the rule the graph adjacency also uses);
    - its columns are exactly :data:`EVENTS_STREAM_SCHEMA`'s, with the
      same Arrow types and ``ts`` as ``timestamp[us]``, naive or UTC (a
      NANOS ``ts``, which Spark reads as a long, is left to Spark)."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        return None
    f = parquet_file(sf_dir, "events")
    if f is None:
        return None
    try:
        meta = f.metadata
        nbytes = sum(
            meta.row_group(i).total_byte_size for i in range(meta.num_row_groups)
        )
        if not fits_one_partition(spark, nbytes) or not _stream_typed(f.schema_arrow):
            return None
        return f.read()
    finally:
        f.close()


def _stream_typed(schema: pa.Schema) -> bool:
    """Whether ``schema`` has exactly the columns and Arrow types of
    :data:`EVENTS_STREAM_SCHEMA`, ``ts`` naive or UTC."""
    got = dict(zip(schema.names, schema.types))
    return len(got) == len(schema.names) and any(
        got == dict(zip(want.names, want.types))
        for want in (
            to_arrow_schema(EVENTS_STREAM_SCHEMA, timestamp_utc=utc)
            for utc in (True, False)
        )
    )


def _every_third(events: DataFrame | pa.Table) -> DataFrame | pa.Table:
    """The rows of ``events`` whose ``event_id % 3 == 0``, the planted
    duplicates; a null ``event_id`` is dropped, as Spark's filter drops
    it."""
    if isinstance(events, DataFrame):
        return events.filter(F.col("event_id") % 3 == 0)
    ids = events["event_id"]
    rem = pc.subtract(ids, pc.multiply(pc.divide(ids, 3), 3))  # x - trunc(x / 3) * 3
    return events.filter(pc.equal(rem, 0))


_SHARDS = 8  # time-ordered files per staging


def _write_ordered_shards(events: DataFrame | pa.Table, out: str) -> None:
    """Write ``events`` (a Spark frame or an Arrow table) into the new
    directory ``out`` as at most 8 ``part-NNNNN`` parquet files sorted
    by ``ts``, nulls first, each holding a contiguous ``ts`` range.
    A boundary falls only between distinct ``ts`` values, so no value
    spans two files: Spark's range partitioner never splits one key,
    and the Arrow cut (:func:`_shard_bounds`) moves each near-equal cut
    forward to the next new value."""
    if isinstance(events, DataFrame):
        (
            events.repartitionByRange(_SHARDS, "ts")
            .sortWithinPartitions("ts")
            .write.parquet(out)
        )
        return
    order = pc.sort_indices(events, [("ts", "ascending")], null_placement="at_start")
    events = events.take(order)
    bounds = _shard_bounds(events["ts"], _SHARDS)
    _write_parts([events.slice(lo, hi - lo) for lo, hi in bounds], out)


def _shard_bounds(ts: pa.ChunkedArray, k: int) -> list[tuple[int, int]]:
    """``[lo, hi)`` row ranges cutting the sorted, nulls-first ``ts``
    into at most ``k`` shards: each of the ``k - 1`` near-equal cuts
    moves forward to the first row whose value differs from the row
    before it (a null run counts as one value). One empty range for an
    empty column."""
    n, nulls = len(ts), ts.null_count
    values = ts.drop_null().cast(pa.int64()).to_numpy()
    starts = np.flatnonzero(np.diff(values)) + 1 + nulls
    if 0 < nulls < n:
        starts = np.concatenate([[nulls], starts])
    wanted = -(-np.arange(1, k) * n // k)  # ceil(i * n / k)
    found = np.searchsorted(starts, wanted)
    cuts = [0, *np.unique(starts[found[found < len(starts)]]).tolist(), n]
    return list(zip(cuts, cuts[1:]))


def _write_parts(tables: list[pa.Table], out: str) -> None:
    """Write each table as one ``part-NNNNN-<uuid>.snappy.parquet`` file
    in ``out`` (created if missing; names unique per call, as Spark's
    append makes them), with :data:`EVENTS_STREAM_SCHEMA`'s Arrow types:
    ``ts`` as ``timestamp[us, UTC]``."""
    import pyarrow.parquet as pq  # loaded on first use: only a staging writes

    schema = to_arrow_schema(EVENTS_STREAM_SCHEMA)
    tag = uuid.uuid4().hex
    os.makedirs(out, exist_ok=True)
    for i, t in enumerate(tables):
        path = os.path.join(out, f"part-{i:05d}-{tag}.snappy.parquet")
        pq.write_table(t.select(schema.names).cast(schema), path)


def stream_events(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )


def tumbling_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling window aggregation — the watermark bounds
    state: windows older than max(event time) - 2h are finalized and
    evicted; later-than-watermark events are dropped."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact BIGINT micros, mirroring the batch twin — no DECIMAL
            # (driver-hash-unstable in r2/r3) reaches the output
            F.sum(
                (F.col("value").cast("decimal(18,6)") * 1000000).cast("long")
            ).alias("sum_value_micros"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_micros",
        )
    )


# --- plan-audit capture hook -----------------------------------------------
# The registry-wide mechanical plan audit (tests/test_plans.py) used to
# EXEMPT streaming queries because calling their fn() drains the stream.
# This hook closes that hole without draining: inside
# capture_stream_plans(), every drain point records its un-drained
# streaming DataFrame (whose analyzed plan + explainString are
# inspectable pre-start) and skips the physical run (:func:`_drain`);
# the query returns an empty batch frame of the drained schema so its
# post-drain code still composes a plan the audit can also read.

_PLAN_CAPTURE: list[DataFrame] | None = None


@contextlib.contextmanager
def capture_stream_plans():
    """Audit mode for the streaming drain points. Yields the list the
    captured pre-drain streaming DataFrames land in."""
    global _PLAN_CAPTURE
    prev = _PLAN_CAPTURE
    _PLAN_CAPTURE = captured = []
    try:
        yield captured
    finally:
        _PLAN_CAPTURE = prev


def _env_count(var: str, default: int) -> int:
    """A positive integer env override: unset ⇒ ``default``, below 1 ⇒ 1,
    not an integer ⇒ ``ValueError`` naming the variable."""
    raw = os.environ.get(var)
    if raw is None:
        return default
    try:
        n = int(raw)
    except ValueError:
        raise ValueError(f"{var} must be an integer, got {raw!r}") from None
    return max(1, n)


def _detach_sink(spark: SparkSession, name: str) -> DataFrame:
    """Bind the memory sink ``name`` as a frame, then drop its temp view."""
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _path_bytes(path: str) -> int | None:
    """Bytes of the data files at ``path`` (a file or a directory tree,
    skipping the ``_``/``.`` files Spark's listing skips); None when the
    path cannot be read."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return None
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def _stream_source_bytes(df: DataFrame) -> int | None:
    """Bytes the file sources of the streaming frame ``df`` will read:
    the ``path`` of each ``StreamingRelation`` leaf of its analyzed plan.
    None when any streaming leaf has no readable path (e.g. a Python
    data source's ``StreamingRelationV2``)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue  # the static side of a stream-static join
        if leaf.nodeName() != "StreamingRelation":
            return None
        path = leaf.dataSource().options().get("path")
        n = _path_bytes(path.get()) if path.isDefined() else None
        if n is None:
            return None
        total += n
    return total


# spark.sql.shuffle.partitions is session-global; drains hold it only
# around start(), one at a time, so two drains cannot restore each
# other's value.
_DRAIN_CONF_LOCK = threading.Lock()


def _drain(df: DataFrame, writer, nbytes: int | None = None, done=None) -> bool:
    """Run the streaming query ``writer`` (a ``DataStreamWriter`` of
    ``df``) to completion and stop it. Every ``stream_*`` query drains
    through here. Returns False, starting nothing, when an audit sweep
    captured ``df`` instead (:func:`capture_stream_plans`).

    State stores are sized to the input: ``spark.sql.shuffle.partitions``
    is :func:`sized_partitions` of ``nbytes`` (default: the files the
    stream's sources read, :func:`_stream_source_bytes`), 8 when that is
    unknown. A vanilla session's 200 would mean 200 state stores per
    stateful operator per micro-batch, pure fixed overhead for an input
    of a few MB; sf0.001's staged events (~40 KB) drain through one. The
    conf is written only around ``start()``, under a module lock, and
    restored as soon as ``start()`` returns: the query's
    ``StreamExecution`` clones the session when it is built, so the
    clone keeps the drain's count and records it in the checkpoint's
    offset log.

    The query is finished when ``awaitTermination`` returns (an
    availableNow trigger), or, for a source without availableNow, when
    ``done()`` turns true, polled while the query runs. Either must
    happen within ``SPARK_GRAFT_STREAM_DRAIN_SEC`` seconds (default 120,
    clamped to at least 1, :func:`_env_count`), else the drain RAISES
    instead of returning a partially-filled sink: a silently truncated
    result reads exactly like a correct small one, the worst failure
    mode for an oracle-compared query (found by the sf10 ladder: the
    state sessionizer's drain crossed 120 s at 10M events and returned
    0 rows). The query is stopped on every path, and a failed drain
    drops its memory-sink view."""
    if _PLAN_CAPTURE is not None:
        _PLAN_CAPTURE.append(df)
        return False
    spark = df.sparkSession
    timeout_sec = _env_count("SPARK_GRAFT_STREAM_DRAIN_SEC", 120)
    if nbytes is None:
        nbytes = _stream_source_bytes(df)
    with _DRAIN_CONF_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        parts = 8 if nbytes is None else sized_partitions(spark, nbytes)
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            q = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    try:
        if done is None:
            finished = q.awaitTermination(timeout_sec)
        else:
            deadline = time.monotonic() + timeout_sec
            while not (finished := done()) and time.monotonic() < deadline:
                q.awaitTermination(0.2)  # raises if the query failed
        if not finished:
            raise RuntimeError(
                f"streaming drain {q.name or q.id} did not finish in "
                f"{timeout_sec}s; raise SPARK_GRAFT_STREAM_DRAIN_SEC for "
                "bigger inputs (refusing to return a partial result)"
            )
    except BaseException:
        if q.name:  # a memory sink's view holds the partial result
            spark.catalog.dropTempView(q.name)
        raise
    finally:
        if q.isActive:
            q.stop()
    return True


def run_to_memory(df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a streaming DataFrame with trigger(availableNow) into a
    memory sink (:func:`_drain`); returns the sink table as a batch
    DataFrame.

    The sink's temp view is dropped before returning: the returned
    frame is bound to the sink's plan, so its rows stay reachable
    through it and are released with it, instead of piling up in
    driver heap under a view name nothing reads again."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if not _drain(df, writer):
        return spark.createDataFrame([], df.schema)
    return _detach_sink(spark, name)


_TUMBLING_STREAM_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
         AS BIGINT) AS sum_value_micros
FROM events
GROUP BY 1, 2
"""


@query(
    "stream_tumbling_counts",
    oracle=_TUMBLING_STREAM_ORACLE,
    tags=("streaming", "window"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming run: file-source stream →
    watermarked tumbling aggregation → availableNow drain to a memory
    sink. Once drained, the result must equal the batch aggregation —
    which is exactly what the DuckDB oracle checks."""
    src = stage_events_dir(spark, sf_dir)
    agg = tumbling_counts(stream_events(spark, src))
    return run_to_memory(agg, output_mode="complete")


_SLIDING_STREAM_ORACLE = """
WITH aligned AS (
  SELECT date_trunc('hour', ts)
           + (minute(ts) // 15) * INTERVAL 15 MINUTE AS a15,
         event_type, value
  FROM events
)
SELECT a15 - k.k * INTERVAL 15 MINUTE AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM aligned
CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
GROUP BY 1, 2
"""


@query(
    "stream_sliding_counts",
    oracle=_SLIDING_STREAM_ORACLE,
    tags=("streaming", "window"),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1 h length, 15 min slide) with a
    watermark, drained via availableNow — equals the batch result."""
    src = stage_events_dir(spark, sf_dir)
    agg = (
        stream_events(spark, src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_to_memory(agg, output_mode="complete")


_OUT_SCHEMA = "user_id long, n_events long, sum_value double"


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count and value
    sum via ``applyInPandasWithState`` — the escape hatch for stateful
    logic the built-in windows can't express. State is one row per user
    (bounded by user cardinality, not stream length)."""

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType="n_events long, sum_value double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SESSION_STREAM_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, session_id
"""


@query(
    "stream_session_counts",
    oracle=_SESSION_STREAM_ORACLE,
    tags=("streaming", "window", "session"),
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30 min inactivity gap) — the hardest
    streaming window shape, because sessions *merge* as events arrive
    out of order across micro-batches. Drained with availableNow in
    complete mode, the final state must equal the batch gaps-and-islands
    result, which is exactly what the oracle asserts."""
    src = stage_events_dir(spark, sf_dir)
    agg = (
        stream_events(spark, src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete")


# Integer-cents accumulation: floor(value·100 + 0.5) is the same IEEE
# operation in numpy, Spark, and DuckDB, and summing BIGINTs is
# fold-order exact — so even a *stateful Python* operator hash-matches
# the SQL oracle bit-for-bit.
_USER_TOTALS_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY user_id
"""


@query(
    "stream_user_totals",
    oracle=_USER_TOTALS_ORACLE,
    tags=("streaming", "stateful"),
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, end to end: running per-user
    count + value total via ``applyInPandasWithState`` (state = one row
    per user, bounded by user cardinality), drained with availableNow in
    update mode. The memory sink then holds one row per (user, update);
    the final state per user is the row with the largest n_events —
    recovered with ``max_by``, and hash-checked against the batch
    aggregate."""
    import numpy as np

    src = stage_events_dir(spark, sf_dir)
    stream = stream_events(spark, src)

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]}
        )

    updates = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_cents long",
        stateStructType="n_events long, sum_cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_memory(updates, output_mode="update")
    # n_events strictly increases per update, so max_by picks the final
    # state row for each user (no ties possible)
    return tbl.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_cents", "n_events").alias("sum_cents"),
    )


_STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type
FROM events
"""


def _stage_events_with_dup_batch(spark: SparkSession, sf_dir: str) -> str:
    """A new events staging plus a planted duplicate batch: one third
    of the events appended again."""
    events = _events_source(spark, sf_dir)
    src = _stage_ordered(events)
    dups = _every_third(events)
    if isinstance(dups, DataFrame):
        dups.write.mode("append").parquet(src)
    else:
        _write_parts([dups], src)
    return src


@query(
    "stream_dedup",
    oracle=_STREAM_DEDUP_ORACLE,
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: the staged source contains every
    event once plus a planted duplicate batch (event_id % 3 == 0 rows
    written again), and ``dropDuplicates`` on the key must emit each
    event exactly once even though the copies arrive in *different
    micro-batches* — state carries the seen-key set across batches.
    Unbounded state here (exact semantics, matching the oracle);
    production would bound it with ``dropDuplicatesWithinWatermark``
    when duplicates are known to arrive close together."""
    src = _staged(spark, sf_dir, "events+dupbatch", _stage_events_with_dup_batch)
    deduped = (
        stream_events(spark, src)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


_STREAM_JOIN_ORACLE = """
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.user_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@query(
    "stream_stream_join",
    oracle=_STREAM_JOIN_ORACLE,
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views joined to same-user purchases
    within the following hour, both sides watermarked. The event-time
    range condition is what lets Spark bound the join state (a side's
    buffered rows are evicted once the watermark passes their join
    window); without it a stream-stream join would buffer forever.
    Drained availableNow, the result must equal the batch interval join
    — the oracle."""
    src = stage_events_dir(spark, sf_dir)
    views = (
        stream_events(spark, src)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
    return run_to_memory(joined, output_mode="append")


_FOREACH_BATCH_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type
"""


@query(
    "stream_foreach_batch_sink",
    oracle=_FOREACH_BATCH_ORACLE,
    tags=("streaming", "sink"),
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink path: ``foreachBatch`` appends each
    micro-batch to a parquet directory (the escape hatch for sinks
    Structured Streaming lacks natively — JDBC upserts, MERGEs,
    multi-table writes). After the availableNow drain, the directory
    must contain every event exactly once across all batch files; the
    read-back aggregate equals the batch oracle."""
    src = stage_events_dir(spark, sf_dir)
    out = scratch_dir("engine_fbsink_")
    shutil.rmtree(out)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select("event_id", "event_type", "value")
            .write.mode("append")
            .parquet(out)
        )

    events = stream_events(spark, src)
    writer = (
        events.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", out + "_ckpt")
    )
    if _drain(events, writer):
        staged = spark.read.parquet(out)
    else:
        staged = spark.createDataFrame(
            [], events.select("event_id", "event_type", "value").schema
        )

    return (
        staged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# streaming CDC apply: materialize a table from a change-log stream
# ---------------------------------------------------------------------------

# Streaming twin of queries/warehouse.py:cdc_upsert_log — the same
# deterministic I/U/D change log, delivered as a STREAM in batch-seq
# order, folded into per-key state with applyInPandasWithState (the
# continuously-maintained MERGE target a warehouse keeps hot). Prices
# ride as exact integer cents inside state; the final cents/100.0 is the
# correctly-rounded double of the same rational the batch oracle casts
# from DECIMAL(18,2), so the hash matches bit-for-bit.

_CDC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("price_cents", T.LongType(), True),
        T.StructField("seq", T.IntegerType(), True),
        T.StructField("op", T.StringType(), True),
    ]
)

_CDC_CHANGES_SQL = """
SELECT o_orderkey, o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
       0 AS seq, 'I' AS op
FROM orders
UNION ALL
SELECT o_orderkey, 'U1' AS o_orderstatus,
       CAST((CAST(o_totalprice AS DECIMAL(18,2)) + 10) * 100 AS BIGINT),
       1, 'U'
FROM orders WHERE o_orderkey % 7 = 1
UNION ALL
SELECT o_orderkey, o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 2, 'D'
FROM orders WHERE o_orderkey % 5 = 2
UNION ALL
SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
       'NEW', CAST(100 AS BIGINT), 2, 'I'
FROM orders WHERE o_orderkey % 11 = 4
UNION ALL
SELECT o_orderkey, 'U3',
       CAST((CAST(o_totalprice AS DECIMAL(18,2)) + 20) * 100 AS BIGINT), 3, 'U'
FROM orders WHERE o_orderkey % 7 = 1 AND o_orderkey % 3 = 0
"""


def stage_cdc_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the change log as one parquet file per batch seq with
    ascending mtimes, so the file source (maxFilesPerTrigger=1) delivers
    micro-batches in commit order — the append-ordered log contract a
    production CDC stream (debezium→kafka) provides. Session-memoized
    like :func:`stage_events_dir` (read-only input; streams keep their
    own checkpoints)."""
    return _staged(spark, sf_dir, "cdc", _stage_cdc, table="orders")


def _stage_cdc(spark: SparkSession, sf_dir: str) -> str:
    from udacity_data_engineer_capstone_spark.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    changes = spark.sql(_CDC_CHANGES_SQL)
    out = scratch_dir("engine_cdc_src_")
    base = time.time() - 20
    for i, seq in enumerate(sorted(r[0] for r in changes.select("seq").distinct().collect())):
        batch_dir = os.path.join(out, f"tmp_seq{seq}")
        changes.where(F.col("seq") == seq).coalesce(1).write.parquet(batch_dir)
        part = next(
            p for p in os.listdir(batch_dir) if p.startswith("part-")
        )
        dst = os.path.join(out, f"batch-{seq}.parquet")
        os.rename(os.path.join(batch_dir, part), dst)
        shutil.rmtree(batch_dir)
        os.utime(dst, (base + i, base + i))
    return out


from udacity_data_engineer_capstone_spark.queries.warehouse import (  # noqa: E402
    _CDC_SQL as _CDC_BATCH_ORACLE,
)


# Python state functions are invoked ONCE PER GROUP per micro-batch, so
# keying the state by raw o_orderkey costs one Arrow slice + one pandas
# call per KEY (~220k calls at sf0.1 — measured 69 s, >half the round-10
# rotation bench). The state key of the CDC fold, the EWMA and the
# bucketed sessionizer is therefore a HASH BUCKET of the key, and the
# bucket's live keys ride as array-valued state: Python dispatch is ∝
# buckets, the per-bucket fold is one vectorized pandas pass, and
# per-bucket state stays bounded by keys/bucket. The bucket count
# follows the DATA (:func:`_state_buckets`): a fixed count would be
# wrong in one direction at every scale (1024 buckets at sf0.1 meant
# 150 keys/bucket, dispatch-bound exactly like an oversized
# shuffle-partition count).


def _state_buckets(src_dir: str, rows_per_bucket: int, floor: int) -> int:
    """Hash-bucket count for a bucketed state fold over the staged
    parquet files in ``src_dir``: ``ceil(rows / rows_per_bucket)``
    clamped to ``[floor, 2^20]``, 1024 when the footers are unreadable.
    The row count is a free footer read, no job, and upper-bounds the
    key cardinality (every live key appears at least once), so the rule
    needs no knowledge of which rows plant which keys. Results are
    bucket-count-invariant (the per-key fold is internal to each
    bucket); the count only sizes Python dispatch. The floor keeps the
    drain parallel across cores.

    NOTE: the bucket count keys the state hash, so it must be STABLE
    across a checkpoint's lifetime — a stream resumed from an existing
    checkpoint after the staged input grows would re-key previously
    checkpointed state. The drains here always start fresh checkpoints;
    a long-lived deployment should persist the chosen count beside the
    checkpoint and reuse it."""
    try:
        import pyarrow.parquet as pq

        rows = sum(
            pq.ParquetFile(os.path.join(src_dir, p)).metadata.num_rows
            for p in os.listdir(src_dir)
            if p.endswith(".parquet") and not p.startswith(("_", "."))
        )
    except Exception:
        return 1024
    return min(1 << 20, max(floor, -(-rows // rows_per_bucket)))


_CDC_STATE_COLS = ["o_orderkey", "seq", "o_orderstatus", "price_cents", "deleted"]


@query("stream_cdc_apply", oracle=_CDC_BATCH_ORACLE, tags=("streaming", "pipeline"))
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-materialized CDC target: replay the I/U/D change-log
    stream into bucketed per-key state with ``applyInPandasWithState``
    and read back the final table — last-writer-wins by batch seq,
    deletes as tombstones filtered at the end. Oracle: the BATCH
    ranked-window replay (cdc_upsert_log's SQL), so the streaming fold
    provably equals the declarative merge. The native no-Python-state
    formulation of the same merge is ``stream_cdc_apply_native``; this
    form exists for state a declarative aggregate can't express
    (conditional merges, column-subset upserts).

    Scale shape: state is one row per live key, array-packed per hash
    bucket (bounded by table cardinality / bucket count — the same
    bound a MERGE target has); each micro-batch shuffles only that
    batch's rows, and Python is invoked once per BUCKET with a
    vectorized pandas fold, not once per key. BUCKET-REWRITE
    AMPLIFICATION (the price of the vectorized dispatch): a touched
    bucket's state is re-serialized WHOLE, so once a batch touches most
    buckets, per-batch state I/O is O(live keys in touched buckets),
    not O(batch rows) — wide batches over high key cardinality pay a
    full state rewrite even though the shuffle stays batch-sized. At
    high key cardinality prefer ``stream_cdc_apply_native`` (pure-JVM
    max_by, state-store deltas per KEY, no Python); keep this form for
    merge logic a declarative aggregate can't express. The memory-sink
    drain emits one row per touched (key, batch) — the final
    max_by(seq) collapse is test harness, not operator; a production
    job writes state updates straight to the sink table."""

    def update(key, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs), ignore_index=True)
        new = pd.DataFrame(
            {
                "o_orderkey": batch["o_orderkey"],
                "seq": batch["seq"].astype("int64"),
                "o_orderstatus": batch["o_orderstatus"],
                "price_cents": batch["price_cents"],
                "deleted": batch["op"].eq("D"),
            }
        )
        if state.exists:
            keys, seqs, statuses, cents, dels = state.get
            prev = pd.DataFrame(
                {
                    "o_orderkey": pd.array(keys, dtype="int64"),
                    "seq": pd.array(seqs, dtype="int64"),
                    "o_orderstatus": statuses,
                    "price_cents": pd.array(cents, dtype="int64"),
                    "deleted": pd.array(dels, dtype="bool"),
                }
            )
            merged = pd.concat([prev, new], ignore_index=True)
        else:
            merged = new
        # LWW fold, vectorized: stable sort on seq then keep the last
        # row per key (state rows precede batch rows, so equal seqs —
        # impossible here, each micro-batch is one seq — would keep the
        # batch row; the old per-row loop's `>` kept state, and no seq
        # repeats across batches by construction).
        merged = merged.sort_values("seq", kind="stable").drop_duplicates(
            "o_orderkey", keep="last"
        )
        state.update(
            (
                merged["o_orderkey"].tolist(),
                merged["seq"].tolist(),
                merged["o_orderstatus"].tolist(),
                merged["price_cents"].tolist(),
                merged["deleted"].tolist(),
            )
        )
        touched = merged[merged["o_orderkey"].isin(new["o_orderkey"])]
        yield touched[_CDC_STATE_COLS]

    src = stage_cdc_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_CDC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # ~1024 change-log rows per bucket, floor 64
    buckets = _state_buckets(src, rows_per_bucket=1024, floor=64)
    bucketed = stream.withColumn(
        "bucket", F.pmod(F.col("o_orderkey"), F.lit(buckets))
    )
    applied = bucketed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=(
            "o_orderkey long, seq long, o_orderstatus string, "
            "price_cents long, deleted boolean"
        ),
        stateStructType=(
            "keys array<long>, seqs array<long>, statuses array<string>, "
            "cents array<long>, dels array<boolean>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(applied, output_mode="update")
    final = emitted.groupBy("o_orderkey").agg(
        F.max_by("o_orderstatus", "seq").alias("o_orderstatus"),
        F.max_by("price_cents", "seq").alias("price_cents"),
        F.max_by("deleted", "seq").alias("deleted"),
        F.max("seq").alias("last_seq"),
    )
    return final.where(~F.col("deleted")).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("price_cents") / F.lit(100.0)).alias("o_totalprice"),
        F.col("last_seq").cast("int").alias("last_seq"),
    )


@query(
    "stream_cdc_apply_native",
    oracle=_CDC_BATCH_ORACLE,
    tags=("streaming", "pipeline"),
)
def stream_cdc_apply_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same continuously-materialized CDC merge with NO Python
    state at all: last-writer-wins is just ``max_by(col, seq)``, a
    native streaming aggregation whose state lives in the JVM state
    store — the formulation to prefer whenever the merge rule is
    expressible as an aggregate (LWW always is). Oracle: the identical
    BATCH ranked-window replay (``_CDC_BATCH_ORACLE``), so this and the
    ``applyInPandasWithState`` form are provably the same table and the
    Python-state form is a choice, not the only path.

    Scale shape: one keyed streaming aggregate — state is one
    fixed-width row per live key in the JVM state store, each
    micro-batch shuffles only its own rows, zero Python in the loop.
    The complete-mode memory sink is test harness (it re-emits the
    table per trigger); a production job runs update mode into a keyed
    sink."""
    src = stage_cdc_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_CDC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    applied = stream.groupBy("o_orderkey").agg(
        F.max_by("o_orderstatus", "seq").alias("o_orderstatus"),
        F.max_by("price_cents", "seq").alias("price_cents"),
        F.max_by(F.col("op") == F.lit("D"), "seq").alias("deleted"),
        F.max("seq").alias("last_seq"),
    )
    final = run_to_memory(applied, output_mode="complete")
    return final.where(~F.col("deleted")).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("price_cents") / F.lit(100.0)).alias("o_totalprice"),
        F.col("last_seq").cast("int").alias("last_seq"),
    )


# ---------------------------------------------------------------------------
# custom stateful operator #2: per-user integer EWMA across micro-batches
# ---------------------------------------------------------------------------

# Infinite-horizon EWMA with alpha = 1/2 kept EXACT in integer cents:
# level_0 = cents_0, level_k = (cents_k + level_{k-1}) DIV 2. The fold
# is sequential by construction — precisely the thing the stateless
# engine can't express and applyInPandasWithState exists for. The
# DuckDB oracle replays the identical fold with list_reduce over the
# per-user (ts, event_id)-ordered cents array; (user_id, ts) pairs are
# unique in the testdata, so the fold order is total and both engines
# agree bit-for-bit.

_EWMA_STATE_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
arr AS (
  SELECT user_id,
         array_agg(cents ORDER BY ts, event_id) AS xs,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM seq GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(xs[len(xs)] AS BIGINT) AS last_cents,
       CAST(list_reduce(xs, (acc, x) -> (x + acc) // 2) AS BIGINT)
         AS level_cents
FROM arr
"""


@query(
    "stream_ewma_state",
    oracle=_EWMA_STATE_ORACLE,
    tags=("streaming", "stateful", "timeseries"),
)
def stream_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running EWMA maintained as custom streaming state: each
    micro-batch folds its (ts, event_id)-sorted cents into the user's
    level with exact integer halving — the always-hot smoothed metric a
    fraud/anomaly consumer reads between batches. Second
    ``applyInPandasWithState`` operator beside ``stream_cdc_apply``,
    showing cross-batch *numeric* state, not just last-writer-wins.

    Scale shape: state is three integers per user (bounded by user
    cardinality), array-packed per HASH BUCKET of user_id (r12 — the
    same dispatch fix as ``stream_cdc_apply``: keying Python state by
    raw user_id cost one Arrow slice + one pandas call + one ONE-ROW
    output DataFrame per user per micro-batch, ~2x user-cardinality
    Python dispatches per drain; bucketing makes dispatch ∝ buckets
    and the per-bucket fold one vectorized pass, with the same
    BUCKET-REWRITE amplification caveat as the CDC form). Each
    micro-batch shuffles only its own rows. The event-time-ordered
    file staging (see ``stage_events_dir``) is what makes the
    sequential fold well-defined across batches — the same
    append-ordered-log contract the CDC stream relies on. The memory
    sink + max_by collapse is the test drain; production would emit
    update-mode rows straight to a keyed store."""

    def update(key, pdfs, state: GroupState):
        import numpy as np

        # Concatenate the batch's Arrow chunks BEFORE sorting: a user's
        # rows can arrive split across chunks in unspecified order, so a
        # per-chunk sort would fold out of event order whenever a chunk
        # boundary lands inside one user's run. Sorting (user_id, ts,
        # event_id) preserves each user's (ts, event_id) fold order —
        # identical sequences to the per-user-group form.
        pdf = pd.concat(list(pdfs)).sort_values(["user_id", "ts", "event_id"])
        uids = pdf["user_id"].to_numpy(dtype="int64")
        cents = np.floor(
            pdf["value"].to_numpy(dtype="float64") * 100.0 + 0.5
        ).astype("int64")
        if state.exists:
            s_users, s_ns, s_levels, s_lasts = state.get
            st = {
                int(u): [int(n), int(lv), int(lc)]
                for u, n, lv, lc in zip(s_users, s_ns, s_levels, s_lasts)
            }
        else:
            st = {}
        # per-user integer fold over contiguous slices of the sorted
        # batch (one numpy boundary scan; the inner loop touches each
        # row once — the state fold itself is inherently sequential)
        bounds = np.flatnonzero(np.r_[True, uids[1:] != uids[:-1]])
        out_u: list[int] = []
        out_rows: list[list[int]] = []
        for i, lo in enumerate(bounds):
            hi = bounds[i + 1] if i + 1 < len(bounds) else len(uids)
            u = int(uids[lo])
            cur = st.get(u)
            if cur is None:
                cur = st[u] = [0, 0, 0]
            n, level, last = cur
            for c in cents[lo:hi]:
                c = int(c)
                level = c if n == 0 else (c + level) // 2
                n += 1
                last = c
            cur[0], cur[1], cur[2] = n, level, last
            out_u.append(u)
            out_rows.append([n, last, level])
        users_sorted = sorted(st)
        state.update(
            (
                users_sorted,
                [st[u][0] for u in users_sorted],
                [st[u][1] for u in users_sorted],
                [st[u][2] for u in users_sorted],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": out_u,
                "n_events": [r[0] for r in out_rows],
                "last_cents": [r[1] for r in out_rows],
                "level_cents": [r[2] for r in out_rows],
            }
        )

    src = stage_events_dir(spark, sf_dir)
    # 8 staged files at 4/trigger = 2 micro-batches: still proves the
    # cross-batch state fold (the point of the query) at half the
    # fixed per-batch cost (state-store shuffle + Python worker round
    # trip); the ts-ordered staging keeps batch 1's events strictly
    # before batch 2's.
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    buckets = _state_buckets(src, rows_per_bucket=4096, floor=32)
    bucketed = stream.withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(buckets))
    )
    folded = bucketed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_events long, last_cents long, level_cents long"
        ),
        stateStructType=(
            "users array<long>, ns array<long>, levels array<long>, "
            "lasts array<long>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(folded, output_mode="update")
    # n_events strictly increases per update; max_by picks the final fold
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("last_cents", "n_events").alias("last_cents"),
        F.max_by("level_cents", "n_events").alias("level_cents"),
    )


# ---------------------------------------------------------------------------
# stream-static enrichment join
# ---------------------------------------------------------------------------

_STATIC_ENRICH_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       'seg' || CAST(user_id % 4 AS VARCHAR) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY date_trunc('hour', ts), user_id % 4
"""


@query(
    "stream_static_enrich",
    oracle=_STATIC_ENRICH_ORACLE,
    tags=("streaming", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a BATCH
    dimension (user → segment) before its windowed aggregation — the
    single most common production streaming shape (enrich clicks with
    the account table), distinct from ``stream_stream_join``'s
    stream-stream case. The static side is re-read per micro-batch by
    Spark, which is what lets slowly-changing dims refresh without
    restarting the query; here it is broadcast-sized.

    Drained availableNow and checked against the batch twin — the
    stream-static join must be exactly transparent to the result."""
    src = stage_events_dir(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.concat(
                F.lit("seg"), (F.col("user_id") % 4).cast("string")
            ).alias("segment"),
        )
    )
    stream = stream_events(spark, src).withWatermark("ts", "1 hour")
    joined = stream.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias(
            "sum_cents"
        ),
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        F.col("w.start").alias("window_start"),
        "segment",
        "n_events",
        "sum_cents",
    )


# ---------------------------------------------------------------------------
# update output mode: per-batch changed rows, collapsed to latest
# ---------------------------------------------------------------------------

_UPDATE_MODE_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY event_type
"""


@query(
    "stream_update_mode_counts",
    oracle=_UPDATE_MODE_ORACLE,
    tags=("streaming",),
)
def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode end-to-end: the running per-type aggregate
    emits only CHANGED rows each micro-batch (the mode a keyed
    store/feature platform consumes — contrast the ``complete``-mode
    drains elsewhere in this module). The memory sink therefore holds
    one row per (type, batch-it-changed-in); collapsing to the LAST
    emission per type must equal the batch aggregate exactly — that
    final-state equivalence is what the oracle checks.

    The collapse keys on the monotone event count (update mode
    re-emits a key only when its aggregate changed, so the max-count
    row IS the final state) — no timestamps or sink ordering
    assumptions."""
    src = stage_events_dir(spark, sf_dir)
    stream = stream_events(spark, src)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias(
            "sum_cents"
        ),
    )
    out = run_to_memory(agg, output_mode="update")
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_events", "sum_cents")
    )


# ---------------------------------------------------------------------------
# append output mode: only watermark-finalized windows emit
# ---------------------------------------------------------------------------

_APPEND_MODE_ORACLE = """
WITH m AS (SELECT MAX(ts) AS mx FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events, m
GROUP BY date_trunc('hour', ts), event_type, m.mx
HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR
       <= MAX(m.mx) - INTERVAL 1 HOUR
"""


@query(
    "stream_append_mode_windows",
    oracle=_APPEND_MODE_ORACLE,
    tags=("streaming", "window"),
)
def stream_append_mode_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND output mode: a window row emits exactly once, when the
    watermark passes its end — so the windows still inside the 1-hour
    lateness horizon at end-of-stream are WITHHELD, not emitted. The
    oracle encodes that contract explicitly (window_end <= max(ts) -
    delay): parity proves the engine neither leaks unfinalized windows
    nor loses finalized ones. This is the mode downstream append-only
    sinks (parquet/kafka) require; ``complete`` and ``update`` drains
    live beside it in this module.

    Withheld-tail caveat at 100 TB: an always-on pipeline eventually
    emits those tail windows as the watermark advances; a terminating
    availableNow run must either accept the withheld tail (this
    contract) or run a final complete-mode pass for it."""
    src = stage_events_dir(spark, sf_dir)
    agg = (
        stream_events(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias(
                "sum_cents"
            ),
        )
    )
    out = run_to_memory(agg, output_mode="append")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_cents",
    )


@query(
    "stream_dedup_within_watermark",
    oracle=_STREAM_DEDUP_ORACLE,
    tags=("streaming", "dedup"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming deduplication —
    ``dropDuplicatesWithinWatermark`` instead of ``dropDuplicates``:
    state for a key is retained only until the watermark passes its
    event time, so the seen-key set is BOUNDED (the production answer
    to ``stream_dedup``'s unbounded state). The planted duplicate
    shards are range-partitioned on ``ts`` exactly like the originals
    and INTERLEAVED by modification time (each duplicate shard lands
    0.4 s after the original shard covering the same event-time
    range), so when a duplicate is discovered the watermark has not
    yet passed its event time and the drop happens by matching LIVE
    retained state — the within-watermark path itself, not the
    late-row discard path. Output equals the exact batch oracle
    (every event once) either way; the staging makes the state
    mechanism the one doing the work.

    Scale shape: state is O(keys within the watermark horizon), not
    O(all keys ever) — the only streaming dedup that survives an
    unbounded stream. tests/test_streaming.py::
    test_dedup_within_watermark_state_evicts reads the engine's
    stateOperators metrics off this exact staging to prove eviction
    actually fires (numRowsRemoved > 0, terminal state a fraction of
    the key universe)."""
    src = stage_events_with_dups(spark, sf_dir)
    deduped = (
        stream_events(spark, src)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


def stage_events_with_dups(spark: SparkSession, sf_dir: str) -> str:
    """The watermark-dedup staging: the ordered events shards plus a
    planted duplicate shard set (event_id % 3 == 0 re-written),
    range-partitioned on ``ts`` like the originals and interleaved by
    modification time 0.4 s behind the original shard covering the
    same event-time range — duplicates are discovered while their
    keys' state is still live. Mutates its staging, so it builds on a
    PRIVATE copy (never the session-shared dir) and memoizes the
    finished dup-planted dir under its own kind."""
    return _staged(spark, sf_dir, "events+dupshards", _stage_events_with_dup_shards)


def _stage_events_with_dup_shards(spark: SparkSession, sf_dir: str) -> str:
    events = _events_source(spark, sf_dir)
    src = _stage_ordered(events)
    dup_tmp = scratch_dir("engine_stream_dup_")
    shutil.rmtree(dup_tmp)
    _write_ordered_shards(_every_third(events), dup_tmp)
    orig_parts = sorted(p for p in os.listdir(src) if p.startswith("part-"))
    dup_parts = sorted(p for p in os.listdir(dup_tmp) if p.startswith("part-"))
    for i, p in enumerate(dup_parts):
        anchor = orig_parts[min(i, len(orig_parts) - 1)]
        anchor_m = os.path.getmtime(os.path.join(src, anchor))
        dst = os.path.join(src, f"dup-{p}")
        shutil.move(os.path.join(dup_tmp, p), dst)
        os.utime(dst, (anchor_m + 0.4, anchor_m + 0.4))
    shutil.rmtree(dup_tmp, ignore_errors=True)
    return src


_HOURLY_VELOCITY_ORACLE = """
SELECT user_id,
       date_trunc('hour', ts) AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM events
WHERE event_type = 'purchase'
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


@query(
    "stream_velocity_alerts",
    oracle=_HOURLY_VELOCITY_ORACLE,
    tags=("streaming", "quality"),
)
def stream_velocity_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``evt_fraud_velocity`` rule as a LIVE alert: watermarked
    tumbling-hour purchase counts per user, emitting only windows at
    or above the limit — the streaming half of a fraud rulebook, with
    the batch SQL as its oracle (rule parity between the offline
    backtest and the online detector is the property fraud teams
    actually need).

    Scale shape: state is one count per (user, open window); the
    watermark expires closed windows, so state is bounded by active
    users per hour, not history."""
    src = stage_events_dir(spark, sf_dir)
    alerts = (
        stream_events(spark, src)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .groupBy("user_id", F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .where(F.col("n_purchases") >= 2)
        .select(
            "user_id",
            F.col("window.start").alias("window_start"),
            "n_purchases",
        )
    )
    return run_to_memory(alerts, output_mode="complete")


# Left-outer stream-stream join semantics: an unmatched view emits its
# null-purchase row only once the GLOBAL watermark (min of both sides'
# max event time, minus the 2 h delay) passes the end of its join
# window (view_ts + 1 h) — rows younger than that are still pending
# state when the availableNow drain ends and must NOT appear. The
# oracle encodes exactly that eviction rule.
_STREAM_LOJ_ORACLE = """
WITH wm AS (
  SELECT LEAST(
           (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
           (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 2 HOUR AS w
),
v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
matched AS (
  SELECT v.view_id, p.purchase_id, v.user_id, v.view_ts, p.purchase_ts
  FROM v JOIN p
    ON p.user_id = v.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
)
SELECT * FROM matched
UNION ALL
SELECT v.view_id, CAST(NULL AS BIGINT) AS purchase_id, v.user_id,
       v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
FROM v CROSS JOIN wm
WHERE v.view_ts + INTERVAL 1 HOUR < wm.w
  AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.view_id = v.view_id)
"""


@query(
    "stream_stream_left_outer",
    oracle=_STREAM_LOJ_ORACLE,
    tags=("streaming", "join"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: views pair with same-user
    purchases in the following hour, and a view with no purchase
    emits its null row only after the global watermark proves no
    match can still arrive — the outer-ness is TIME-GATED, the part
    of streaming outer joins everyone gets wrong. Views whose join
    window the final watermark hasn't passed are still pending and
    correctly absent; the oracle encodes that eviction rule
    explicitly.

    Scale shape: state is bounded by the watermark exactly as in the
    inner join; the null-emission adds no state, only eviction-time
    output."""
    src = stage_events_dir(spark, sf_dir)
    views = (
        stream_events(spark, src)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "left_outer",
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
    return run_to_memory(joined, output_mode="append")


# ---------------------------------------------------------------------------
# custom sessionization with EVENT-TIME STATE TIMEOUT
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30
_SESSION_WM = "2 hours"

# Sessions closed by a LATER event (gap rule) always emit; each user's
# final open session emits only when the event-time timeout fires —
# i.e. when the terminal watermark (max ts - 2h) has passed its
# (last_ts + 30min) expiry. The oracle encodes exactly that contract.
_SESSION_TIMEOUT_ORACLE = f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {_SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
g AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
sess AS (
  SELECT user_id, sid,
         MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM g GROUP BY user_id, sid
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY session_end DESC) AS rn_desc
  FROM sess
),
wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT user_id, session_start, session_end, n_events,
       CASE WHEN rn_desc > 1 THEN 'gap' ELSE 'timeout' END AS closed_by
FROM ranked, wm
WHERE rn_desc > 1
   OR session_end + INTERVAL {_SESSION_GAP_MIN} MINUTE < wm.w
"""


@query(
    "stream_session_timeout_state",
    oracle=_SESSION_TIMEOUT_ORACLE,
    tags=("streaming", "stateful"),
)
def stream_session_timeout_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization through ``applyInPandasWithState`` with an
    EVENT-TIME STATE TIMEOUT — the state-expiry path none of the other
    stateful streams exercise: a user's open session lives in state
    with ``setTimeoutTimestamp(last_ts + 30min)``; a later event inside
    the gap extends it, a later event beyond the gap closes it
    ('gap'), and if no event ever comes, the WATERMARK crossing the
    expiry fires ``hasTimedOut`` and flushes it ('timeout') — which is
    how a production sessionizer guarantees state is bounded by ACTIVE
    sessions, not by users-ever-seen. Sessions still open at the
    terminal watermark stay in state and never emit (the availableNow
    analogue of append-mode's withheld tail; the oracle encodes it).

    vs ``stream_session_counts``: that uses the built-in
    ``session_window`` aggregate; this is the escape hatch for session
    logic the built-in can't express (custom close reasons, per-session
    payloads), at the same bounded-state guarantee. State boundedness
    is MEASURED (not just semantic): tests/test_streaming.py reads the
    drain's stateOperators metrics and asserts state rows track active
    sessions and shrink when timeouts evict (on the per-key reference
    kernel :func:`sessionize_with_timeout`).

    r13 (guide §4 — dispatch ∝ buckets, not users): the registered
    query runs the BUCKETED kernel
    (:func:`sessionize_with_timeout_bucketed`), which keys Python state
    by a hash bucket of user_id and tracks every user's open session +
    event-time deadline inside the bucket's array state — one Python
    invocation per touched bucket per micro-batch instead of one per
    user (~3000 → ~64 dispatches at sf0.1). Per-user timeout semantics
    are preserved exactly (the bucket's registered timeout is the MIN
    open deadline; eviction uses the same strict deadline < watermark
    rule Spark applies per key); tests pin bucketed-vs-per-key output
    equality and the late-user-still-times-out case."""
    src = stage_events_dir(spark, sf_dir)
    buckets = _state_buckets(src, rows_per_bucket=4096, floor=32)
    return run_to_memory(
        sessionize_with_timeout_bucketed(stream_events(spark, src), buckets),
        output_mode="append",
    )


def sessionize_with_timeout(stream: DataFrame) -> DataFrame:
    """The watermarked event-time-timeout sessionizer as a reusable
    stream transformation (shared by the registered query and the
    state-metrics boundedness test)."""
    gap_us = _SESSION_GAP_MIN * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.to_datetime(start_us, unit="us")],
                    "session_end": [pd.to_datetime(last_us, unit="us")],
                    "n_events": [n],
                    "closed_by": ["timeout"],
                }
            )
            return
        ts_us = []
        for pdf in pdfs:
            ts_us.extend((pdf["ts"].astype("int64") // 1000).tolist())
        ts_us.sort()
        cur = state.get if state.exists else None
        closed = []
        for t in ts_us:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] <= gap_us:
                cur = (cur[0], t, cur[2] + 1)
            else:
                closed.append(cur)
                cur = (t, t, 1)
        state.update(cur)
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [
                        pd.to_datetime(c[0], unit="us") for c in closed
                    ],
                    "session_end": [
                        pd.to_datetime(c[1], unit="us") for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                    "closed_by": ["gap"] * len(closed),
                }
            )

    return (
        stream.withWatermark("ts", _SESSION_WM)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, session_start timestamp, "
                "session_end timestamp, n_events long, closed_by string"
            ),
            stateStructType="start_us long, last_us long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_with_timeout_bucketed(
    stream: DataFrame, n_buckets: int
) -> DataFrame:
    """The event-time-timeout sessionizer with Python state keyed by a
    HASH BUCKET of user_id instead of the raw key (guide §4: Python
    state functions are invoked once per GROUP per micro-batch, so
    per-user keying costs one Arrow slice + one pandas call + one
    1-row output frame per user — ~3000 dispatches per drain at sf0.1,
    the same dispatch disease ``stream_cdc_apply`` / ``stream_ewma_state``
    had). Open sessions ride as array-valued bucket state
    (user, start_us, last_us, n).

    PER-USER timeout semantics are emulated exactly inside the bucket:

    - the bucket's registered event-time timeout is the MINIMUM open
      deadline ``(last_us + gap) // 1000`` across its users, so the
      bucket wakes whenever Spark would have fired the earliest user's
      per-key timeout;
    - on ANY invocation (data or ``hasTimedOut``), users WITHOUT data
      in the batch whose deadline < the current event-time watermark
      (``state.getCurrentWatermarkMs()`` — the same per-batch watermark
      Spark's per-key timeout comparison uses, same strict ``<``) are
      evicted and emitted as 'timeout'; users WITH data are never
      timeout-evicted in that batch, exactly like a per-key group that
      received data;
    - the registered timestamp is clamped to watermark + 1 ms (Spark
      rejects registrations at/behind the watermark); a user whose
      deadline sits exactly AT the watermark is therefore evicted on
      the next watermark advance — the same batch in which the per-key
      form would evict it (a strictly-later watermark is ≥ 1 ms later).

    The per-user fold (sorted-ts gap split) is bit-identical to
    :func:`sessionize_with_timeout`, which stays as the per-key
    reference kernel; tests pin output equality between the two.
    BUCKET-REWRITE AMPLIFICATION caveat (same as the CDC/EWMA forms):
    a touched bucket's state is re-serialized whole each batch."""
    import numpy as np

    gap_us = _SESSION_GAP_MIN * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            s_users, s_starts, s_lasts, s_ns = state.get
            open_sess: dict[int, list[int]] = {
                u: [st, la, cnt]
                for u, st, la, cnt in zip(s_users, s_starts, s_lasts, s_ns)
            }
        else:
            open_sess = {}
        out_u: list[int] = []
        out_s: list[int] = []
        out_e: list[int] = []
        out_n: list[int] = []
        out_by: list[str] = []

        def close(user: int, sess: list[int], reason: str) -> None:
            out_u.append(user)
            out_s.append(sess[0])
            out_e.append(sess[1])
            out_n.append(sess[2])
            out_by.append(reason)

        data_users: set[int] = set()
        if not state.hasTimedOut:
            frames = [pdf for pdf in pdfs if len(pdf)]
            if frames:
                batch = (
                    pd.concat(frames, ignore_index=True)
                    if len(frames) > 1
                    else frames[0]
                )
                uid = batch["user_id"].to_numpy()
                t_us = batch["ts"].astype("int64").to_numpy() // 1000
                order = np.lexsort((t_us, uid))
                u = uid[order]
                t = t_us[order]
                n = len(u)
                brk = np.ones(n, dtype=bool)
                brk[1:] = (u[1:] != u[:-1]) | ((t[1:] - t[:-1]) > gap_us)
                seg_starts = np.flatnonzero(brk)
                seg_ends = np.append(seg_starts[1:], n)
                for a, b in zip(seg_starts.tolist(), seg_ends.tolist()):
                    user = int(u[a])
                    first, last, cnt = int(t[a]), int(t[b - 1]), b - a
                    prev = open_sess.get(user)
                    if user not in data_users:
                        data_users.add(user)
                        # first segment of this user: merge with the
                        # open state session when inside the gap —
                        # identical to the per-key fold's first step
                        if prev is not None:
                            if first - prev[1] <= gap_us:
                                open_sess[user] = [
                                    prev[0], last, prev[2] + cnt
                                ]
                                continue
                            close(user, prev, "gap")
                    elif prev is not None:
                        # a later segment closes the previous one
                        close(user, prev, "gap")
                    open_sess[user] = [first, last, cnt]
        # per-user timeout eviction: exactly the users whose per-key
        # groups would fire hasTimedOut in this batch (no data AND
        # deadline strictly below the batch watermark)
        for user in list(open_sess):
            if user in data_users:
                continue
            sess = open_sess[user]
            if (sess[1] + gap_us) // 1000 < wm_ms:
                close(user, sess, "timeout")
                del open_sess[user]
        if open_sess:
            users = list(open_sess)
            sess_arr = [open_sess[x] for x in users]
            state.update(
                (
                    users,
                    [a[0] for a in sess_arr],
                    [a[1] for a in sess_arr],
                    [a[2] for a in sess_arr],
                )
            )
            min_dl = min((a[1] + gap_us) // 1000 for a in sess_arr)
            state.setTimeoutTimestamp(max(min_dl, wm_ms + 1))
        elif state.exists:
            state.remove()
        if out_u:
            yield pd.DataFrame(
                {
                    "user_id": out_u,
                    "session_start": pd.to_datetime(out_s, unit="us"),
                    "session_end": pd.to_datetime(out_e, unit="us"),
                    "n_events": out_n,
                    "closed_by": out_by,
                }
            )

    return (
        stream.withWatermark("ts", _SESSION_WM)
        .withColumn("bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)))
        .groupBy("bucket")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, session_start timestamp, "
                "session_end timestamp, n_events long, closed_by string"
            ),
            stateStructType=(
                "users array<long>, starts array<long>, "
                "lasts array<long>, ns array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# custom Python streaming SOURCE (offset-cursor replay) end to end
# ---------------------------------------------------------------------------

_PYSTREAM_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id,
       CAST(MAX(ts) AS TIMESTAMP) AS max_ts,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
            AS BIGINT) AS sum_value_micros
FROM events
GROUP BY event_type
"""


def _stage_sorted_log(spark: SparkSession, sf_dir: str) -> str:
    """One event_id-sorted single-file parquet — the 'topic' the custom
    source replays. Single-file is test scaffolding (the source's offset
    cursor addresses row ids, however the log is physically stored). It
    is one :func:`~..memo.stage_once` stage keyed on the source parquet,
    so it survives across processes; bench.py times
    :func:`_write_sorted_log` itself."""
    src = os.path.join(sf_dir, "events.parquet")
    stage = stage_once(
        "eventslog", [src], lambda path: _write_sorted_log(spark, sf_dir, path)
    )
    return os.path.join(stage, "log.parquet")


def _write_sorted_log(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Write the event_id-sorted log as the one file ``path/log.parquet``."""
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
        .coalesce(1)
        .write.parquet(path)
    )
    part = next(
        p for p in os.listdir(path)
        if p.startswith("part-") and p.endswith(".parquet")
    )
    os.rename(os.path.join(path, part), os.path.join(path, "log.parquet"))


@query(
    "stream_python_source",
    oracle=_PYSTREAM_ORACLE,
    tags=("streaming", "source"),
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom Python STREAMING data source driven end to end: the
    event log replays through ``spark.readStream.format("events_log")``
    (sources/pyds.py — a Spark 4 ``DataSourceStreamReader`` with real
    offset bookkeeping: ``latestOffset`` advances a row-id cursor one
    chunk per micro-batch, ``partitions`` splits each range across
    executor tasks, re-reads are deterministic = replayable), into a
    complete-mode per-type aggregate, drained micro-batch by
    micro-batch until the cursor reaches the end of the log. The oracle
    recomputes from the relational source, so offset bookkeeping that
    loses or double-delivers ANY range fails the hash.

    This is the offset-cursor source shape (kafka-like); the
    file-listing shape is covered by the other ``stream_*`` queries."""
    from udacity_data_engineer_capstone_spark.sources.pyds import (
        register_events_log,
    )

    path = _stage_sorted_log(spark, sf_dir)
    register_events_log(spark)
    expected = load_table(spark, sf_dir, "events").count()
    # Scale-adaptive cursor pacing (r12, guide §2): a FIXED 2500-row
    # chunk makes the micro-batch count grow linearly with the log
    # (40 batches at sf0.1, 4000 at sf10) and every batch pays a full
    # trigger round-trip — the drain was batch-count-bound, not
    # data-bound. A kafka-like source reads what is available; cap the
    # drain at ~12 micro-batches at any SF (floor 2500 keeps the
    # correctness-gate SFs multi-batch so offset bookkeeping is still
    # exercised). The complete-mode aggregate is chunking-invariant,
    # so results are identical by construction.
    chunk = max(2500, -(-expected // 12))
    stream = (
        spark.readStream.format("events_log")
        .option("path", path)
        .option("chunk", str(chunk))
        .load()
    )
    # (streaming forbids COUNT DISTINCT; min/max event_id double as
    # offset-integrity evidence — a lost or replayed range moves them;
    # max_ts pins the wire-unit decode: a micros-vs-nanos regression in
    # the source's ts_us column moves it ~50,000 years and fails the
    # oracle hash)
    stream = stream.withColumn("ts", F.timestamp_micros("ts_us"))
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("event_id").cast("long").alias("min_event_id"),
        F.max("event_id").cast("long").alias("max_event_id"),
        F.max("ts").alias("max_ts"),
        F.sum((F.col("value").cast("decimal(18,6)") * 1000000).cast("long"))
        .cast("long")
        .alias("sum_value_micros"),
    )
    name = f"pystream_{uuid.uuid4().hex[:12]}"
    writer = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
    )

    def done() -> bool:  # the cursor reached the end of the log
        snap = spark.table(name).agg(F.sum("n_events")).collect()[0][0]
        return snap == expected

    # the log file is all the source reads: size state stores to it
    if not _drain(agg, writer, nbytes=os.path.getsize(path), done=done):
        return spark.createDataFrame([], agg.schema)
    return _detach_sink(spark, name)


# ---------------------------------------------------------------------------
# custom Python STREAMING SINK (per-batch manifest commit) end to end
# ---------------------------------------------------------------------------

_PYSINK_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
FROM events
GROUP BY event_type
"""

_PYSINK_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, "
    "ts_us bigint, cents bigint"
)


@query(
    "stream_python_sink",
    oracle=_PYSINK_ORACLE,
    tags=("streaming", "sink"),
)
def stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom Python STREAMING SINK driven end to end — the fourth
    corner of the Spark 4 Data Source API beside the batch scan
    (``src_python_datasource``), batch write (``snk_python_datasource``)
    and stream read (``stream_python_source``): the event stream drains
    availableNow through ``writeStream.format("manifest_parquet_stream")``
    (sources/pyds.py — Arrow-batched task staging, driver-side
    PER-BATCH manifest commit; a replayed micro-batch rewrites the same
    manifest name, so retries are idempotent and their orphan files
    invisible), then the manifest-scoped read-back is aggregated and
    hash-checked against the relational source — a sink that lost,
    doubled, or half-published any batch fails the oracle.

    Scale shape: the sink adds no shuffle (tasks stage their own
    partitions); commit is driver-side metadata only (rename + one
    small JSON per batch) — the transactional-sink pattern for a store
    with no atomic multi-file commit. Timestamps ride as epoch micros,
    the same wire convention as the streaming source."""
    from udacity_data_engineer_capstone_spark.sources.pyds import (
        read_stream_manifests,
        register_manifest_stream_sink,
    )

    register_manifest_stream_sink(spark)
    src = stage_events_dir(spark, sf_dir)
    # 8 staged files at 4/trigger = 2 micro-batches: at least two
    # per-batch manifest commits, so the read-back genuinely unions
    # manifests rather than trivially reading one
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    out = os.path.join(scratch_dir("engine_pysink_"), "log")
    cp = scratch_dir("engine_pysink_cp_")
    writer = (
        stream.writeStream.format("manifest_parquet_stream")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
    )
    if not _drain(stream, writer):
        df = spark.createDataFrame([], _PYSINK_SCHEMA)
    else:
        df, manifests = read_stream_manifests(spark, out, _PYSINK_SCHEMA)
        assert len(manifests) >= 2, (
            f"expected >=2 per-batch manifest commits, got {len(manifests)}"
        )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.max("ts_us").alias("max_ts_us"),
    )
