"""Custom Spark DataSource (Python Data Source API, Spark 4) for SAS
``proc format`` label files.

Where :mod:`.sas_labels` parses a block on the driver and lifts it with
``createDataFrame`` (right for one small dim), this source plugs the same
parser into Spark's scan machinery: ``spark.read.format("sas_labels")``
returns a DataFrame whose partitions are the file's label blocks, parsed
*in the executors*. Planning reads only block names (metadata); payload
parsing is distributed — the shape that scales to a directory of
dictionary files or any bespoke text format Spark has no built-in reader
for. This is the extension point a user reaches when the reference's
ad-hoc driver-side parsing (``/root/reference/etl.py:20-38``) meets a
file too large or too numerous to parse on one machine.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from udacity_data_engineer_capstone_spark.sources.sas_labels import (
    parse_label_block,
)

LABELS_DS_SCHEMA = "fmt string, code string, value string"


class _BlockPartition(InputPartition):
    def __init__(self, fmt: str):
        self.fmt = fmt


class _LabelsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]

    def partitions(self):
        # planning: only block *names* are read driver-side
        with open(self.path, encoding="utf-8", errors="replace") as fh:
            text = fh.read()
        return [_BlockPartition(f) for f in re.findall(r"value\s+(\w+)", text)]

    def read(self, partition: _BlockPartition):
        # executor-side: parse one block
        with open(self.path, encoding="utf-8", errors="replace") as fh:
            text = fh.read()
        for code, value in parse_label_block(text, partition.fmt):
            yield (partition.fmt, code, value)


class SasLabelsDataSource(DataSource):
    """``spark.read.format("sas_labels").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "sas_labels"

    def schema(self) -> str:
        return LABELS_DS_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _LabelsReader(self.options)


# Registration is serialized and memoized per (session, source):
# ``spark.dataSource.register`` pickles the class through shared
# SparkContext state and writes the session's data-source registry —
# concurrent registrations from driver threads (tests overlap
# independent queries per guide §2.6; a multi-tenant notebook session
# does the same) raced intermittently to a DATA_SOURCE_NOT_FOUND at
# lookup. One lock + register-once-per-session removes both the race
# window and the repeated pickling cost. The key is the JVM session's
# UUID, not the application: each ``newSession()`` has its own
# registry, so a child session needs its own registration. Spark checks
# a new name against the ACTIVE session's registry, so the session is
# made active around its registration (a child registering while its
# parent is active would fail with DATA_SOURCE_ALREADY_EXISTS).
_REG_LOCK = threading.Lock()
_REGISTERED: set[tuple[str, str]] = set()


def _register_once(spark, cls) -> None:
    jss = spark._jsparkSession
    key = (jss.sessionUUID(), cls.name())
    if key in _REGISTERED:
        return
    with _REG_LOCK:
        if key in _REGISTERED:
            return
        sessions = spark._jvm.org.apache.spark.sql.SparkSession
        prev = sessions.getActiveSession()
        sessions.setActiveSession(jss)
        try:
            spark.dataSource.register(cls)
        finally:
            if prev.isDefined():
                sessions.setActiveSession(prev.get())
            else:
                sessions.clearActiveSession()
        _REGISTERED.add(key)


def register(spark) -> None:
    """Idempotent registration of the custom format."""
    _register_once(spark, SasLabelsDataSource)


# ---------------------------------------------------------------------------
# custom Python STREAMING data source: ordered event-log replay
# ---------------------------------------------------------------------------
#
# The streaming half of the Data Source API (Spark 4
# ``DataSourceStreamReader``): replays a staged parquet event log as an
# ordered stream with REAL offset bookkeeping — ``latestOffset``
# advances a row-id cursor one chunk per micro-batch, ``partitions``
# splits each offset range for executor-side reads, and recovery
# re-reads any range deterministically (offsets are row-id ranges, so
# the source is replayable — the kafka contract). This is the
# extension point for a bespoke log/queue Spark has no connector for;
# the file-source streams elsewhere in streaming/ cover the
# directory-listing shape, this covers the offset-cursor shape.

# the log carries epoch MICROS, not timestamps — the kafka-ish wire
# shape, and Python-source Arrow conversion of naive datetimes into a
# session-tz TimestampType is ambiguous; consumers decode with
# timestamp_micros().
EVENTS_LOG_SCHEMA = (
    "event_id bigint, ts_us bigint, user_id bigint, "
    "event_type string, value double"
)

_LOG_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


class _RangePartition(InputPartition):
    def __init__(self, path: str, lo: int, hi: int):
        self.path, self.lo, self.hi = path, lo, hi


class _EventsLogStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.chunk = int(options.get("chunk", "2500"))
        self.tasks = int(options.get("tasks", "4"))
        import pyarrow.parquet as pq

        # planning metadata only: the row count bounds the cursor
        self.n_rows = pq.ParquetFile(self.path).metadata.num_rows
        # RESTART SAFETY: Spark hands a fresh reader no offset of a
        # batch it committed before the stop, so a checkpointed query
        # names a ``cursor`` file in which the reader keeps the
        # furthest offset Spark planned. Spark logs a batch's offsets
        # before it plans the batch, so that offset never passes the
        # checkpoint; a logged batch the file missed was not committed,
        # and Spark plans it again before asking for a new offset.
        self.cursor_file = options.get("cursor")
        self._kept = 0
        if self.cursor_file and os.path.exists(self.cursor_file):
            with open(self.cursor_file) as fh:
                self._kept = int(fh.read())
        self._cursor = self._kept

    def initialOffset(self) -> dict:
        return {"next": 0}

    def latestOffset(self) -> dict:
        # advance one chunk per micro-batch until the log is drained
        self._cursor = min(self._cursor + self.chunk, self.n_rows)
        return {"next": self._cursor}

    def _planned(self, offset: int) -> None:
        # Spark shows every offset it planned (partitions) or committed
        # (commit): the cursor never falls below one, so latestOffset
        # never goes back past the checkpointed position
        self._cursor = max(self._cursor, offset)
        if self.cursor_file and offset > self._kept:
            tmp = f"{self.cursor_file}.tmp"
            os.makedirs(os.path.dirname(os.path.abspath(tmp)), exist_ok=True)
            with open(tmp, "w") as fh:
                fh.write(str(offset))
            os.replace(tmp, self.cursor_file)
            self._kept = offset

    def partitions(self, start: dict, end: dict):
        lo, hi = start["next"], end["next"]
        self._planned(max(lo, hi))
        if hi <= lo:
            return [_RangePartition(self.path, lo, lo)]
        step = max(1, (hi - lo) // self.tasks)
        out = []
        a = lo
        while a < hi:
            b = min(a + step, hi)
            out.append(_RangePartition(self.path, a, b))
            a = b
        return out

    def read(self, partition: _RangePartition):
        # executor-side: read exactly [lo, hi) rows of the sorted log.
        # Yields pyarrow RecordBatches, NOT per-row tuples: the tuple
        # path pickles every row across the Python->JVM boundary
        # (row-at-a-time, guide §4); Arrow batches cross columnar and
        # whole-batch. Values are identical — the int64/string/double
        # columns convert losslessly either way.
        if partition.hi <= partition.lo:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.path, columns=_LOG_COLS)
        sl = tbl.slice(partition.lo, partition.hi - partition.lo)
        # Spark stages the log with its default INT96 timestamps, which
        # pyarrow surfaces as timestamp[ns]; a direct cast('int64') would
        # therefore yield NANOseconds. Normalize to micros first so the
        # declared ts_us unit is honest regardless of the staged file's
        # physical timestamp type (INT96 / MICROS / MILLIS).
        ts_us = sl["ts"].cast(pa.timestamp("us")).cast("int64")
        out = pa.table(
            {
                "event_id": sl["event_id"].cast("int64"),
                "ts_us": ts_us,
                "user_id": sl["user_id"].cast("int64"),
                "event_type": sl["event_type"].cast("string"),
                "value": sl["value"].cast("float64"),
            }
        )
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        self._planned(end["next"])

    def stop(self) -> None:
        pass


class EventsLogDataSource(DataSource):
    """``spark.readStream.format("events_log").option("path", ...)``;
    a query that restarts from a checkpoint also sets
    ``.option("cursor", <file beside the checkpoint>)``."""

    @classmethod
    def name(cls) -> str:
        return "events_log"

    def schema(self) -> str:
        return EVENTS_LOG_SCHEMA

    def streamReader(self, schema):
        return _EventsLogStreamReader(self.options)


def register_events_log(spark) -> None:
    _register_once(spark, EventsLogDataSource)

# ---------------------------------------------------------------------------
# custom Python DataSource WRITER: manifest-committed parquet sink
# ---------------------------------------------------------------------------
#
# The write half of the Data Source API (Spark 4 ``DataSourceArrowWriter``
# — Arrow RecordBatches, never per-row Python): each task writes its
# partition to ``_temporary/part-<uuid>.parquet`` and returns a commit
# message; the DRIVER's ``commit`` publishes exactly the message-listed
# files by renaming them into the root and writing a ``_MANIFEST.json``
# last. Readers resolve files FROM THE MANIFEST, never from a directory
# listing — so output from failed or speculative task attempts (orphan
# part files that never made a commit message) is invisible, and a
# killed job leaves no half-visible output (the manifest rename is the
# single atomic publish point). This is the Iceberg/Delta commit
# protocol in miniature, and at 100 TB it is what makes a custom sink
# safe under retries, speculation, and concurrent readers; ``abort``
# discards the staging dir. The reference's sink surface is plain
# ``df.write.parquet`` (/root/reference/etl.py:96-104); this is the
# extension point for a destination Spark has no committer for.

SINK_MANIFEST = "_MANIFEST.json"


class _ParquetPartCommit(WriterCommitMessage):
    """Picklable per-task commit message: which staged file, how many rows."""

    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


class _ManifestParquetWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool):
        # driver-side planning: stage dir exists before tasks launch;
        # overwrite clears any previously committed output first
        import os
        import shutil

        self.path = options["path"]
        if overwrite and os.path.isdir(self.path):
            shutil.rmtree(self.path)
        os.makedirs(os.path.join(self.path, "_temporary"), exist_ok=True)

    def write(self, iterator):
        # executor-side: one staged parquet file per task, written from
        # Arrow RecordBatches via a streaming ParquetWriter (never a
        # per-row loop, never a whole-partition table in memory)
        import os
        import uuid

        import pyarrow.parquet as pq

        fname = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "_temporary", fname)
        n, writer = 0, None
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(tmp, batch.schema)
                writer.write_batch(batch)
                n += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            # empty partition: nothing staged; Spark 4.1 requires a
            # WriterCommitMessage return (None is rejected despite the
            # API doc), so send a no-file sentinel commit() skips
            return _ParquetPartCommit("", 0)
        return _ParquetPartCommit(fname, n)

    def commit(self, messages):
        # driver-side: publish EXACTLY the message-listed files, then
        # the manifest (rename = the atomic publish point), then drop
        # the staging dir with any orphan attempt output still in it
        import json
        import os
        import shutil

        files = []
        for m in messages:
            if m is None or not m.filename:  # empty-partition sentinel
                continue
            os.rename(
                os.path.join(self.path, "_temporary", m.filename),
                os.path.join(self.path, m.filename),
            )
            files.append({"filename": m.filename, "n_rows": m.n_rows})
        manifest = {
            "files": sorted(files, key=lambda f: f["filename"]),
            "n_rows": int(sum(f["n_rows"] for f in files)),
        }
        tmp = os.path.join(self.path, "_temporary", SINK_MANIFEST)
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(self.path, SINK_MANIFEST))
        shutil.rmtree(
            os.path.join(self.path, "_temporary"), ignore_errors=True
        )

    def abort(self, messages):
        # no manifest was published, so nothing ever became visible;
        # drop the staging area
        import os
        import shutil

        shutil.rmtree(
            os.path.join(self.path, "_temporary"), ignore_errors=True
        )


class ManifestParquetSinkDataSource(DataSource):
    """``df.write.format("manifest_parquet").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_parquet"

    def writer(self, schema, overwrite: bool):
        return _ManifestParquetWriter(self.options, overwrite)


def register_manifest_sink(spark) -> None:
    _register_once(spark, ManifestParquetSinkDataSource)


def read_manifest_parquet(spark, path: str, schema: str):
    """Read back a manifest-committed directory: ONLY the files the
    manifest lists (the reader half of the commit protocol — a stray
    part file from a failed attempt is ignored even if it sits in the
    directory). Returns (DataFrame, manifest dict)."""
    import json
    import os

    with open(os.path.join(path, SINK_MANIFEST), encoding="utf-8") as fh:
        manifest = json.load(fh)
    files = [os.path.join(path, f["filename"]) for f in manifest["files"]]
    return spark.read.schema(schema).parquet(*files), manifest


# ---------------------------------------------------------------------------
# custom Python STREAMING writer: per-batch manifest commit (exactly-once)
# ---------------------------------------------------------------------------
#
# The fourth corner of the Data Source API
# (``DataSourceStreamArrowWriter``): each micro-batch's tasks stage
# Arrow-batched parquet parts exactly like the batch sink, and the
# driver's ``commit(messages, batchId)`` publishes a PER-BATCH manifest
# ``_MANIFEST-<batchId>.json``. Exactly-once under micro-batch REPLAY
# (failure after sink commit but before the engine checkpoints the
# batch) comes from idempotent re-commit: replaying batch N rewrites
# the SAME manifest name via rename — the previous attempt's part
# files become manifest-orphans, invisible to manifest-scoped readers.
# This is how a production streaming sink is made transactional on a
# store with no atomic multi-file commit.


class _ManifestParquetStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options: dict):
        import os

        self.path = options["path"]
        os.makedirs(os.path.join(self.path, "_temporary"), exist_ok=True)

    # executor-side staging: byte-for-byte the batch sink's write
    write = _ManifestParquetWriter.write

    def commit(self, messages, batchId: int) -> None:
        import json
        import os

        files = []
        for m in messages:
            if m is None or not m.filename:
                continue
            os.rename(
                os.path.join(self.path, "_temporary", m.filename),
                os.path.join(self.path, m.filename),
            )
            files.append({"filename": m.filename, "n_rows": m.n_rows})
        manifest = {
            "batch_id": int(batchId),
            "files": sorted(files, key=lambda f: f["filename"]),
            "n_rows": int(sum(f["n_rows"] for f in files)),
        }
        tmp = os.path.join(
            self.path, "_temporary", f"_MANIFEST-{batchId}.json"
        )
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        # rename = atomic publish; a REPLAYED batch overwrites its own
        # manifest (idempotent re-commit), orphaning the prior attempt
        os.replace(
            tmp, os.path.join(self.path, f"_MANIFEST-{batchId}.json")
        )

    def abort(self, messages, batchId: int) -> None:
        import os

        # the batch's manifest was never published: drop only this
        # attempt's staged files (other batches' staging may coexist)
        for m in messages:
            if m is None or not m.filename:
                continue
            try:
                os.remove(os.path.join(self.path, "_temporary", m.filename))
            except OSError:
                pass


class ManifestParquetStreamSinkDataSource(DataSource):
    """``df.writeStream.format("manifest_parquet_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_parquet_stream"

    def streamWriter(self, schema, overwrite: bool):
        return _ManifestParquetStreamWriter(self.options)


def register_manifest_stream_sink(spark) -> None:
    _register_once(spark, ManifestParquetStreamSinkDataSource)


def read_stream_manifests(spark, path: str, schema: str):
    """Read back a streaming-sink directory: the union of all
    published per-batch manifests' files (and ONLY those — replay
    orphans and in-flight staging are invisible). Returns
    (DataFrame, manifests sorted by batch_id)."""
    import glob as _glob
    import json
    import os

    manifests = []
    for p in sorted(_glob.glob(os.path.join(path, "_MANIFEST-*.json"))):
        with open(p, encoding="utf-8") as fh:
            manifests.append(json.load(fh))
    manifests.sort(key=lambda m: m["batch_id"])
    files = [
        os.path.join(path, f["filename"])
        for m in manifests
        for f in m["files"]
    ]
    return spark.read.schema(schema).parquet(*files), manifests
