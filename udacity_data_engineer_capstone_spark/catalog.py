"""Typed source catalog.

Replaces the reference's ``cp.cfg`` + ad-hoc readers (SURVEY §2.1,
``/root/reference/etl.py:11-17``) with a declarative table registry: one
place knows where each table lives and how to read it, and registers temp
views so both the DataFrame and SQL surfaces see the same names.

All testdata tables are parquet; at 100 TB this is exactly the layout you
want (columnar scan, predicate pushdown, partition pruning all free).

Each table's schema is resolved once, with no Spark job. A schema-less
``spark.read.parquet(path)`` launches one Spark job to read the footer,
so inferring it on every ``load_table`` call cost a star join one driver
job per table before it planned anything. ``load_table`` instead
reads with ``spark.read.schema(cached).parquet(path)``: the first read of
a file converts its footer to a ``StructType`` in the driver JVM, with
Spark's own conversion, and every later read supplies it. The schemas
sit in a :class:`~.memo.Memo` (per application, LRU of 256) keyed by
the resolved read path (after the layout shim), the file's
``(st_mtime_ns, st_size)`` and the session values of the confs that
change parquet schema inference, so a rewritten file or a changed conf
resolves again. Only the ``StructType`` is kept, never a DataFrame:
each call still returns a fresh relation with fresh expression IDs, so a
self-join of two ``load_table`` frames stays unambiguous. Directories and
paths ``os.stat`` cannot read fall through to plain inference.
"""

from __future__ import annotations

import json
import os
import stat

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from udacity_data_engineer_capstone_spark.memo import Memo, stage_once

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# --- layout normalization (TEST-ENVIRONMENT SHIM — not a production path) ----
#
# Spark parallelizes parquet scans at ROW-GROUP granularity: a file with a
# single row group decodes in one task no matter how many byte-range splits
# the scheduler makes, so a big single-row-group input serializes every
# downstream query's scan stage. That is a storage-layout defect, and the
# warehouse-native fix is to normalize layout once at ingest — the
# DISTRIBUTED rewrite implemented in ``maintenance.compact_parquet`` and
# registered as ``snk_compaction_rewrite`` (planning half:
# ``snk_compaction_plan``). THIS shim is the driver-local pyarrow twin of
# that job, scoped to the test environment where inputs are small local
# files; it must never carry production data (set
# ``SPARK_GRAFT_DISABLE_LAYOUT_SHIM=1`` to hard-disable it and serve
# original paths — a cluster deployment runs the maintenance job instead).
# Tables whose layout already feeds the cores are read as-is (bypass pinned
# in tests/test_maintenance.py). The rewrite is one ``memo.stage_once``
# stage, keyed by (path, mtime, size) for staleness and published
# atomically into the per-user 0700 stage root, so no read sees a file
# another user planted or a partial write. Oracles keep reading the ORIGINAL
# files — only Spark's scan path is redirected, the rows are
# byte-identical.

_MIN_ROWS_TO_NORMALIZE = 50_000
_TARGET_ROW_GROUPS = 32


def parquet_file(sf_dir: str, name: str):
    """Table ``name``'s single parquet file, opened at its footer with
    no row group read: ``metadata.num_rows`` is its row count and
    ``read(columns)`` returns the named columns as an Arrow table.
    ``None`` for a directory-shaped table or an unreadable footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(table_path(sf_dir, name))
    except (OSError, pa.ArrowException):
        return None


def _normalized_path(sf_dir: str, name: str) -> str:
    """Return a read path for the table with scan-parallel layout,
    rewriting it once into a stage if the source needs it.

    TEST-ONLY shim (see module comment): production layout repair is
    the distributed ``maintenance.compact_parquet`` job; this exists
    because the test inputs are driver-local files. Disabled entirely
    by ``SPARK_GRAFT_DISABLE_LAYOUT_SHIM=1``."""
    src = table_path(sf_dir, name)
    if os.environ.get("SPARK_GRAFT_DISABLE_LAYOUT_SHIM"):
        return src
    meta = parquet_file(sf_dir, name)
    if meta is None:
        return src
    try:
        import pyarrow.parquet as pq

        rows = meta.metadata.num_rows
        if rows < _MIN_ROWS_TO_NORMALIZE or meta.num_row_groups >= max(
            4, _TARGET_ROW_GROUPS // 2
        ):
            return src
        leaf = os.path.basename(src)

        def rewrite(path: str) -> None:
            os.mkdir(path)
            pq.write_table(
                meta.read(),
                os.path.join(path, leaf),
                row_group_size=max(8192, rows // _TARGET_ROW_GROUPS),
                compression="snappy",
            )

        return os.path.join(stage_once("layout", [src], rewrite), leaf)
    except Exception:
        return src  # any surprise (no pyarrow, unreadable) → original path


# --- resolve-once schemas (see module docstring) ------------------------

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# Session confs whose value changes the schema parquet inference returns.
_SCHEMA_CONFS = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


_SCHEMAS = Memo(capacity=256)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that resolves a file's schema once."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )
    schema = _SCHEMAS.get(
        spark,
        key,
        lambda: _footer_schema(spark, path) or spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The ``StructType`` Spark's parquet inference gives the file at
    ``path``, read from its footer in the driver JVM with Spark's own
    conversion (``ParquetFileFormat.readSchemaFromFooter``, which honours
    the Spark row-metadata key and the session's schema confs). Launches
    no Spark job. ``None`` on any Py4J error (an unreadable footer, a
    type the conversion rejects), so the caller falls back to inference
    and its error messages."""
    try:
        jvm = spark._jvm
        state = spark._jsparkSession.sessionState()
        hadoop = jvm.org.apache.parquet.hadoop
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        reader = hadoop.ParquetFileReader.open(
            hadoop.util.HadoopInputFile.fromPath(jpath, state.newHadoopConf())
        )
        try:
            footer = hadoop.Footer(jpath, reader.getFooter())
        finally:
            reader.close()
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            footer, parquet.ParquetToSparkSchemaConverter(state.conf())
        )
        return StructType.fromJson(json.loads(schema.json()))
    except Py4JError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, _normalized_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Some testdata generations write events.parquet with TIMESTAMP(NANOS),
    which Spark's vectorized parquet reader rejects by default; others write
    plain microsecond timestamps. Handle both: read nanos as long and
    rebuild a microsecond timestamp with exact integer division — nanos
    since epoch exceed 2^53, so float division would corrupt low
    microseconds. When the file already carries a real timestamp, pass it
    through unchanged.

    ``session.configure`` sets ``nanosAsLong`` at build time; only a
    session built without the engine's configs gets it set here, once."""
    from pyspark.sql import functions as F

    if spark.conf.get(_NANOS_AS_LONG, None) != "true":
        spark.conf.set(_NANOS_AS_LONG, "true")
    df = _read_parquet(spark, _normalized_path(sf_dir, "events"))
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # Microsecond-timestamp generations read as TIMESTAMP_NTZ; normalize
        # to session-tz TIMESTAMP so downstream instant functions
        # (unix_micros, window(), watermarks) see the same type the nanos
        # path produced. Session tz is UTC here, so the instant is unchanged.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (SURVEY §2.1
    ``src_temp_view``, cf. ``etl.py:152-157``). Idempotent."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def load_table_scaled(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + a *conditional* repartition to the session's
    default parallelism, for CPU-heavy per-row operators (shingling,
    hashing, vector encoding).

    Why: a small parquet file scans as ONE split (parallelism is bounded
    by row groups, not ``maxPartitionBytes``), so an expensive
    projection over it runs serially no matter how many cores exist. At
    100 TB a scan already yields thousands of splits, the condition is
    false, and this is a no-op — the repartition exists precisely and
    only for the narrow-input/heavy-compute shape, where one round-robin
    shuffle of the (tiny) input buys full-cluster parallelism for the
    expensive stage above it."""
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:  # plan-time check, no job
        df = df.repartition(target)
    return df
