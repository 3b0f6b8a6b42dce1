"""Additional source/sink formats beyond the reference's CSV+parquet:
JSON-lines source with explicit schema, CSV sink round-trip, and summary
statistics. Registered with oracles like everything else.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_data_engineer_capstone_spark.catalog import load_table
from udacity_data_engineer_capstone_spark.memo import scratch_dir, stage_once
from udacity_data_engineer_capstone_spark.registry import query


@query(
    "src_json",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("source",),
)
def src_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with an explicit schema (no inference pass —
    at 100 TB a schema-inference pre-scan doubles the read)."""
    d = scratch_dir("engine_src_json_")
    load_table(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").json(d)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    )
    return spark.read.schema(schema).json(d).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


_SNK_CSV_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


@query("snk_csv", oracle=_SNK_CSV_ORACLE, tags=("sink",))
def snk_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink round-trip of an aggregate (header + explicit read-back
    schema so types survive the text format)."""
    d = scratch_dir("engine_snk_csv_")
    agg = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("l_quantity").alias("sum_qty"))
    )
    agg.coalesce(1).write.mode("overwrite").csv(d, header=True)
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("n_items", T.LongType(), True),
            T.StructField("sum_qty", T.DoubleType(), True),
        ]
    )
    return spark.read.csv(d, header=True, schema=schema)


# Shared text, valid in BOTH Spark SQL and DuckDB: every float op is a
# single IEEE-correctly-rounded operation applied in an identical order,
# so results are bit-identical across engines. (The previous version
# applied ROUND(engine_computed_stddev, 2): the raw doubles differed in
# the last ulps between engines and a .xx5-boundary median flipped a
# cent at sf0.001 — Spark's string-based HALF_UP vs DuckDB's
# multiply-based half-away round diverge exactly at those knife edges.)
# All stats derive from exact integer-cents moments: min/max/avg from
# BIGINT/DECIMAL cents, stddev via the n·Σx²−(Σx)² identity, and an
# interpolated median over integer cents (exact halves in binary).
_STATS_SQL = """
WITH cents AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem
)
SELECT l_returnflag,
       CAST(MIN(c) AS DOUBLE) / 100.0 AS min_price,
       CAST(MAX(c) AS DOUBLE) / 100.0 AS max_price,
       CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 100.0
         AS avg_price,
       floor(sqrt((CAST(COUNT(*) AS DOUBLE)
                     * CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE)
                   - CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE)
                     * CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE))
                  / (CAST(COUNT(*) AS DOUBLE)
                     * (CAST(COUNT(*) AS DOUBLE) - 1.0))) + 0.5) / 100e0
         AS sd_price,
       median(c) / 100.0 AS median_price
FROM cents
GROUP BY l_returnflag
"""


@query("agg_summary_stats", oracle=_STATS_SQL, tags=("agg", "stats"))
def agg_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary statistics incl. an exact interpolated median (for 100 TB
    swap ``median`` for ``approx_percentile``, whose t-digest sketch is
    mergeable map-side; the exact median shuffles each group's values).
    Single partial+final hash aggregate over integer-cents moments —
    the shuffle carries 4 numbers per group regardless of scale."""
    from udacity_data_engineer_capstone_spark.catalog import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_STATS_SQL)


# ---------------------------------------------------------------------------
# ORC round-trip
# ---------------------------------------------------------------------------

_ORC_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""


@query("snk_orc_roundtrip", oracle=_ORC_ORACLE, tags=("sink", "source"))
def snk_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip: write the orders table to ORC
    (snappy, Spark's second columnar format — schema, stats, and
    predicate pushdown all preserved), read it back, and aggregate.
    DuckDB cannot read ORC, so the oracle runs the same aggregate on the
    parquet original — equality proves the round-trip is lossless."""
    d = scratch_dir("engine_snk_orc_")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(d)
    return (
        spark.read.orc(d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# JSON-lines sink
# ---------------------------------------------------------------------------

_SNK_JSON_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey
FROM nation
"""


@query("snk_json", oracle=_SNK_JSON_ORACLE, tags=("sink",))
def snk_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink round-trip (the export format of the reference's
    label-dim stage, cf. ``/root/reference/etl.py:120-141``, done as a
    distributed sink instead of a driver-side file write). Read back
    with an explicit schema so integer types survive the text format."""
    d = scratch_dir("engine_snk_json_")
    load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").json(d)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    )
    return spark.read.json(d, schema=schema)


# ---------------------------------------------------------------------------
# partitioned source with partition pruning
# ---------------------------------------------------------------------------

_PART_PRUNE_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@query("src_partition_pruned", oracle=_PART_PRUNE_ORACLE, tags=("source",))
def src_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned source with partition pruning: write orders
    partitioned by ``o_orderstatus``, read back filtered to one status —
    the scan must touch only that partition's directory (pruning happens
    at planning, before any file IO). At 100 TB this is the difference
    between scanning one status and scanning the lake; the plan
    assertion lives in tests/test_plans.py."""
    d = scratch_dir("engine_src_part_")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(d)
    return (
        spark.read.parquet(d)
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# custom Python DataSource (Spark 4 Data Source API)
# ---------------------------------------------------------------------------

_PYDS_ORACLE = """
SELECT 'natfmtl' AS fmt, CAST(n_nationkey AS VARCHAR) AS code,
       n_name AS value
FROM nation
UNION ALL
SELECT 'regfmtl', CAST(r_regionkey AS VARCHAR), r_name FROM region
UNION ALL
SELECT 'modefmt', code, value FROM (VALUES ('1','Air'),('2','Sea'),
       ('3','Land'),('9','Not reported')) AS t(code, value)
"""


@query("src_python_datasource", oracle=_PYDS_ORACLE, tags=("source",))
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (Spark 4 Data Source API): a
    three-block SAS label file read via
    ``spark.read.format("sas_labels")`` — one input partition per label
    block, parsed executor-side (see sources/pyds.py). The oracle is the
    ground truth the file was rendered from, so the whole source —
    registration, planning, partitioning, executor parse — is
    hash-verified."""
    from udacity_data_engineer_capstone_spark.sources import pyds
    from udacity_data_engineer_capstone_spark.sources.sas_labels import (
        render_label_block,
    )

    nation = load_table(spark, sf_dir, "nation").collect()
    region = load_table(spark, sf_dir, "region").collect()
    modes = [("1", "Air"), ("2", "Sea"), ("3", "Land"), ("9", "Not reported")]
    text = (
        "libname library 'Z:\\' ;\nproc format library=library ;\n"
        + render_label_block(
            "natfmtl", [(str(r.n_nationkey), r.n_name) for r in nation]
        )
        + render_label_block(
            "regfmtl", [(str(r.r_regionkey), r.r_name) for r in region]
        )
        + render_label_block("modefmt", modes)
        + "run ;\n"
    )
    d = scratch_dir("engine_pyds_")
    path = f"{d}/labels.SAS"
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    pyds.register(spark)
    return spark.read.format("sas_labels").option("path", path).load()


# ---------------------------------------------------------------------------
# custom Python DataSource WRITER (manifest-committed parquet sink)
# ---------------------------------------------------------------------------

_PYSNK_ORACLE = """
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

_PYSNK_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, "
    "ts_us bigint, cents bigint"
)


@query("snk_python_datasource", oracle=_PYSNK_ORACLE, tags=("sink",))
def snk_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITE path (Spark 4 Data Source API,
    ``DataSourceArrowWriter``): events flow through the registered
    ``manifest_parquet`` sink — per-task Arrow-batched parquet staging,
    driver-side manifest commit (the atomic publish point; orphan
    output from failed/speculative attempts never becomes visible) —
    then back through the manifest-scoped reader and an aggregate the
    oracle hash-checks, so the whole protocol (stage → commit message →
    rename → manifest → manifest-scoped read) is value-verified, not
    just exercised. Completes the API surface beside the scan
    (``src_python_datasource``) and stream (``stream_python_source``)
    halves; see sources/pyds.py for the 100 TB rationale (Iceberg/Delta
    commit protocol in miniature).

    Timestamps ride as epoch micros (``unix_micros``/``epoch_us``) —
    the same wire convention as the streaming source, sidestepping
    text-format timezone ambiguity."""
    from udacity_data_engineer_capstone_spark.sources import pyds

    pyds.register_manifest_sink(spark)
    d = os.path.join(scratch_dir("engine_pysnk_"), "log")
    (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        )
        .write.format("manifest_parquet")
        .mode("overwrite")
        .option("path", d)
        .save()
    )
    df, manifest = pyds.read_manifest_parquet(spark, d, _PYSNK_SCHEMA)
    assert manifest["n_rows"] > 0, "manifest committed no rows"
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.max("ts_us").alias("max_ts_us"),
    )


# ---------------------------------------------------------------------------
# Z-order curve (multi-dimensional data layout)
# ---------------------------------------------------------------------------

def _interleave_expr(a: str, b: str, bits: int = 16) -> str:
    """Bit-interleave two columns into a Z-value: a's bit i lands at
    position 2i+1, b's at 2i — pure 64-bit integer ops, identical text
    in Spark SQL and DuckDB."""
    parts = []
    for i in range(bits):
        parts.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        parts.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(parts)


_ZEXPR = _interleave_expr("l_orderkey", "l_partkey")

_ZORDER_ORACLE = f"""
SELECT l_orderkey, l_partkey,
       {_ZEXPR} AS zvalue
FROM lineitem
"""


@query("fn_zorder_curve", oracle=_ZORDER_ORACLE, tags=("scalar", "layout"))
def fn_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve value over two join keys — the
    multi-dimensional clustering primitive: sorting files by zvalue
    co-locates rows close in BOTH key dimensions, so min/max file stats
    prune scans filtered on either key (what Delta's OPTIMIZE ZORDER
    does; here as a first-class expression usable with
    ``sortWithinPartitions`` before any parquet write). Pure integer
    bit arithmetic — codegen'd, zero shuffle, bit-identical across
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        F.expr(_ZEXPR).alias("zvalue"),
    )


# ---------------------------------------------------------------------------
# whole-line text source
# ---------------------------------------------------------------------------

_TEXT_SRC_ORACLE = """
SELECT md5(text) AS line_md5, n_chars
FROM documents
"""


@query("src_text_lines", oracle=_TEXT_SRC_ORACLE, tags=("source", "sink"))
def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source/sink round-trip: export documents one per line
    with ``write.text``, read back with ``read.text`` (the rawest
    ingestion format — every log/crawl pipeline starts here). Line md5s
    must match the originals, proving the format preserves content
    byte-for-byte (the testdata texts contain no newlines, the
    precondition one-doc-per-line requires)."""
    d = scratch_dir("engine_src_text_")
    load_table(spark, sf_dir, "documents").select("text").write.mode(
        "overwrite"
    ).text(d)
    return spark.read.text(d).select(
        F.md5(F.col("value")).alias("line_md5"),
        F.length("value").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# JSON struct round-trip
# ---------------------------------------------------------------------------

_JSON_RT_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
"""


@query("fn_json_roundtrip", oracle=_JSON_RT_ORACLE, tags=("scalar", "json"))
def fn_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``to_json`` → ``from_json`` struct round-trip: serialize each
    order row into a JSON string column and parse it back with an
    explicit schema. The extracted fields must equal the originals —
    including the double surviving text serialization exactly (Spark
    writes shortest-round-trip doubles). The embed/extract primitive
    for event payloads and API exports; pure projections, zero
    shuffle."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    return orders.select(
        F.to_json(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
        ).alias("j")
    ).select(F.from_json("j", schema).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# XML source/sink (built-in since Spark 4.0)
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@query("src_xml_roundtrip", oracle=_XML_ORACLE, tags=("source", "sink"))
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip over the nation dim using Spark 4's
    built-in XML data source (``format("xml")`` with ``rowTag``). The
    read passes an explicit schema — XML schema inference is a second
    full scan, unaffordable on large feeds. DuckDB cannot read XML, so
    the oracle runs on the parquet original; equality proves the
    round-trip is lossless."""
    d = scratch_dir("engine_src_xml_")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "rowTag", "nation"
    ).format("xml").save(d)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("rowTag", "nation")
        .format("xml")
        .load(d)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured extraction (Spark 4 open variant type)
# ---------------------------------------------------------------------------

# The oracle rebuilds every extracted field from the ground-truth columns
# the JSON was constructed from (fn_url_parse pattern) — the VARIANT
# parse/extract path is verified against reality, not another parser.
_VARIANT_ORACLE = """
SELECT event_id,
       event_type AS vtype,
       user_id AS first_val,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
       CAST(NULL AS VARCHAR) AS missing_field
FROM events
"""


@query("fn_variant_extract", oracle=_VARIANT_ORACLE, tags=("scalar", "json"))
def fn_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion: each event's typed columns are
    serialized to a JSON document (nested object + array), parsed once
    with ``parse_json`` into the binary VARIANT encoding, and fields are
    pulled back out with typed ``variant_get`` JSON-path extraction —
    the schema-on-read primitive for heterogeneous event payloads where
    declaring a full struct schema up front is impossible. A miss path
    returns NULL rather than erroring. VARIANT keeps the parse cost to
    one pass per document and every extraction JVM-side — no Python, no
    per-field re-parse of the JSON text."""
    ev = load_table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.struct(
                F.col("event_type").alias("type"),
                F.array("user_id", "event_id").alias("vals"),
            ).alias("meta"),
        )
    )
    parsed = ev.select(
        "event_id",
        F.parse_json(doc).alias("v"),
        F.parse_json("props").alias("pk"),
    )
    return parsed.select(
        "event_id",
        F.expr("variant_get(v, '$.meta.type', 'string')").alias("vtype"),
        F.expr("variant_get(v, '$.meta.vals[0]', 'bigint')").alias("first_val"),
        F.expr("variant_get(pk, '$.k', 'int')").alias("k_val"),
        F.expr("variant_get(v, '$.meta.absent', 'string')").alias(
            "missing_field"
        ),
    )


# ---------------------------------------------------------------------------
# schema evolution: mergeSchema over parquet batches written months apart
# ---------------------------------------------------------------------------

# Batch 1 (even orderkeys) predates the o_orderstatus column; batch 2
# (odd orderkeys) has it. The oracle reconstructs the evolved view from
# the original table: status is NULL exactly for batch-1 rows. Sums run
# in exact decimal so fold order cannot drift.
_EVOLVE_ORACLE = """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END
"""


@query("src_schema_evolution", oracle=_EVOLVE_ORACLE, tags=("source", "sink"))
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches with different
    schemas (the second adds ``o_orderstatus``) land in one dataset and
    are read back with ``mergeSchema=true`` — the day-2 reality of any
    long-lived lake table. Rows from the pre-evolution batch surface
    the new column as NULL; the aggregate groups on it to prove the
    merged schema, not just the row union. At scale, mergeSchema's
    footer reconciliation is a metadata operation (per-file, no data
    rewrite) — exactly why additive evolution is the cheap path."""
    orders = load_table(spark, sf_dir, "orders")
    d = scratch_dir("engine_src_evolve_")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(d + "/batch=1")
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.mode("overwrite").parquet(d + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        d + "/batch=1", d + "/batch=2"
    )
    return merged.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# ---------------------------------------------------------------------------
# generated calendar dimension (date spine)
# ---------------------------------------------------------------------------

_CALENDAR_ORACLE = """
WITH bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
)
SELECT CAST(d AS DATE) AS cal_date,
       CAST(year(d) AS INT) AS year,
       CAST(quarter(d) AS INT) AS quarter,
       CAST(month(d) AS INT) AS month,
       CAST(day(d) AS INT) AS day,
       CAST(isodow(d) - 1 AS INT) AS weekday,
       (day(d) = 1) AS is_month_start,
       (d = last_day(d)) AS is_month_end
FROM bounds, LATERAL unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS u(d)
"""


@query("src_calendar_dim", oracle=_CALENDAR_ORACLE, tags=("source", "dim"))
def src_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension spanning the fact table's date range
    — the date spine every star schema joins for fiscal rollups (the
    reference hand-builds lookup dims from driver lists,
    ``etl.py:41-78``; a generated spine is the same pattern derived from
    data). weekday is ISO Monday=0 on both engines (Spark ``weekday``,
    DuckDB ``isodow - 1``). The spine generation is one sequence()
    explode from a 2-value aggregate — a few thousand rows regardless of
    fact-table size."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("cal_date")
    )
    return spine.select(
        "cal_date",
        F.year("cal_date").cast("int").alias("year"),
        F.quarter("cal_date").cast("int").alias("quarter"),
        F.month("cal_date").cast("int").alias("month"),
        F.dayofmonth("cal_date").cast("int").alias("day"),
        F.weekday("cal_date").cast("int").alias("weekday"),
        (F.dayofmonth("cal_date") == 1).alias("is_month_start"),
        (F.col("cal_date") == F.last_day("cal_date")).alias("is_month_end"),
    )


# ---------------------------------------------------------------------------
# malformed-CSV quarantine ingest (PERMISSIVE + _corrupt_record)
# ---------------------------------------------------------------------------

# A CSV feed derived from orders with two deterministic corruption
# modes planted: every key % 5 == 0 line carries an unparseable price,
# every remaining key % 7 == 0 line is truncated to two columns. The
# engine ingests with PERMISSIVE mode and a _corrupt_record column —
# the quarantine pattern every production CSV loader runs — and
# reports good/corrupt tallies; the oracle recomputes them from the
# generation rule, so the parser's corruption classification itself is
# what's verified.
_QUARANTINE_ORACLE = """
WITH feed AS (
  SELECT o_orderkey AS k,
         o_orderstatus AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         (o_orderkey % 5 = 0 OR o_orderkey % 7 = 0) AS is_corrupt
  FROM orders WHERE o_orderkey % 13 = 0
)
SELECT is_corrupt,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(k) AS BIGINT) AS min_key,
       CAST(MAX(k) AS BIGINT) AS max_key,
       MAX(status) AS max_status,
       CAST(SUM(CASE WHEN is_corrupt THEN 0 ELSE cents END) AS BIGINT)
         AS sum_good_cents
FROM feed GROUP BY is_corrupt
"""


@query("src_csv_quarantine", oracle=_QUARANTINE_ORACLE, tags=("source", "quality"))
def src_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust CSV ingest: stage a feed with two planted corruption
    modes, read it back in PERMISSIVE mode with ``_corrupt_record``,
    and report per-class tallies. The key survives partial parses (it
    is the first token), so even quarantined rows stay attributable —
    the property an incident replay depends on. At scale this is the
    same scan (PERMISSIVE parsing is per-row, embarrassingly parallel);
    the tally is one 2-row aggregate."""
    from udacity_data_engineer_capstone_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    lines = (
        orders.where(F.col("o_orderkey") % 13 == 0)
        .select(
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.concat_ws(
                    ",",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.lit("NOT_A_NUMBER"),
                ),
            )
            .when(
                F.col("o_orderkey") % 7 == 0,
                F.concat_ws(
                    ",",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                ),
            )
            .otherwise(
                F.concat_ws(
                    ",",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                    cents.cast("string"),
                )
            )
            .alias("value")
        )
    )
    out = scratch_dir("engine_csv_quarantine_")
    lines.write.mode("overwrite").text(out)

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("status", T.StringType(), True),
            T.StructField("cents", T.LongType(), True),
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )
    # CSV column pruning changes _corrupt_record semantics: a pruned
    # parse only flags missing tokens for *referenced* columns, so the
    # classification would depend on which columns the downstream
    # aggregate happens to touch. Rather than flipping the session-wide
    # columnPruning conf (which would silently change later CSV reads in
    # a shared session), the aggregate references EVERY data column
    # (k, status, cents) — pruning then never drops a parse.
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    return (
        parsed.groupBy(F.col("_corrupt_record").isNotNull().alias("is_corrupt"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
            F.max("status").alias("max_status"),
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(), F.coalesce(F.col("cents"), F.lit(0))
                ).otherwise(0)
            ).alias("sum_good_cents"),
        )
    )


# ---------------------------------------------------------------------------
# parquet codec round-trip (compression coverage)
# ---------------------------------------------------------------------------

_CODECS = ("snappy", "gzip", "zstd")

_CODEC_ORACLE = f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS sum_cents
  FROM orders
)
SELECT codec, n_rows, sum_cents
FROM base, (SELECT unnest(['{"', '".join(_CODECS)}']) AS codec)
ORDER BY codec
"""


@query("snk_parquet_codecs", oracle=_CODEC_ORACLE, tags=("sink", "format"))
def snk_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the orders table under snappy/gzip/zstd parquet compression
    and read each copy back, proving every codec round-trips the exact
    row count and integer-cents sum. Codec choice is the storage knob a
    100 TB deployment tunes (zstd ≈ gzip ratio at snappy-class decode
    speed); the verification aggregate is identical across codecs by
    construction, which is precisely the claim being checked."""
    from udacity_data_engineer_capstone_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir("engine_codec_")
    frames = []
    for codec in _CODECS:
        path = f"{out}/{codec}"
        orders.write.option("compression", codec).parquet(path)
        frames.append(
            spark.read.parquet(path).agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.expr(
                        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                    )
                ).alias("sum_cents"),
            )
        )
    res = frames[0]
    for fr in frames[1:]:
        res = res.unionAll(fr)
    return res


# ---------------------------------------------------------------------------
# multiline (JSON-array) source
# ---------------------------------------------------------------------------

_MULTILINE_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@query("src_json_multiline", oracle=_MULTILINE_ORACLE, tags=("source",))
def src_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file JSON-ARRAY source (``multiLine=true``): the API-export
    shape (one big ``[...]`` document) rather than JSON-lines. A
    multiline file is NOT splittable — each file parses in one task —
    so at scale you shard exports into many files (or convert to
    JSON-lines at ingest); here one dim-sized file demonstrates the
    reader. Explicit schema, no inference pass."""
    import json as _json
    import os

    d = scratch_dir("engine_src_mljson_")
    rows = [
        {"r_regionkey": r.r_regionkey, "r_name": r.r_name}
        for r in load_table(spark, sf_dir, "region").collect()  # 5-row dim
    ]
    with open(os.path.join(d, "regions.json"), "w") as f:
        _json.dump(rows, f, indent=2)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    )
    return spark.read.schema(schema).option("multiLine", "true").json(d)


# ---------------------------------------------------------------------------
# parquet footer introspection (storage audit source)
# ---------------------------------------------------------------------------

_PQMETA_ORACLE = """
SELECT path_in_schema AS col_name,
       CAST(row_group_id AS BIGINT) AS row_group_id,
       CAST(row_group_num_rows AS BIGINT) AS rg_rows,
       CAST(num_values AS BIGINT) AS n_values,
       CAST(total_compressed_size AS BIGINT) AS compressed_bytes,
       CAST(total_uncompressed_size AS BIGINT) AS uncompressed_bytes
FROM parquet_metadata('{path}')
"""


@query(
    "src_parquet_metadata",
    oracle=_PQMETA_ORACLE.format(path="/root/testdata/sf0.01/orders.parquet"),
    tags=("source", "audit"),
)
def src_parquet_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer introspection: per-(row group, column) row/value
    counts and byte sizes, read driver-side with pyarrow and lifted
    into a DataFrame — the storage-layout audit feeding compaction and
    sort-order decisions (cf. snk_compaction_plan). The oracle is
    DuckDB's parquet_metadata() over the SAME footer, so the two
    engines independently parse identical physical metadata. Reads the
    ORIGINAL file (not the layout-normalized copy) by design — the
    audit's subject is the raw input's layout.

    Footnote for the sf-dir contract: the oracle string is bound to the
    sf0.01 file (the driver's correctness scale); the Spark side reads
    the same fixed path so both stay comparable at any harness sf."""
    import pyarrow.parquet as pq

    path = "/root/testdata/sf0.01/orders.parquet"
    meta = pq.ParquetFile(path).metadata
    rows = []
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            rows.append(
                (
                    c.path_in_schema,
                    rg,
                    g.num_rows,
                    c.num_values,
                    c.total_compressed_size,
                    c.total_uncompressed_size,
                )
            )
    return spark.createDataFrame(
        rows,
        "col_name string, row_group_id long, rg_rows long, n_values long, "
        "compressed_bytes long, uncompressed_bytes long",
    )


# ---------------------------------------------------------------------------
# real SAS7BDAT binary ingestion (reference etl.py:103-107 connector slot)
# ---------------------------------------------------------------------------

# The staged .sas7bdat carries the orders subset o_orderkey % 3 = 0 with
# SAS-faithful types (all numerics stored as 8-byte doubles, exactly how
# SAS stores the reference's i94 numerics — SURVEY §1.2); the oracle
# recomputes the same aggregate from the parquet ground truth, so what's
# verified is the full binary round-trip: engine writer → real SAS7BDAT
# page/subheader layout → pandas' independent parser → parquet stage →
# distributed Spark scan.
_SAS7BDAT_BIN_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
WHERE o_orderkey % 3 = 0
GROUP BY o_orderstatus
"""


@query(
    "src_sas7bdat_binary",
    oracle=_SAS7BDAT_BIN_ORACLE,
    tags=("source", "format"),
)
def src_sas7bdat_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest an actual ``.sas7bdat`` binary file (not the parquet slot
    ``src_sas7bdat`` uses): stage an orders subset as a real SAS7BDAT
    via :mod:`..sources.sas7bdat`'s minimal writer, then read it back
    with :func:`read_sas7bdat` — an EXECUTOR-SIDE binary parse (one
    ``mapInPandas`` task per file running pandas' independent SAS
    reader in bounded chunks; the driver only peeks the header) staged
    to parquet by a distributed write for the scan. Demonstrates the
    reference's saurfang-connector slot (etl.py:103-107,227) as a
    working DataSource detail rather than a documented substitution."""
    from udacity_data_engineer_capstone_spark.sources.sas7bdat import (
        read_sas7bdat,
        write_sas7bdat,
    )

    def write_orders(path: str) -> None:
        subset = (
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_orderkey") % 3 == 0)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .collect()
        )
        os.mkdir(path)
        write_sas7bdat(
            os.path.join(path, "orders.sas7bdat"),
            [
                ("o_orderkey", "num", 8),
                ("o_totalprice", "num", 8),
                ("o_orderstatus", "str", 1),
            ],
            [(r.o_orderkey, r.o_totalprice, r.o_orderstatus) for r in subset],
            dataset_name="ORDERS",
        )

    stage = stage_once(
        "orders_sas7bdat", [os.path.join(sf_dir, "orders.parquet")], write_orders
    )
    df = read_sas7bdat(spark, os.path.join(stage, "orders.sas7bdat"))
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )


# ---------------------------------------------------------------------------
# gzipped JSON-lines source (the web-crawl dump shape)
# ---------------------------------------------------------------------------

_JSONL_GZ_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
"""


@query("src_jsonl_gz", oracle=_JSONL_GZ_ORACLE, tags=("source",))
def src_jsonl_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed JSON-lines ingestion — the shape crawl dumps
    (Common-Crawl-style WET/WARC derivatives, API export logs) actually
    arrive in. The corpus is round-tripped through ``.json.gz`` and
    re-aggregated; the oracle aggregates the original table, so the
    compressed text round-trip itself is what's verified.

    Scale notes baked into the shape: explicit schema (no inference
    pre-scan — at 100 TB that doubles the read), and gzip files are
    NON-SPLITTABLE — one task per file regardless of size, so the
    writer keeps files bounded (one per input partition here; a real
    lake targets ~256 MB) rather than emitting one giant stream. For
    splittable compressed text at rest, prefer zstd-in-parquet
    (``snk_parquet_codecs``); gzip JSONL is the interchange format you
    READ, not the layout you keep."""
    d = scratch_dir("engine_src_jsonl_gz_")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text", "source").write.mode("overwrite").option(
        "compression", "gzip"
    ).json(d)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    back = spark.read.schema(schema).json(d)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# z-ordered data layout sink (OPTIMIZE ZORDER shape)
# ---------------------------------------------------------------------------

# 21 bits per dimension (42-bit z-values): covers l_orderkey up to 2M —
# wide enough for every test SF with headroom; at larger key domains,
# widen bits or z-order on range-bucketed keys.
_ZLAYOUT_EXPR = _interleave_expr("l_orderkey", "l_partkey", bits=21)

_ZLAYOUT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey,
       CAST(MAX(l_partkey) AS BIGINT) AS max_partkey
FROM lineitem
WHERE l_orderkey <= 2048 AND l_partkey <= 1024
"""


@query("snk_zorder_layout", oracle=_ZLAYOUT_ORACLE, tags=("sink", "layout"))
def snk_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered table rewrite + 2-D box read-back — the full OPTIMIZE
    ZORDER story: range-partition the fact table by its Morton value
    (``fn_zorder_curve``'s expression), sort within partitions, write
    parquet, then answer a box query (l_orderkey ≤ 2048 AND
    l_partkey ≤ 1024) from the files.

    Why it scales: after the z-sort each output file covers a contiguous
    z-range, hence a bounded rectangle in BOTH key dimensions, so the
    parquet min/max column stats let the scan skip every file whose
    rectangle misses the box — the multi-dimensional analogue of
    partition pruning, with file count (not corpus size) driving planner
    cost. tests/test_plans.py pins that most files are stats-skippable
    for this box at sf0.01. The rewrite itself is one range shuffle
    (sampled range boundaries) + a per-partition sort — the same cost
    profile as any global sort, amortized over every future box query.
    """
    out = scratch_dir("engine_zlayout_")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    (
        li.withColumn("zvalue", F.expr(_ZLAYOUT_EXPR))
        .repartitionByRange(16, "zvalue")
        .sortWithinPartitions("zvalue")
        .drop("zvalue")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(
        (F.col("l_orderkey") <= 2048) & (F.col("l_partkey") <= 1024)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).alias("sum_price_cents"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.max("l_partkey").alias("max_partkey"),
    )


# ---------------------------------------------------------------------------
# raw binary-file source (spark.read.format("binaryFile"))
# ---------------------------------------------------------------------------

# SF-independent committed fixture blobs (chained-md5 byte streams, not
# valid UTF-8 — generated by the loop documented in
# tests/test_reference_artifacts.py's sibling docstring): the raw-bytes
# ingestion path a multimodal corpus starts from, before any parquet
# exists. Digest is md5(hex(content)) because DuckDB's md5 takes
# VARCHAR only — hex() of BLOB/BINARY is uppercase in both engines, so
# the digest text matches bit-for-bit.
_BIN_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "sources",
    "fixtures",
    "bin",
)

_BINARY_FILES_ORACLE = f"""
SELECT regexp_extract(filename, '[^/]+$') AS file_name,
       CAST(octet_length(content) AS BIGINT) AS n_bytes,
       md5(hex(content)) AS digest
FROM read_blob('{_BIN_FIXTURE_DIR}/*.bin')
"""


@query("src_binary_files", oracle=_BINARY_FILES_ORACLE, tags=("source", "multimodal"))
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw binary-file ingestion via Spark's ``binaryFile`` data source
    — the step zero of a multimodal pipeline: crawl output (images,
    audio, arbitrary blobs) lands as files; this source turns a
    directory into (path, length, content) rows that the ``mm_*``
    operators then process as binary columns. Excludes
    ``modificationTime`` (host-dependent); emits the stable identity
    (basename, byte length, content digest).

    Scale shape: binaryFile is a standard FileScan — file listing
    parallelizes, each file is one row in one task, and
    ``spark.sql.files.maxPartitionBytes`` packs small blobs into
    shared tasks. For billions of small objects, the production move is
    exactly what the rest of the repo demonstrates: one pass through
    this source into parquet binary columns (``mm_binary_meta``), then
    all downstream work reads the columnar form."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(_BIN_FIXTURE_DIR)
    )
    return df.select(
        F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.hex(F.col("content"))).alias("digest"),
    )


# ---------------------------------------------------------------------------
# fixed-width text source (mainframe/SAS-adjacent record layout)
# ---------------------------------------------------------------------------

# The reference's data lineage is SAS-flavored (cf. src_sas_labels /
# src_sas7bdat); fixed-width records are the other classic layout that
# world ships in. Parsing is pure 1-based substr slicing — identical in
# both engines — over a committed deterministic fixture (generated by a
# chained-md5 loop; see tests/test_reference_artifacts.py's sibling
# docstring pattern). Spark side reads with spark.read.text (one record
# per row, whole line in `value`); DuckDB reads the same file via
# read_csv with a delimiter that cannot occur (\x07) so each line lands
# whole in one VARCHAR column.
_FW_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "sources",
    "fixtures",
    "fixedwidth",
    "ledger.dat",
)

_FW_FIELDS_SQL = """
  CAST(substr({line}, 1, 6) AS BIGINT) AS record_id,
  trim(substr({line}, 7, 12)) AS name,
  CAST(substr({line}, 19, 10) AS BIGINT) AS amount_cents,
  trim(substr({line}, 29, 2)) AS flag,
  CAST(substr({line}, 31, 10) AS DATE) AS entry_date
"""

_FW_ORACLE = f"""
SELECT {_FW_FIELDS_SQL.format(line="column0")}
FROM read_csv('{_FW_FIXTURE}', delim='{chr(7)}', header=false,
              columns={{'column0': 'VARCHAR'}})
"""


@query("src_fixed_width", oracle=_FW_ORACLE, tags=("source",))
def src_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record ingestion: ``spark.read.text`` delivers one
    line per row; typed columns come from 1-based ``substr`` slices +
    trim + cast — the layout-driven parse a COBOL/SAS extract needs.
    Spark has no fixed-width reader; this IS the idiomatic recipe (the
    text scan splits and parallelizes like any FileScan, the slicing is
    a codegen'd projection, and a malformed line surfaces as NULLs from
    the casts rather than killing the scan).

    Scale shape: map-only over the scan; for 100 TB of fixed-width
    extracts the same plan applies unchanged — the text source splits
    on line boundaries regardless of file count."""
    lines = spark.read.text(_FW_FIXTURE)
    return lines.selectExpr(
        *[
            e.strip()
            for e in _FW_FIELDS_SQL.format(line="value").split(",\n")
        ]
    )


# ---------------------------------------------------------------------------
# multiline CSV source (quoted fields with embedded newlines)
# ---------------------------------------------------------------------------

# Embedded-newline CSV breaks naive line-splitting readers; Spark needs
# multiLine=true (which trades split parallelism for correctness —
# documented below). Fixture is written fresh from the nation table each
# call with a comment injected into the quoted field, so the round-trip
# proves quoting + newline handling, not just the happy path.
_CSV_ML_ORACLE = """
SELECT n_nationkey,
       concat(n_name, chr(10), 'line2 of ', n_name) AS note,
       n_regionkey
FROM nation
"""


@query("src_csv_multiline", oracle=_CSV_ML_ORACLE, tags=("source",))
def src_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with quoted embedded newlines: write nation rows whose note
    field contains a real newline, read them back with
    ``multiLine=true``. Without the option the reader splits records
    mid-field — the classic silent-corruption bug in crawl-metadata
    ingestion.

    Scale note: multiLine CSV cannot split files (a record boundary is
    unknowable mid-file), so each file is one task — the production
    layout keeps multiline CSVs many-and-small, or converts once to
    parquet (this repo's standing recommendation for every text
    format)."""
    nation = load_table(spark, sf_dir, "nation")
    d = scratch_dir("engine_csv_ml_")
    staged = nation.select(
        "n_nationkey",
        F.concat(
            F.col("n_name"), F.lit("\n"), F.lit("line2 of "), F.col("n_name")
        ).alias("note"),
        "n_regionkey",
    )
    staged.coalesce(1).write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(d)
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("inferSchema", False)
        .schema("n_nationkey int, note string, n_regionkey int")
        .csv(d)
    )


# ---------------------------------------------------------------------------
# nested parquet round-trip (struct + array-of-struct columns)
# ---------------------------------------------------------------------------

_NESTED_ORACLE = """
SELECT CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
         AS BIGINT) AS sum_price_cents,
       CAST(MAX(len) AS BIGINT) AS max_lines_per_order
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN (SELECT l_orderkey, COUNT(*) AS len FROM lineitem GROUP BY l_orderkey) c
  ON c.l_orderkey = o.o_orderkey
WHERE o.o_orderkey <= 2000
"""


@query("snk_parquet_nested_roundtrip", oracle=_NESTED_ORACLE, tags=("sink",))
def snk_parquet_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested parquet IO: denormalize orders+lines into one row per
    order with a STRUCT header and an ARRAY<STRUCT> of lines
    (array_sort'ed so the layout is deterministic), write it as nested
    parquet, read it back, re-explode, and prove the round-trip loses
    nothing against the flat relational oracle. This is the document
    layout an event-log/lakehouse export actually ships (one object
    per entity), and the explode-side is how consumers renormalize.

    Scale shape: the denormalize is one shuffle on the order key with
    list aggregation; nested parquet preserves columnar pushdown on
    the struct header fields. The o_orderkey <= 2000 slice keeps the
    sink fixture-sized at every SF."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 2000
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") <= 2000
    )
    lines = lineitem.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("linenumber"),
                    F.col("l_partkey").alias("partkey"),
                    F.floor("l_quantity").cast("long").alias("qty"),
                    F.floor(F.col("l_extendedprice") * 100 + 0.5)
                    .cast("long")
                    .alias("price_cents"),
                )
            )
        ).alias("lines")
    )
    nested = orders.join(
        lines, orders["o_orderkey"] == lines["l_orderkey"]
    ).select(
        F.struct(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("header"),
        "lines",
    )
    d = scratch_dir("engine_nested_")
    nested.write.mode("overwrite").parquet(d)
    back = spark.read.parquet(d)
    exploded = back.select(
        F.col("header.orderkey").alias("orderkey"),
        F.size("lines").alias("n_lines_in_order"),
        F.explode("lines").alias("line"),
    )
    return exploded.agg(
        F.countDistinct("orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("line.qty").alias("sum_qty"),
        F.sum("line.price_cents").alias("sum_price_cents"),
        F.max("n_lines_in_order").cast("long").alias("max_lines_per_order"),
    )


# ---------------------------------------------------------------------------
# fixed-width text sink (writer twin of src_fixed_width)
# ---------------------------------------------------------------------------

_FW_SINK_ORACLE = """
SELECT n_nationkey, trim(n_name) AS name, n_regionkey
FROM nation
"""


@query("snk_fixed_width", oracle=_FW_SINK_ORACLE, tags=("sink",))
def snk_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width EXPORT: format nation rows into padded
    layout-stable lines (lpad'd keys, rpad'd name — the format a
    mainframe/SAS consumer ingests), write them with the text sink,
    read them back through the same substr discipline as
    ``src_fixed_width``, and prove the round-trip exact. Together the
    pair closes the fixed-width loop: this engine can both consume and
    produce the layout.

    Map-only format + one text write; the read-back parse is the
    codegen'd slicing projection."""
    nation = load_table(spark, sf_dir, "nation")
    lines = nation.select(
        F.concat(
            F.lpad(F.col("n_nationkey").cast("string"), 4, "0"),
            F.rpad(F.col("n_name"), 16, " "),
            F.lpad(F.col("n_regionkey").cast("string"), 2, "0"),
        ).alias("value")
    )
    d = scratch_dir("engine_fw_sink_")
    lines.coalesce(1).write.mode("overwrite").text(d)
    back = spark.read.text(d)
    return back.select(
        F.substring("value", 1, 4).cast("int").alias("n_nationkey"),
        F.trim(F.substring("value", 5, 16)).alias("name"),
        F.substring("value", 21, 2).cast("int").alias("n_regionkey"),
    )


# ---------------------------------------------------------------------------
# zone-map / file-skipping audit over a real partitioned write
# ---------------------------------------------------------------------------

# Key-range layout: one file per l_orderkey DIV 1024 bucket. The audit
# predicate is a key range; a file is skippable when its min/max zone
# map cannot overlap it — exactly the parquet row-group / data-skipping
# decision a lakehouse scan makes from footer stats.
_PRUNE_BUCKET = 1024
_PRUNE_LO, _PRUNE_HI = 2000, 4000

_FILE_PRUNING_ORACLE = f"""
WITH b AS (
  SELECT l_orderkey, l_shipdate, l_orderkey // {_PRUNE_BUCKET} AS bucket
  FROM lineitem
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship,
       MAX(l_orderkey) < {_PRUNE_LO} OR MIN(l_orderkey) > {_PRUNE_HI}
         AS prunable_for_key_range
FROM b
GROUP BY bucket
"""


@query(
    "src_file_pruning_stats",
    oracle=_FILE_PRUNING_ORACLE,
    tags=("source", "layout"),
)
def src_file_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map effectiveness audit over a REAL partitioned write: lay
    lineitem out as one parquet file per orderkey range, read it back
    with the ``_metadata.file_path`` column, and compute per-file
    min/max footers plus whether a key-range predicate could skip the
    file entirely. ``n_files`` counts actual files per bucket (the
    oracle asserts the layout invariant of exactly one).

    Scale shape: the relayout is one hash repartition on the bucket key
    (each bucket lands in exactly one task, so ``partitionBy`` emits
    exactly one file per bucket); the audit is a map-side-combinable
    aggregate grouped by file. The audit output is file-inventory-sized,
    not data-sized."""
    d = scratch_dir("engine_prune_stats_")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.expr(f"l_orderkey DIV {_PRUNE_BUCKET}").alias("bucket"),
    )
    (
        li.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(d)
    )
    back = spark.read.parquet(d).select(
        F.col("bucket").cast("long").alias("bucket"),
        "l_orderkey",
        "l_shipdate",
        F.col("_metadata.file_path").alias("fp"),
    )
    return back.groupBy("bucket").agg(
        F.countDistinct("fp").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").cast("long").alias("min_key"),
        F.max("l_orderkey").cast("long").alias("max_key"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        (
            (F.max("l_orderkey") < _PRUNE_LO)
            | (F.min("l_orderkey") > _PRUNE_HI)
        ).alias("prunable_for_key_range"),
    )


# ---------------------------------------------------------------------------
# web-server access-log ingestion: regex-parse semi-structured text
# ---------------------------------------------------------------------------

# Combined-log-format lines rendered deterministically from events
# (user -> client IP octets, event_type -> path, value -> bytes), so
# the parse can be verified against the relational source. The regex
# is the canonical CLF parse every log pipeline starts from.
_CLF_REGEX = (
    r'^(\S+) - - \[([^\]]+)\] "GET /([a-z]+) HTTP/1\.1" (\d+) (\d+)$'
)


@query(
    "src_apache_logs",
    oracle="""
SELECT event_type AS path,
       CAST(COUNT(*) AS BIGINT) AS n_requests,
       CAST(COUNT(DISTINCT user_id % 256) AS BIGINT) AS n_client_ips,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_bytes,
       CAST(SUM(CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors
FROM events
GROUP BY event_type
""",
    tags=("source", "text"),
)
def src_apache_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Access-log ingestion end to end: render events as combined-log
    text lines, write them as a real text file, read the file back and
    regex-parse each line into typed columns (client IP, timestamp
    field, path, status, bytes), then aggregate per path. The oracle
    recomputes from the relational source, so a single mis-captured
    group or dropped line fails the gate.

    Scale shape: text scan → one regexp_extract per column (map-side,
    whole-stage codegen) → hash aggregate. The regex never backtracks
    (anchored, single pass) — the property that keeps CPU linear on a
    100 TB log lake."""
    d = scratch_dir("engine_access_log_")
    ev = load_table(spark, sf_dir, "events")
    lines = ev.select(
        F.format_string(
            '10.0.%d.%d - - [%s] "GET /%s HTTP/1.1" %d %d',
            (F.col("user_id") % 256).cast("int"),
            F.lit(7),
            F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss Z"),
            F.col("event_type"),
            F.when(F.col("event_id") % 17 == 0, 500).otherwise(200),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(d)
    raw = spark.read.text(d)
    parsed = raw.select(
        F.regexp_extract("value", _CLF_REGEX, 1).alias("client_ip"),
        F.regexp_extract("value", _CLF_REGEX, 3).alias("path"),
        F.regexp_extract("value", _CLF_REGEX, 4).cast("int").alias("status"),
        F.regexp_extract("value", _CLF_REGEX, 5).cast("long").alias("bytes"),
    ).where(F.col("path") != "")
    return parsed.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.countDistinct("client_ip").alias("n_client_ips"),
        F.sum("bytes").alias("total_bytes"),
        F.sum(F.when(F.col("status") >= 500, 1).otherwise(0)).cast("long")
        .alias("n_errors"),
    )


# ---------------------------------------------------------------------------
# file-metadata columns (_metadata) on a multi-file scan
# ---------------------------------------------------------------------------

# n_files derives from the data: repartition(4) is round-robin, so the
# number of NON-EMPTY shards (the only ones that can appear in
# _metadata.file_name) is LEAST(4, row count) — exact at any SF.
_FILE_META_ORACLE = """
SELECT CAST(LEAST(4, COUNT(*)) AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       TRUE AS every_row_has_file
FROM orders WHERE o_orderstatus = 'F'
"""


@query("src_file_metadata", oracle=_FILE_META_ORACLE, tags=("source",))
def src_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` file columns on a parquet scan — row
    provenance (which physical file produced each row, its size and
    mtime) with ZERO storage cost, the primitive behind file-level
    lineage, incremental reprocessing ('rows from files newer than X'),
    and corrupt-file quarantine. A 4-shard staged write is read back
    with ``_metadata.file_name``; the audit proves every row carries a
    file, the distinct-file count equals the staged layout, and the
    content checksum survives the round-trip.

    Scale shape: metadata columns are populated by the reader per
    split — no join, no extra I/O; the rollup is one hash aggregate."""
    d = stage_once(
        "filemeta",
        [os.path.join(sf_dir, "orders.parquet")],
        lambda path: load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .repartition(4)
        .write.parquet(path),
    )
    back = spark.read.parquet(d).select(
        F.col("_metadata.file_name").alias("file_name"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    return back.agg(
        F.countDistinct("file_name").cast("long").alias("n_files"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.coalesce(
            F.sum(F.col("file_name").isNull().cast("int")) == 0, F.lit(True)
        ).alias("every_row_has_file"),
    )
