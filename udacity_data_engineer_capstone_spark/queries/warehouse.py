"""Warehouse-maintenance operators: SCD2 dimension merge + DQ audit report.

The reference is a warehouse ETL (star schema over immigration facts,
``/root/reference/etl.py:224-266``) whose dimension loads are full
overwrites and whose data-quality checks are built but never raised
(etl.py:252-257). This module supplies the two pieces a production
warehouse actually runs:

- **SCD2 merge** — apply a change batch to a dimension while preserving
  history (close the old row, insert the new version). Spark has no
  MERGE INTO on plain parquet, so the operator expresses the merge as
  set algebra: anti-join (unchanged) ∪ closed old versions ∪ new
  versions — three narrow joins on the business key, each shuffle
  carrying only key-width rows. Versioning uses integer batch numbers,
  not wall-clock timestamps, so the result is deterministic and
  hash-verifiable.
- **DQ audit report** — one row per check (row count, PK uniqueness, FK
  coverage, null rate), the report shape a warehouse publishes after
  each load. Each check is a single aggregate; the FK check is an
  anti-join count, id-width at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.catalog import load_table, register_views
from udacity_data_engineer_capstone_spark.memo import scratch_dir, stage_once
from udacity_data_engineer_capstone_spark.operators.ordinal import (
    composite_bucket_key,
    global_cum,
    global_lag_dense,
    global_row_number,
    global_row_numbers,
    ntile_from_rank,
)
from udacity_data_engineer_capstone_spark.registry import query

# ---------------------------------------------------------------------------
# SCD2 merge
# ---------------------------------------------------------------------------

# the change batch, derived deterministically: every 7th customer changes
# segment; brand-new customers arrive with keys in the DERIVED disjoint
# range above MAX(c_custkey) (round-11 fixed-offset audit: the old
# +1e6 offset collides with real custkeys at sf10's 1.5M)
_UPD_MOD = 7
_NEW_MOD = 11
_CUST_OFF = "(SELECT MAX(c_custkey) + 1 FROM customer)"

_SCD2_ORACLE = f"""
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
),
upd AS (
  SELECT c_custkey, 'UPDATED' AS c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % {_UPD_MOD} = 0
  UNION ALL
  SELECT c_custkey + {_CUST_OFF} AS c_custkey, 'NEW' AS c_mktsegment,
         CAST(0.0 AS DOUBLE) AS c_acctbal
  FROM customer WHERE c_custkey % {_NEW_MOD} = 3
)
SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal,
       0 AS valid_from, NULL AS valid_to, TRUE AS is_current
FROM dim d
WHERE d.c_custkey NOT IN (SELECT c_custkey FROM upd)
UNION ALL
SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal,
       0 AS valid_from, 1 AS valid_to, FALSE AS is_current
FROM dim d
WHERE d.c_custkey IN (SELECT c_custkey FROM upd)
UNION ALL
SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal,
       1 AS valid_from, NULL AS valid_to, TRUE AS is_current
FROM upd u
"""


@query("snk_scd2_merge", oracle=_SCD2_ORACLE, tags=("sink", "pipeline"))
def snk_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: unchanged rows stay
    current, changed keys get their old version closed (valid_to = new
    batch) and a new current version inserted, net-new keys insert at
    the new version. Three id-width joins — the parquet-era stand-in
    for MERGE INTO, and the plan a Delta/Iceberg MERGE lowers to
    anyway."""
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    upd = (
        dim.filter(F.col("c_custkey") % _UPD_MOD == 0)
        .select(
            "c_custkey",
            F.lit("UPDATED").alias("c_mktsegment"),
            "c_acctbal",
        )
        .unionAll(
            dim.filter(F.col("c_custkey") % _NEW_MOD == 3)
            .crossJoin(
                F.broadcast(
                    dim.agg((F.max("c_custkey") + 1).alias("coff"))
                )
            )
            .select(
                (F.col("c_custkey") + F.col("coff")).alias("c_custkey"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    upd_keys = upd.select("c_custkey")
    v_from = F.lit(0).alias("valid_from")
    no_end = F.lit(None).cast("int").alias("valid_to")
    unchanged = dim.join(upd_keys, "c_custkey", "left_anti").select(
        "*", v_from, no_end, F.lit(True).alias("is_current")
    )
    closed = dim.join(upd_keys, "c_custkey", "left_semi").select(
        "*", v_from, F.lit(1).alias("valid_to"), F.lit(False).alias("is_current")
    )
    fresh = upd.select(
        "*",
        F.lit(1).alias("valid_from"),
        no_end,
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionAll(closed).unionAll(fresh)


# ---------------------------------------------------------------------------
# DQ audit report
# ---------------------------------------------------------------------------

_DQ_REPORT_ORACLE = """
SELECT 'orders_rowcount' AS check_name,
       COUNT(*) AS observed,
       COUNT(*) >= 1 AS passed
FROM orders
UNION ALL
SELECT 'orders_pk_unique',
       COUNT(*) - COUNT(DISTINCT o_orderkey),
       COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
FROM orders
UNION ALL
SELECT 'lineitem_orderkey_fk_orphans',
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
UNION ALL
SELECT 'customer_segment_nulls',
       COUNT(*) FILTER (WHERE c_mktsegment IS NULL),
       COUNT(*) FILTER (WHERE c_mktsegment IS NULL) = 0
FROM customer
"""


@query("act_dq_report", oracle=_DQ_REPORT_ORACLE, tags=("agg", "dq"))
def act_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit report: one row per check — row count, primary
    key uniqueness, foreign-key orphan count (anti-join, id-width), and
    null-rate — with observed value and pass verdict. The publishable
    twin of ``act_count_dq``'s raise-on-failure gate."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    rowcount = orders.agg(
        F.lit("orders_rowcount").alias("check_name"),
        F.count(F.lit(1)).alias("observed"),
        (F.count(F.lit(1)) >= 1).alias("passed"),
    )
    dup = F.count(F.lit(1)) - F.countDistinct("o_orderkey")
    pk_unique = orders.agg(
        F.lit("orders_pk_unique").alias("check_name"),
        dup.alias("observed"),
        (dup == 0).alias("passed"),
    )
    orphans = lineitem.join(
        orders.select("o_orderkey"),
        lineitem["l_orderkey"] == orders["o_orderkey"],
        "left_anti",
    ).agg(
        F.lit("lineitem_orderkey_fk_orphans").alias("check_name"),
        F.count(F.lit(1)).alias("observed"),
        (F.count(F.lit(1)) == 0).alias("passed"),
    )
    nulls = F.count(F.lit(1)) - F.count("c_mktsegment")
    null_rate = customer.agg(
        F.lit("customer_segment_nulls").alias("check_name"),
        nulls.alias("observed"),
        (nulls == 0).alias("passed"),
    )
    return rowcount.unionAll(pk_unique).unionAll(orphans).unionAll(null_rate)


# ---------------------------------------------------------------------------
# CDC upsert: replay a change log into current state (type-1 merge)
# ---------------------------------------------------------------------------

# Deterministic multi-batch change log over the orders snapshot:
#   seq 1: every 7th key updates status; seq 2: every 5th key (mod 2)
#   deletes, plus net-new keys above 2M insert; seq 3: a subset of the
#   seq-1 keys updates AGAIN (the double-update is what makes
#   last-writer-wins observable). Shared SQL text for both engines.
_CDC_SQL = """
WITH snapshot AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
         0 AS seq, 'I' AS op
  FROM orders
),
log AS (
  SELECT o_orderkey, 'U1' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DECIMAL(18,2))
           AS o_totalprice,
         1 AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
         2 AS seq, 'D' AS op
  FROM orders WHERE o_orderkey % 5 = 2
  UNION ALL
  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders)
           AS o_orderkey, 'NEW' AS o_orderstatus,
         CAST(1.00 AS DECIMAL(18,2)) AS o_totalprice, 2 AS seq, 'I' AS op
  FROM orders WHERE o_orderkey % 11 = 4
  UNION ALL
  SELECT o_orderkey, 'U3' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 20 AS DECIMAL(18,2))
           AS o_totalprice,
         3 AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 7 = 1 AND o_orderkey % 3 = 0
),
unioned AS (
  SELECT * FROM snapshot UNION ALL SELECT * FROM log
),
ranked AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, seq, op,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(seq AS INT) AS last_seq
FROM ranked
WHERE rn = 1 AND op <> 'D'
"""


@query("cdc_upsert_log", oracle=_CDC_SQL, tags=("pipeline", "sink"))
def cdc_upsert_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture replay: fold a multi-batch I/U/D change log
    into current state with last-writer-wins (type-1) semantics — what a
    MERGE INTO loop does in Delta/Iceberg, expressed as one ranked
    window over snapshot ∪ log. Batch sequence numbers (not wall-clock)
    version the writes, so replay is deterministic and idempotent.

    Scale shape: one hash shuffle on the business key; the per-key
    window sees only that key's versions (snapshot row + its log
    entries), so state is bounded by update multiplicity, never table
    size. Deletes ride the same path as a tombstone op filtered at the
    end — no separate anti-join pass."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_CDC_SQL)


# ---------------------------------------------------------------------------
# small-file compaction planner (the OPTIMIZE bin-packer)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 65536  # bytes per output file (scaled down for testdata)

# The inventory is one row per (simulated) data file; packing uses the
# prefix-sum-before-me trick: bin = floor(cum_prev / target), which
# packs files in date order into ~target-sized bins in one window pass.
# 65536 is a power of two, so cum_prev / 65536.0 is exact and floor is
# deterministic. Shared SQL text.
_COMPACT_SQL = f"""
WITH files AS (
  SELECT CAST(l_shipdate AS DATE) AS file_date,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) * 128 AS BIGINT) AS bytes
  FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
),
packed AS (
  SELECT file_date, n_rows, bytes,
         CAST(COALESCE(SUM(bytes) OVER (ORDER BY file_date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_prev
  FROM files
)
SELECT CAST(floor(cum_prev / {_COMPACT_TARGET}.0) AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_input_files,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       MIN(file_date) AS first_date,
       MAX(file_date) AS last_date
FROM packed
GROUP BY CAST(floor(cum_prev / {_COMPACT_TARGET}.0) AS BIGINT)
"""


@query("snk_compaction_plan", oracle=_COMPACT_SQL, tags=("sink", "layout"))
def snk_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: bin-pack a date-ordered file
    inventory (simulated as one file per ship date, 128 bytes/row) into
    ~64 KiB output files — the planning half of OPTIMIZE/rewriteDataFiles
    that keeps a 100 TB table from drowning in small files. A prefix sum
    over the inventory assigns each file to floor(bytes_before/target),
    preserving date locality so compacted files stay partition-prunable.

    Scale shape: the prefix sum runs over the FILE INVENTORY (one row
    per file, metadata-sized) via the two-phase exact cumulative
    (``operators.ordinal.global_cum``), so even a multi-million-file
    inventory never funnels through a single-partition window. The
    data movement it plans is then an embarrassingly-parallel per-bin
    rewrite."""
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(F.col("l_shipdate").cast("date").alias("file_date")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) * 128).cast("long").alias("bytes"),
    )
    packed = global_cum(
        files,
        [F.col("file_date")],
        F.datediff(F.col("file_date"), F.to_date(F.lit("1970-01-01"))),
        F.col("bytes"),
        agg="sum",
        inclusive=False,
        out="cum_prev",
    ).withColumn("cum_prev", F.coalesce(F.col("cum_prev"), F.lit(0)).cast("long"))
    return (
        packed.groupBy(
            F.floor(F.col("cum_prev") / float(_COMPACT_TARGET))
            .cast("long")
            .alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_input_files"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.min("file_date").alias("first_date"),
            F.max("file_date").alias("last_date"),
        )
    )


# ---------------------------------------------------------------------------
# small-file compaction EXECUTION (the distributed rewrite the plan feeds)
# ---------------------------------------------------------------------------

# The audit the rewrite must satisfy: byte-identical content (row count
# + cents checksum recomputed from the ORIGINAL table by the oracle,
# from the REWRITTEN files by Spark) and a layout that actually hit the
# target (every output file ≤ 2× target, file count as planned).
_COMPACT_EXEC_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       TRUE AS n_files_as_planned,
       TRUE AS files_within_target
FROM lineitem
"""

_COMPACT_EXEC_TARGET = 1 << 20  # 1 MiB output files at test scale


# ---------------------------------------------------------------------------
# globally-sorted layout write (the zone-map clustering job)
# ---------------------------------------------------------------------------

def _gs_file_count(spark: SparkSession, sf_dir: str) -> int:
    """Output file count for the sorted-layout job, DERIVED from the
    sizing profile (round-9: this was the last registered query with
    an underived capacity constant): ``ceil(source_bytes /
    spark.sql.files.maxPartitionBytes)`` — each clustered output file
    lands on the same size the profile's scan splits target, so the
    re-read of the layout parallelizes exactly like any other table —
    floored at 8 so the disjointness audit exercises a multi-file
    layout even at test scale (sf0.1 orders ≈ 4 MB → the historical
    8). A 100 TB table at the 128 MB target derives ~800k files —
    the file-per-split layout a warehouse clustering job actually
    produces."""
    import math
    import os

    p = os.path.join(sf_dir, "orders.parquet")
    size = 0
    if os.path.isdir(p):
        for root, _dirs, files in os.walk(p):
            size += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    elif os.path.exists(p):
        size = os.path.getsize(p)
    tgt = int(
        spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
    )
    return max(8, math.ceil(size / max(tgt, 1)))


_GS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       TRUE AS key_ranges_disjoint,
       TRUE AS content_intact
FROM orders
"""


@query("snk_parquet_global_sorted", oracle=_GS_ORACLE, tags=("sink", "layout"))
def snk_parquet_global_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders as a GLOBALLY key-clustered parquet layout and
    audit it: ``repartitionByRange(key)`` (Spark's sampled
    range-exchange — the distributed total-order primitive; no
    partition ever holds more than ~1/N of the keys and no single
    task ever sees the whole frame) + ``sortWithinPartitions`` gives
    pairwise-DISJOINT per-file key ranges — the property that makes
    min/max zone maps actually prune (cf. ``src_file_pruning_stats``,
    which measures the payoff). This is the layout job a 100 TB
    warehouse runs to cluster a table on its hottest filter key; the
    file count is DERIVED from source size / the profile's partition
    target (``_gs_file_count``), not a constant.

    The returned audit row re-reads the files, recomputes row count +
    content checksum (the oracle pins both against the source), and
    verifies the disjointness claim from the per-file min/max
    boundaries (a bounded |files|-row collect)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    d = scratch_dir("engine_global_sorted_")
    (
        orders.repartitionByRange(_gs_file_count(spark, sf_dir), "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(d)
    )
    back = spark.read.parquet(d)
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
        .collect()  # bounded by the file count
    )
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    disjoint = all(
        spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
    )
    n_rows = sum(r["n"] for r in per_file)
    sum_cents = sum(r["s"] for r in per_file)
    src = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    ).first()
    intact = n_rows == src["n"] and sum_cents == src["s"]
    return spark.createDataFrame(
        [(n_rows, sum_cents, bool(disjoint), bool(intact))],
        "n_rows long, sum_cents long, key_ranges_disjoint boolean,"
        " content_intact boolean",
    )


@query(
    "snk_compaction_rewrite",
    oracle=_COMPACT_EXEC_ORACLE,
    tags=("sink", "layout"),
)
def snk_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed compaction JOB — the execution half whose plan
    ``snk_compaction_plan`` computes, and the production analog of the
    test-env pyarrow shim in ``catalog._normalized_path`` (which this
    job exists to replace at scale; the shim is marked test-only).

    ``maintenance.compact_parquet`` lists the table's files (metadata
    only — the one driver-side step every maintenance service has),
    plans ``ceil(total_bytes/target)`` output files, and rewrites via
    ``read → repartition(n) → write`` — executors move all data, row
    groups capped at target/4 so even one file scans in parallel. The
    audit row is computed FROM THE REWRITTEN FILES, so the oracle
    (recomputing from the original table) proves the rewrite lossless,
    while the layout booleans prove the files landed on target."""
    from udacity_data_engineer_capstone_spark.catalog import table_path
    from udacity_data_engineer_capstone_spark.maintenance import (
        _list_data_files,
        compact_parquet,
        plan_output_files,
    )

    src = table_path(sf_dir, "lineitem")
    # target bytes is part of the stage key: a target change must not
    # reuse a rewrite laid out for the old target (the audit booleans
    # would be computed against the wrong geometry)
    dst = stage_once(
        "compacted",
        [src],
        lambda path: compact_parquet(
            spark, src, path, target_bytes=_COMPACT_EXEC_TARGET
        ),
        key=str(_COMPACT_EXEC_TARGET),
    )

    n_files, total_bytes = _list_data_files(spark, dst)
    # recompute the plan from the SOURCE listing for the as-planned check
    _, src_bytes = _list_data_files(spark, src)
    planned = plan_output_files(src_bytes, _COMPACT_EXEC_TARGET)
    # per-file size bound: no output file more than 2x target (the
    # repartition is round-robin, so files are near-uniform)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(dst)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    max_file = 0
    while it.hasNext():
        f = it.next()
        if not f.getPath().getName().startswith(("_", ".")):
            max_file = max(max_file, f.getLen())

    return (
        spark.read.parquet(dst)
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_rows"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .withColumn("n_files_as_planned", F.lit(n_files == planned))
        .withColumn(
            "files_within_target",
            F.lit(max_file <= 2 * _COMPACT_EXEC_TARGET),
        )
    )


# ---------------------------------------------------------------------------
# snapshot diff (table-version comparison)
# ---------------------------------------------------------------------------

# v2 is a deterministic mutation of the orders snapshot: keys %17==5
# deleted, %13==3 repriced, %19==7 cloned as net-new keys above 3M.
# Shared SQL text; prices compare in exact decimal.
_SNAPDIFF_SQL = """
WITH v1 AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
v2 AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2))
              + CASE WHEN o_orderkey % 13 = 3 THEN 5 ELSE 0 END
              AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderkey % 17 <> 5
  UNION ALL
  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders) AS k,
         'NEW' AS status,
         CAST(2.00 AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderkey % 19 = 7
),
diff AS (
  SELECT COALESCE(a.k, b.k) AS k,
         CASE WHEN a.k IS NULL THEN 'added'
              WHEN b.k IS NULL THEN 'deleted'
              WHEN a.status <> b.status OR a.price <> b.price THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM v1 a FULL JOIN v2 b ON a.k = b.k
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(k) AS BIGINT) AS min_key,
       CAST(MAX(k) AS BIGINT) AS max_key
FROM diff GROUP BY change_type
"""


@query("cdc_snapshot_diff", oracle=_SNAPDIFF_SQL, tags=("pipeline", "audit"))
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two table versions — the audit behind time
    travel ("what changed between Tuesday and today"): one full outer
    join on the business key classifies every row as added / deleted /
    changed / unchanged, then a count rollup summarizes. One key
    shuffle for the join; value comparison is columnar (exact decimal),
    no row serialization. At 100 TB both sides prune to changed
    partitions first when partition-level metadata (snapshot manifests)
    is available — this is the full-scan reference semantics."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SNAPDIFF_SQL)


# ---------------------------------------------------------------------------
# SCD2 as-of join: facts against the dimension version valid at fact time
# ---------------------------------------------------------------------------

# Versioned dim built deterministically: batch 0 = original customer
# rows (valid [0, 1) for every 7th key, [0, inf) otherwise); batch 1 =
# the updated versions of every 7th key (valid [1, inf)). Facts carry a
# deterministic integer batch-time t = o_orderkey % 3 in {0,1,2}.
_SCD2_ASOF_SQL = """
WITH dim_v AS (
  SELECT c_custkey, c_mktsegment, 0 AS valid_from,
         CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE NULL END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, 'UPDATED' AS c_mktsegment, 1 AS valid_from, NULL AS valid_to
  FROM customer WHERE c_custkey % 7 = 0
),
facts AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderkey % 3 AS INT) AS t
  FROM orders
)
SELECT f.o_orderkey, f.o_custkey, f.t,
       d.c_mktsegment AS segment_at_time,
       CAST(d.valid_from AS INT) AS version_from
FROM facts f
JOIN dim_v d
  ON d.c_custkey = f.o_custkey
 AND d.valid_from <= f.t
 AND (d.valid_to IS NULL OR f.t < d.valid_to)
"""


@query("join_scd2_asof", oracle=_SCD2_ASOF_SQL, tags=("join", "warehouse"))
def join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup: join each fact to the SCD2 dimension
    VERSION valid at the fact's batch time (the query every star schema
    with history-preserving dims runs). The join is an equi-join on the
    business key with a validity-range residual predicate — per-key
    version counts are tiny, so the residual filters a handful of rows
    per match and the shuffle is exactly the plain key join's. Integer
    batch versions keep it deterministic."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_SCD2_ASOF_SQL)


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

# Exact integer metrics; quartile assignment via ntile over a TOTAL
# order (metric, user_id) so bucket boundaries are engine-invariant.
_RFM_SQL = """
WITH metrics AS (
  SELECT user_id,
         CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events
  GROUP BY user_id
),
scored AS (
  SELECT user_id, last_us, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY last_us, user_id) AS r_quartile,
         ntile(4) OVER (ORDER BY frequency, user_id) AS f_quartile,
         ntile(4) OVER (ORDER BY monetary_cents, user_id) AS m_quartile
  FROM metrics
)
SELECT user_id, last_us, frequency, monetary_cents,
       CAST(r_quartile AS INT) AS r_quartile,
       CAST(f_quartile AS INT) AS f_quartile,
       CAST(m_quartile AS INT) AS m_quartile,
       CAST(r_quartile * 100 + f_quartile * 10 + m_quartile AS INT) AS rfm_code
FROM scored
"""


@query("evt_rfm_segmentation", oracle=_RFM_SQL, tags=("events", "analytics"))
def evt_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quartile segmentation of users —
    the classic behavioral cohorting query. Metrics are exact integers
    (epoch µs, counts, cents); quartiles come from ntile over a total
    order so both engines cut identical buckets. One hash aggregate per
    user, then three exact two-phase global ordinals
    (``operators.ordinal.global_row_number`` + ``ntile_from_rank``) —
    identical quartiles to the oracle's single-partition ntile windows,
    but every rank runs at bucket-level parallelism (frequency ties are
    heavy, so each bucket key folds user_id in)."""
    ev = load_table(spark, sf_dir, "events")
    metrics = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).cast("long").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    m, n = global_row_numbers(
        metrics,
        [
            (
                [F.col("last_us"), F.col("user_id")],
                composite_bucket_key(F.col("last_us"), F.col("user_id")),
                "r_rk",
            ),
            (
                [F.col("frequency"), F.col("user_id")],
                composite_bucket_key(F.col("frequency"), F.col("user_id")),
                "f_rk",
            ),
            (
                [F.col("monetary_cents"), F.col("user_id")],
                composite_bucket_key(
                    F.col("monetary_cents"), F.col("user_id")
                ),
                "m_rk",
            ),
        ],
    )
    r_q = ntile_from_rank(F.col("r_rk"), n, 4)
    f_q = ntile_from_rank(F.col("f_rk"), n, 4)
    m_q = ntile_from_rank(F.col("m_rk"), n, 4)
    return m.select(
        "user_id",
        "last_us",
        "frequency",
        "monetary_cents",
        r_q.alias("r_quartile"),
        f_q.alias("f_quartile"),
        m_q.alias("m_quartile"),
        (r_q * 100 + f_q * 10 + m_q).cast("int").alias("rfm_code"),
    )


# ---------------------------------------------------------------------------
# dynamic partition overwrite (the warehouse refresh primitive)
# ---------------------------------------------------------------------------

# Refreshing one partition of a partitioned table must not clobber its
# siblings — Spark's static overwrite mode truncates the whole table,
# dynamic mode replaces only the partitions present in the written
# frame. The query stages orders partitioned by status, overwrites JUST
# the 'O' partition with a deterministically modified refresh (prices
# +1), and reads the table back; the oracle reproduces "O refreshed,
# F/P untouched" relationally. Getting this wrong (static mode) loses
# every untouched partition and the oracle mismatch catches it.
_DYN_OVERWRITE_ORACLE = """
WITH merged AS (
  SELECT o_orderkey,
         o_orderstatus,
         CASE WHEN o_orderstatus = 'O'
              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 100
              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM merged
GROUP BY o_orderstatus
"""


@query(
    "snk_dynamic_partition_overwrite",
    oracle=_DYN_OVERWRITE_ORACLE,
    tags=("sink", "warehouse"),
)
def snk_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write → dynamic-mode overwrite of ONE partition →
    read-back audit. The overwrite frame repartitions on the partition
    key first (one file set per partition, the same discipline as
    snk_parquet_part2); `partitionOverwriteMode=dynamic` is set on the
    WRITER (per-operation, not session-wide — the conf-leak lesson from
    src_csv_quarantine applies to sinks too)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    d = scratch_dir("engine_dyn_overwrite_")
    (
        orders.repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(d)
    )
    refresh = orders.where(F.col("o_orderstatus") == "O").withColumn(
        "cents", F.col("cents") + 100
    )
    (
        refresh.repartition("o_orderstatus")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(d)
    )
    return (
        spark.read.parquet(d)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy gate before a data release)
# ---------------------------------------------------------------------------

# Quasi-identifier = (nation, market segment, acctbal band). A release
# is k-anonymous when every occupied QI cell holds >= k individuals;
# the audit reports per-cell sizes for violating cells plus the overall
# k (min cell size) so the gate is one boolean away. Pure hash
# aggregate — the 100 TB shape is a single shuffle on the QI key.
_K_ANON_K = 5

_K_ANON_ORACLE = f"""
WITH cells AS (
  SELECT c_nationkey AS nation,
         c_mktsegment AS segment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS cell_size
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT nation, segment, bal_band, cell_size,
       CAST(MIN(cell_size) OVER () AS BIGINT) AS k_overall,
       cell_size < {_K_ANON_K} AS violates_k{_K_ANON_K}
FROM cells
WHERE cell_size < {_K_ANON_K}
"""


@query("curate_k_anonymity", oracle=_K_ANON_ORACLE, tags=("curation", "privacy"))
def curate_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (nation, segment, balance-band) quasi-
    identifiers: emit every cell smaller than k=5 plus the
    overall minimum cell size (equal to the min violating cell size
    whenever violations exist, which is what the oracle's post-filter
    window computes). The release gate a privacy review runs
    before shipping customer-derived training data; violating cells are
    the rows to suppress or generalize."""
    cells = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("cell_size"))
    )
    # overall min rides a 1-row broadcast, not a SinglePartition window
    # over the (release-sized) cell frame
    k_min = cells.agg(F.min("cell_size").cast("long").alias("k_overall"))
    return (
        cells.crossJoin(F.broadcast(k_min))
        .where(F.col("cell_size") < _K_ANON_K)
        .select(
            "nation",
            "segment",
            "bal_band",
            "cell_size",
            "k_overall",
            (F.col("cell_size") < _K_ANON_K).alias(f"violates_k{_K_ANON_K}"),
        )
    )


# ---------------------------------------------------------------------------
# atomic manifest publish (no-partial-reads sink pattern)
# ---------------------------------------------------------------------------

_MANIFEST_ORACLE = """
SELECT CAST(4 AS INT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderstatus = 'O'
"""


@query("snk_manifest_publish", oracle=_MANIFEST_ORACLE, tags=("sink", "warehouse"))
def snk_manifest_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic publish via a manifest: write data files to a staging
    prefix, then commit by atomically renaming a MANIFEST that lists
    exactly the files (plus row counts) belonging to the snapshot.
    Readers resolve the manifest first and read ONLY the listed files —
    a half-written job is invisible because its manifest never landed.
    This is the core correctness device of Iceberg/Delta commit
    protocols, reduced to its primitive form; swapping in a real table
    format changes the manifest codec, not the query shape.

    The returned row re-reads the data THROUGH the manifest (file list
    → parquet scan restricted to those paths) and re-aggregates, so the
    oracle verifies the publish round-trip end to end. File count is
    pinned by an explicit repartition(4) — layout is part of the
    contract here, like the partitioned-write sinks."""
    import json
    import os

    d = scratch_dir("engine_snk_manifest_")
    data_dir = os.path.join(d, "data")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    orders.repartition(4).write.mode("overwrite").parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    manifest = {"files": [os.path.basename(f) for f in files]}
    tmp = os.path.join(d, "MANIFEST.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(d, "MANIFEST.json"))  # the atomic commit
    with open(os.path.join(d, "MANIFEST.json")) as fh:
        committed = json.load(fh)["files"]
    listed = [os.path.join(data_dir, f) for f in committed]
    back = spark.read.parquet(*listed)
    return back.agg(
        F.lit(len(listed)).cast("int").alias("n_files"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# bucketed-table write + co-located join
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@query("snk_bucketed_join", oracle=_BUCKETED_ORACLE, tags=("sink", "join"))
def snk_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table ingest + join: both fact tables written
    ``bucketBy(8, order key)`` + ``sortBy`` at ingest, then joined as
    catalog tables. At 100 TB this is THE shuffle-delete lever for the
    dominant lineitem⋈orders exchange — bucketed layouts make every
    subsequent equi-join on the bucket key co-located, which
    tests/test_bucketing.py pins as a no-Exchange plan (with broadcast
    disabled so the sort-merge path is what's proven). The aggregate
    here re-reads THROUGH the bucketed tables, so the oracle verifies
    the bucketed write+read round-trip, not just the plan shape."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tbl = f"bq_{name}_{suffix}"
        d = scratch_dir(f"engine_bucketed_{name}_")
        (
            load_table(spark, sf_dir, name)
            .write.mode("overwrite")
            .option("path", d)
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    li = spark.table(f"bq_lineitem_{suffix}")
    orders = spark.table(f"bq_orders_{suffix}")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# dynamic partition pruning: dim filter prunes fact partitions at runtime
# ---------------------------------------------------------------------------

_DPP_ORACLE = """
SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
       CAST((month(l_shipdate) - 1) // 3 + 1 AS INT) AS quarter,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE month(l_shipdate) IN (1, 2, 3)
GROUP BY month(l_shipdate)
"""


@query("join_dpp_pruned", oracle=_DPP_ORACLE, tags=("join", "warehouse"))
def join_dpp_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned by ship month; a dim-side filter (quarter = 1) reaches
    the fact SCAN at runtime as a DPP subquery, so only 3 of 12
    partition directories are read — the single most important scan
    optimization for a partitioned 100 TB warehouse (without DPP this
    join reads 4x the data). tests/test_plans.py pins the
    ``dynamicpruning`` expression in the fact scan.

    The dim is the month→quarter mapping (broadcast); the oracle is the
    statically-pruned twin — parity proves runtime pruning selects
    exactly the same rows."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    d = scratch_dir("engine_dpp_")
    (
        lineitem.withColumn("ship_month", F.month("l_shipdate"))
        # one file per partition dir: repartition on the partition key
        # first so the write doesn't fan out #tasks x #months files
        .repartition("ship_month")
        .write.mode("overwrite")
        .partitionBy("ship_month")
        .parquet(d)
    )
    back = spark.read.parquet(d)
    months = spark.createDataFrame(
        [(m, (m - 1) // 3 + 1) for m in range(1, 13)],
        "ship_month int, quarter int",
    ).filter(F.col("quarter") == 1)
    return (
        back.join(F.broadcast(months), "ship_month")
        .groupBy("ship_month", "quarter")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# referential-integrity audit across the star schema's FK chain
# ---------------------------------------------------------------------------

_RI_CHECKS = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _ri_sql() -> str:
    parts = []
    for fk, child, ck, parent, pk in _RI_CHECKS:
        parts.append(f"""
SELECT '{fk}' AS fk,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) = 0 AS ok
FROM {child} c LEFT JOIN {parent} p ON p.{pk} = c.{ck}""")
    return " UNION ALL ".join(parts)


@query("act_referential_integrity", oracle=_ri_sql(), tags=("action", "quality"))
def act_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the full star-schema FK chain
    (lineitem→orders→customer→nation→region): child count, orphan
    count, and a pass flag per edge — the structural companion of
    ``act_count_dq``'s row-count gates and ``act_dq_report``'s column
    profile. A warehouse load promotes only when every edge is ok.

    Scale shape: each check is one equi LEFT join where the parent side
    is dimension-sized (broadcast) except lineitem→orders, which
    shuffles on the order key exactly like the flagship join; orphan
    counting is a map-side conditional sum."""
    register_views(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region")
    )
    return spark.sql(_ri_sql())


# ---------------------------------------------------------------------------
# sequence-gap audit: missing ranges in a surrogate key
# ---------------------------------------------------------------------------

_SEQ_GAPS_ORACLE = """
WITH keys AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
),
lagged AS (
  SELECT k, LAG(k) OVER (ORDER BY k) AS prev_k
  FROM keys
)
SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n_keys,
       CAST(MIN(prev_k) AS BIGINT) AS min_key,
       CAST(MAX(k) AS BIGINT) AS max_key,
       CAST(MAX(k) - MIN(prev_k) + 1 AS BIGINT) AS expected_span,
       CAST(MAX(k) - MIN(prev_k) + 1 - (COUNT(*) + 1) AS BIGINT)
         AS n_missing,
       CAST(SUM(CASE WHEN k - prev_k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps,
       SUM(CASE WHEN k - prev_k > 1 THEN 1 ELSE 0 END) = 0 AS is_contiguous,
       CAST(MAX(k - prev_k - 1) AS BIGINT) AS widest_gap
FROM lagged
WHERE prev_k IS NOT NULL
"""


@query("act_sequence_gaps", oracle=_SEQ_GAPS_ORACLE, tags=("action", "quality"))
def act_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key contiguity audit for the order sequence — the DQ
    check that catches dropped ingestion batches (a contiguous id range
    vanishing is the classic symptom of a failed partition load,
    invisible to row counts alone). Always emits the one-row summary
    (key span, missing count, gap count, widest gap, pass flag), so a
    clean sequence reports is_contiguous=true rather than nothing.

    Scale shape: one DISTINCT + the dense-key segment lag
    (``operators.ordinal.global_lag_dense``: ARITHMETIC range buckets
    ``(key - min) DIV width`` from one MIN/MAX/COUNT aggregate — no
    histogram sketch, gaps are LOCAL so each bucket lags independently
    and the per-bucket maxima splice the boundaries) — identical lagged
    pairs to the single-partition window it replaces.  Bucket balance
    tracks key density, which is exactly what this audit measures: a
    sequence clustered enough to skew the buckets is a catastrophically
    broken sequence, and the audit's own output says so."""
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    lagged = global_lag_dense(keys, F.col("k"), out="prev_k").filter(
        F.col("prev_k").isNotNull()
    )
    gap = F.when(F.col("k") - F.col("prev_k") > 1, 1).otherwise(0)
    return lagged.agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_keys"),
        F.min("prev_k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
        (F.max("k") - F.min("prev_k") + 1).cast("long").alias("expected_span"),
        (F.max("k") - F.min("prev_k") + 1 - (F.count(F.lit(1)) + 1))
        .cast("long")
        .alias("n_missing"),
        F.sum(gap).cast("long").alias("n_gaps"),
        (F.sum(gap) == 0).alias("is_contiguous"),
        F.max(F.col("k") - F.col("prev_k") - 1).cast("long").alias("widest_gap"),
    )


# ---------------------------------------------------------------------------
# freshness SLA audit: how stale is each event stream?
# ---------------------------------------------------------------------------

# "Now" is the corpus high-water mark (MAX ts over all events), not
# wall-clock — the audit is deterministic and replayable, and in a
# production run the high-water mark IS the batch's logical time.
_FRESHNESS_SLA_MIN = 24 * 60

_FRESHNESS_ORACLE = f"""
WITH per AS (
  SELECT event_type,
         MAX(ts) AS last_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
),
hw AS (SELECT MAX(ts) AS corpus_ts FROM events)
SELECT p.event_type, p.last_ts, p.n_events,
       CAST(FLOOR((FLOOR(EPOCH(hw.corpus_ts)) - FLOOR(EPOCH(p.last_ts))) / 60.0)
            AS BIGINT)
         AS minutes_behind,
       FLOOR((FLOOR(EPOCH(hw.corpus_ts)) - FLOOR(EPOCH(p.last_ts))) / 60.0)
         <= {_FRESHNESS_SLA_MIN} AS fresh
FROM per p CROSS JOIN hw
"""


@query(
    "act_freshness_sla",
    oracle=_FRESHNESS_ORACLE,
    tags=("action", "quality"),
)
def act_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness audit per event stream: minutes between each type's
    last event and the corpus high-water mark, with a 24 h SLA flag —
    the staleness gate that catches one silently-stalled upstream
    topic while total volume still looks healthy (complements
    ``act_sequence_gaps``' dropped-batch check).

    Scale shape: one hash aggregate for the per-type high-water marks,
    one global max (1 row, broadcast back). Epoch arithmetic is exact
    integer seconds in both engines."""
    register_views(spark, sf_dir, ("events",))
    per = spark.sql(
        "SELECT event_type, MAX(ts) AS last_ts,"
        " CAST(COUNT(*) AS BIGINT) AS n_events"
        " FROM events GROUP BY event_type"
    )
    per.createOrReplaceTempView("freshness_per_type")
    return spark.sql(
        f"""
SELECT p.event_type, p.last_ts, p.n_events,
       CAST(FLOOR((unix_timestamp(hw.corpus_ts) - unix_timestamp(p.last_ts))
                  / 60.0) AS BIGINT) AS minutes_behind,
       FLOOR((unix_timestamp(hw.corpus_ts) - unix_timestamp(p.last_ts))
             / 60.0) <= {_FRESHNESS_SLA_MIN} AS fresh
FROM freshness_per_type p
CROSS JOIN (SELECT MAX(last_ts) AS corpus_ts FROM freshness_per_type) hw
"""
    )


# ---------------------------------------------------------------------------
# incremental view maintenance: merge a delta into a snapshot aggregate
# ---------------------------------------------------------------------------

# The IVM contract for distributive aggregates: agg(snapshot ∪ delta)
# == merge(agg(snapshot), agg(delta)) — the engine computes the right
# side (two partial aggregates + a merge re-aggregate, never
# re-scanning the snapshot's raw rows), the oracle computes the left.
# Midday split so the split DAY itself has events on both sides — its
# groups must merge two partials (n_partials = 2), proving the merge
# path is exercised rather than degenerating to a relabeled union.
_IVM_SPLIT = "2024-01-20 12:00:00"

_IVM_ORACLE = f"""
SELECT event_type,
       CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '{_IVM_SPLIT}'
                                THEN 0 ELSE 1 END) AS BIGINT) AS n_partials
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


@query("cdc_incremental_agg", oracle=_IVM_ORACLE, tags=("cdc", "agg"))
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a daily-rollup materialization:
    the pre-split snapshot aggregate and the post-split delta aggregate
    are merged by summing partial states (COUNT/SUM are distributive),
    producing exactly the full recompute the oracle runs — without the
    merge path ever touching snapshot raw rows again. ``n_partials``
    records how many partials fed each group (2 on the split day when a
    type has events on both sides), proving the merge really happened.

    Scale shape: this is the nightly-pipeline pattern that turns a
    100 TB re-aggregation into a delta-sized one: both partial
    aggregates are map-side-combinable, the merge shuffles only
    group-count rows (aggregate state, not data)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    day = F.col("ts").cast("date").alias("day")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", day).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )

    snapshot = partial(ev.where(F.col("ts") < F.lit(_IVM_SPLIT).cast("timestamp")))
    delta = partial(ev.where(F.col("ts") >= F.lit(_IVM_SPLIT).cast("timestamp")))
    return (
        snapshot.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.count(F.lit(1)).alias("n_partials"),
        )
    )


# ---------------------------------------------------------------------------
# l-diversity audit (the sensitive-attribute companion of k-anonymity)
# ---------------------------------------------------------------------------

# Same release gate as curate_k_anonymity, next attack model: a QI cell
# can be large (k-anonymous) yet expose everyone in it if all members
# share one sensitive value. Diversity = distinct sensitive values per
# cell; cells below L are the homogeneity leaks to generalize away.
_L_DIVERSITY_L = 3

_L_DIV_ORACLE = f"""
WITH cells AS (
  SELECT c_nationkey AS nation,
         c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS cell_size,
         CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
              AS BIGINT) AS diversity
  FROM customer
  GROUP BY 1, 2
)
SELECT nation, segment, cell_size, diversity,
       CAST(MIN(diversity) OVER () AS BIGINT) AS l_overall,
       diversity < {_L_DIVERSITY_L} AS violates_l{_L_DIVERSITY_L}
FROM cells
WHERE diversity < {_L_DIVERSITY_L}
"""


@query("curate_l_diversity", oracle=_L_DIV_ORACLE, tags=("curation", "privacy"))
def curate_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over (nation, segment) quasi-identifier cells
    with the balance band as the sensitive attribute: emit every cell
    whose members span fewer than L=3 distinct sensitive values, plus
    the overall minimum diversity — closing the homogeneity attack that
    ``curate_k_anonymity``'s size-only gate misses.

    Scale shape: one hash aggregate with a distinct-count (two-phase
    partial distinct under the hood); output is QI-cell-sized."""
    cells = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("cell_size"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 1000).cast("long")
            ).alias("diversity"),
        )
    )
    # overall min rides a 1-row broadcast, not a SinglePartition window
    # over the (release-sized) cell frame
    l_min = cells.agg(F.min("diversity").cast("long").alias("l_overall"))
    return (
        cells.crossJoin(F.broadcast(l_min))
        .where(F.col("diversity") < _L_DIVERSITY_L)
        .select(
            "nation",
            "segment",
            "cell_size",
            "diversity",
            "l_overall",
            (F.col("diversity") < _L_DIVERSITY_L).alias(
                f"violates_l{_L_DIVERSITY_L}"
            ),
        )
    )


# ---------------------------------------------------------------------------
# time travel: versioned manifest log, read-at-version
# ---------------------------------------------------------------------------

# Version log in its primitive form: vN.json lists the files visible at
# version N; v2 = v1's files + the appended delta's files. Reading at a
# version = scanning exactly that manifest's list — old versions stay
# readable after appends because files are immutable (the Iceberg/Delta
# snapshot model, codec aside).
_TIME_TRAVEL_ORACLE = """
SELECT CAST(1 AS INT) AS version, CAST(3 AS INT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT CAST(2 AS INT) AS version, CAST(5 AS INT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders WHERE o_orderkey % 3 IN (0, 1)
"""


@query("snk_time_travel", oracle=_TIME_TRAVEL_ORACLE, tags=("sink", "warehouse"))
def snk_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table versioning with time travel: commit v1 (3 data files),
    append a delta and commit v2 (the same 3 files + 2 new ones), then
    read BOTH versions back through their manifests and aggregate each.
    v1 remains byte-identically readable after the append — the
    snapshot-isolation property every lakehouse format provides, built
    here from the immutable-files + manifest-log primitives that
    ``snk_manifest_publish`` introduced for a single snapshot.

    Scale shape: manifests are file-inventory-sized; each versioned
    read scans only its listed files. The append writes only the
    delta."""
    import json
    import os

    d = scratch_dir("engine_time_travel_")
    data_dir = os.path.join(d, "data")
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def commit(version: int, files: list[str]) -> None:
        tmp = os.path.join(d, f"v{version}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"version": version, "files": sorted(files)}, fh)
        os.replace(tmp, os.path.join(d, f"v{version}.json"))

    def data_files() -> list[str]:
        return [
            f for f in os.listdir(data_dir) if f.endswith(".parquet")
        ]

    orders.filter(F.col("o_orderkey") % 3 == 0).repartition(3).write.mode(
        "overwrite"
    ).parquet(data_dir)
    commit(1, data_files())
    orders.filter(F.col("o_orderkey") % 3 == 1).repartition(2).write.mode(
        "append"
    ).parquet(data_dir)
    commit(2, data_files())

    outs = []
    for version in (1, 2):
        with open(os.path.join(d, f"v{version}.json")) as fh:
            listed = json.load(fh)["files"]
        snap = spark.read.parquet(
            *[os.path.join(data_dir, f) for f in listed]
        )
        outs.append(
            snap.agg(
                F.lit(version).cast("int").alias("version"),
                F.lit(len(listed)).cast("int").alias("n_files"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(cents).cast("long").alias("sum_cents"),
            )
        )
    return outs[0].unionByName(outs[1])


# ---------------------------------------------------------------------------
# chunked table checksum (migration / replication verification)
# ---------------------------------------------------------------------------

# Row checksum = md5 over a canonical '|'-joined rendering of the row
# using only render-stable types (BIGINT, VARCHAR, DATE — doubles are
# folded to integer cents first, because float-to-string formatting is
# the one place engines legitimately differ). Chunk = o_orderkey % 16,
# so after a migration the diverging chunk can be binary-searched
# without re-hashing the whole table.
_CHECKSUM_SQL = """
WITH rows_cs AS (
  SELECT CAST(o_orderkey % 16 AS BIGINT) AS chunk,
         md5(concat_ws('|',
             CAST(o_orderkey AS STRING),
             o_orderstatus,
             o_orderpriority,
             CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING),
             CAST(CAST(o_orderdate AS DATE) AS STRING))) AS cs
  FROM orders
)
SELECT chunk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT cs) AS BIGINT) AS n_distinct,
       MIN(cs) AS min_checksum,
       MAX(cs) AS max_checksum
FROM rows_cs
GROUP BY chunk
"""


@query("act_table_checksum", oracle=_CHECKSUM_SQL, tags=("action", "quality"))
def act_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked content checksum of the orders table: a canonical
    row rendering (stable types only — money folded to integer cents
    because float formatting is engine-specific) hashed per row,
    summarized per key-chunk. Run on both sides of a migration or
    replication stream, the first differing chunk localizes corruption
    16× faster than a whole-table compare — and the md5 discipline is
    the same one the dedup family already trusts cross-engine.

    Scale shape: map-side hash per row, one aggregate keyed by chunk;
    no shuffle carries more than chunk-count rows of state per task."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_CHECKSUM_SQL)


# ---------------------------------------------------------------------------
# vacuum: retire files no live snapshot references, prove readers survive
# ---------------------------------------------------------------------------

_VACUUM_ORACLE = """
SELECT 'v1_only_files_removed' AS action,
       CAST(3 AS BIGINT) AS n_files,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0)
            AS BIGINT) AS rows_affected,
       TRUE AS live_snapshot_intact
UNION ALL
SELECT 'v2_readable_after_vacuum',
       CAST(2 AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 1)
            AS BIGINT),
       TRUE
"""


@query("snk_vacuum_retention", oracle=_VACUUM_ORACLE, tags=("sink", "warehouse"))
def snk_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lifecycle step after ``snk_time_travel``: version 2 REPLACES
    v1's files (a rewrite commit, not an append), so once v1 falls out
    of retention its 3 files are vacuumable garbage. Vacuum deletes
    exactly the files no live manifest references, and the audit
    re-reads v2 THROUGH its manifest afterwards to prove readers
    survive the physical deletion — the invariant (never touch a
    live-referenced file) that makes lakehouse GC safe.

    Scale shape: vacuum is manifest-set arithmetic (live files = union
    of retained manifests; garbage = listing − live) — file-inventory
    sized; the deletes are embarrassingly parallel."""
    import json
    import os

    d = scratch_dir("engine_vacuum_")
    data_dir = os.path.join(d, "data")
    orders = load_table(spark, sf_dir, "orders")

    def data_files() -> set[str]:
        return {f for f in os.listdir(data_dir) if f.endswith(".parquet")}

    def commit(version: int, files: set[str]) -> None:
        with open(os.path.join(d, f"v{version}.json"), "w") as fh:
            json.dump({"files": sorted(files)}, fh)

    orders.filter(F.col("o_orderkey") % 3 == 0).repartition(3).write.mode(
        "overwrite"
    ).parquet(data_dir)
    v1_files = data_files()
    commit(1, v1_files)
    # v2 REPLACES v1 content (rewrite commit): new files, old ones now
    # only referenced by the expiring v1 manifest
    orders.filter(F.col("o_orderkey") % 3 == 1).repartition(2).write.mode(
        "append"
    ).parquet(data_dir)
    v2_files = data_files() - v1_files
    commit(2, v2_files)

    # retention: only v2 is live; garbage = listing - live
    with open(os.path.join(d, "v2.json")) as fh:
        live = set(json.load(fh)["files"])
    garbage = data_files() - live
    v1_rows = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in sorted(garbage)]
    ).count()
    for f in garbage:
        os.remove(os.path.join(data_dir, f))

    survivors = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in sorted(live)]
    )
    v2_rows = survivors.count()
    assert data_files() == live, "vacuum must remove exactly the garbage"
    return spark.createDataFrame(
        [
            ("v1_only_files_removed", len(garbage), v1_rows, True),
            ("v2_readable_after_vacuum", len(live), v2_rows, True),
        ],
        "action string, n_files bigint, rows_affected bigint,"
        " live_snapshot_intact boolean",
    )


# ---------------------------------------------------------------------------
# in-flight pipeline metrics via the Observation API
# ---------------------------------------------------------------------------

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_finished,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT)
         AS n_null_price
FROM orders
"""


@query("act_observe_metrics", oracle=_OBSERVE_ORACLE, tags=("action", "quality"))
def act_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline metrics via Spark's ``Observation`` API — DQ counters
    collected AS A SIDE EFFECT of the job the pipeline already runs,
    with zero extra scans: the observed aggregates ride the existing
    action (here a write-shaped count over the orders scan), and the
    driver reads back a single metrics row. This is how a production
    job gets rowcount/null-rate/sum-control totals without doubling its
    I/O the way a separate DQ query would — the mechanism behind
    act_count_dq's 'count once, not twice' fix of the reference's
    double-compute defect (etl.py:252-257).

    Scale shape: observed metrics are accumulator-style map-side
    partials merged on the driver — constant size, no extra shuffle,
    no second scan (the one collect is the 1-row metrics read)."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_finished"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1))
        .cast("long")
        .alias("n_null_price"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the real action
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_finished"],
                m["sum_cents"],
                m["n_null_price"],
            )
        ],
        "n_rows long, n_finished long, sum_cents long, n_null_price long",
    )


# ---------------------------------------------------------------------------
# t-closeness audit (completes the k-anonymity / l-diversity trio)
# ---------------------------------------------------------------------------

# QI = (nation, balance band); sensitive attribute = market segment.
# Distance between a cell's segment distribution and the global one is
# total variation distance (the categorical EMD): TVD = ½·Σ|p_cell −
# p_global| — computed in EXACT integer lanes: p_cell − p_global =
# (n_cs·N − N_s·n_c)/(n_c·N), so Σ|numerator| is exact and one final
# integer division yields ppm. The count-product lanes are O(n_c·N) —
# quadratic in table size — so they run in the DECIMAL(38,0)↔HUGEINT
# wide pair (round-10 overflow audit: n_cs·N ≈ 1e24 at the 1e12-row
# target; int64 held only to ~3e9 customers). Spark's DIV and DuckDB's
# // both accept the wide types and the ppm quotient ≤ 2e6 lands back
# in BIGINT.
_T_CLOSE_T_PPM = 300_000  # t = 0.3

_T_CLOSE_TEMPLATE = """
WITH cell AS (
  SELECT c_nationkey AS nation,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS n_cs
  FROM customer GROUP BY 1, 2, 3
),
cell_tot AS (
  SELECT nation, bal_band, CAST(SUM(n_cs) AS BIGINT) AS n_c
  FROM cell GROUP BY 1, 2
),
gseg AS (
  SELECT segment, CAST(SUM(n_cs) AS BIGINT) AS n_s FROM cell GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM gseg),
expanded AS (
  SELECT ct.nation, ct.bal_band, ct.n_c, g.segment, g.n_s, t.n
  FROM cell_tot ct CROSS JOIN gseg g CROSS JOIN tot t
),
dist AS (
  SELECT e.nation, e.bal_band, e.n_c, e.n,
         CAST(SUM(abs(CAST(COALESCE(c.n_cs, 0) AS {WIDE}) * e.n
                      - CAST(e.n_s AS {WIDE}) * e.n_c))
              AS {WIDE}) AS absnum
  FROM expanded e
  LEFT JOIN cell c
    ON c.nation = e.nation AND c.bal_band = e.bal_band
   AND c.segment = e.segment
  GROUP BY e.nation, e.bal_band, e.n_c, e.n
)
SELECT nation, bal_band, n_c AS cell_size,
       CAST(absnum * 1000000 {IDIV} (2 * CAST(n_c AS {WIDE}) * n) AS BIGINT)
         AS tvd_ppm
FROM dist
WHERE absnum * 1000000 {IDIV} (2 * CAST(n_c AS {WIDE}) * n) > {T}
"""


@query(
    "curate_t_closeness",
    oracle=_T_CLOSE_TEMPLATE.format(
        IDIV="//", T=_T_CLOSE_T_PPM, WIDE="HUGEINT"
    ),
    tags=("curation", "privacy"),
)
def curate_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the release-privacy trio
    (``curate_k_anonymity``: cells big enough; ``curate_l_diversity``:
    enough distinct sensitive values; here: the cell's sensitive
    DISTRIBUTION must stay within t of the global one, or the cell
    leaks via skew even when k and l pass — the classic 'everyone in
    this small town is in the BUILDING segment' disclosure). Distance
    is total variation (categorical EMD) in exact integer ppm lanes;
    cells beyond t = 0.3 emit for suppression/generalization.

    Scale shape: two hash aggregates (cell, global) + a
    segments-×-cells expansion joined back at QI width — the expansion
    factor is |sensitive domain| (5), not data size."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        _T_CLOSE_TEMPLATE.format(
            IDIV="DIV", T=_T_CLOSE_T_PPM, WIDE="DECIMAL(38,0)"
        )
    )


# ---------------------------------------------------------------------------
# incremental view maintenance for a JOIN view (delta-join algebra)
# ---------------------------------------------------------------------------

# The join-IVM identity for insert-only deltas:
#   (A0 ∪ dA) ⋈ (B0 ∪ dB) = (A0⋈B0) ∪ (dA⋈B0) ∪ (A0⋈dB) ∪ (dA⋈dB)
# The engine materializes A0⋈B0 once (the standing view) and refreshes
# with the three DELTA-sized join terms — at 100 TB the refresh cost is
# |delta|·fanout, never |snapshot|². Deltas: late-arriving orders
# (o_orderkey % 10 = 0) and newly-onboarded customers
# (c_custkey % 7 = 0); the aggregate over the maintained view must
# equal the full-recompute oracle.
_IVM_JOIN_ORACLE = """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


@query("cdc_incremental_join", oracle=_IVM_JOIN_ORACLE, tags=("cdc", "join"))
def cdc_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the other half of IVM
    (``cdc_incremental_agg`` merges aggregate partials; materialized
    JOIN views refresh via the delta-join algebra): with insert-only
    deltas dA (late orders) and dB (new customers), the maintained
    view is the standing A0⋈B0 plus three DELTA-sized join terms
    dA⋈B0 ∪ A0⋈dB ∪ dA⋈dB. The standing term is localCheckpointed —
    the refresh provably never re-joins snapshot against snapshot —
    and every delta term broadcasts its delta side. The rollup over
    the maintained view hash-matches the full-recompute oracle.

    Scale shape: refresh cost is |delta| × join fanout; the snapshot's
    raw rows are touched only by the delta probes (and at 100 TB those
    probes prune by join-key partition/bucket)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a0 = orders.filter(F.col("o_orderkey") % 10 != 0)
    da = orders.filter(F.col("o_orderkey") % 10 == 0)
    b0 = customer.filter(F.col("c_custkey") % 7 != 0)
    db = customer.filter(F.col("c_custkey") % 7 == 0)

    def j(a, b, broadcast_side=None):
        if broadcast_side is not None:
            b = F.broadcast(b) if broadcast_side == "b" else b
            a = F.broadcast(a) if broadcast_side == "a" else a
        return a.join(b, a["o_custkey"] == b["c_custkey"]).select(
            "c_mktsegment", "o_totalprice"
        )

    standing = j(a0, b0).localCheckpoint(eager=False)  # the materialized view
    refreshed = (
        standing
        .unionAll(j(da, b0, broadcast_side="a"))   # delta orders probe B0
        .unionAll(j(a0, db, broadcast_side="b"))   # delta customers probe A0
        .unionAll(j(da, db, broadcast_side="b"))   # delta × delta
    )
    return refreshed.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("long")
        .alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# differential-privacy count release (Laplace mechanism, seeded)
# ---------------------------------------------------------------------------

# Per-(source, lang) document counts released with Laplace(1/ε) noise,
# ε = 1, sensitivity 1 (one document affects one cell count by 1).
# The noise draw u ∈ (0,1) comes from the first 12 hex digits of
# md5(cell ‖ salt) — DETERMINISTIC here so both engines (and reruns)
# agree exactly; a production release draws the seed from a CSPRNG and
# keeps it secret (a public seed voids the privacy guarantee — this
# query demonstrates the MECHANISM: inverse-CDF Laplace, post-hoc
# clamp, no true count in the output).


def _dp_u48(hexpos: str, h: str) -> str:
    terms = " + ".join(
        f"CAST({hexpos}('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1"
        f" AS BIGINT) * CAST({16 ** (11 - i)} AS BIGINT)"
        for i in range(12)
    )
    return f"(CAST({terms} AS DOUBLE) + 0.5) / 281474976710656.0"


def _dp_sql(hexpos: str, concat_md5: str) -> str:
    u = _dp_u48(hexpos, "h")
    return f"""
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
seeded AS (
  SELECT source, lang, n, {concat_md5} AS h FROM cells
),
noised AS (
  SELECT source, lang, n, {u} AS u FROM seeded
)
SELECT source, lang,
       CAST(GREATEST(
         n + CAST(FLOOR(
           (CASE WHEN u < 0.5 THEN LN(2.0 * u)
                 ELSE -LN(2.0 * (1.0 - u)) END)
           + 0.5) AS BIGINT),
         0) AS BIGINT) AS released_n,
       CAST(1000 AS BIGINT) AS epsilon_milli
FROM noised
"""


# Standard Laplace inverse CDF at b = 1/eps = 1: u < 0.5 -> ln(2u)
# (negative tail), u >= 0.5 -> -ln(2(1-u)) (positive tail);
# floor(x+0.5) is the tie-deterministic rounding. The 0.5/2^48 offset
# in u keeps both branches away from ln(0).
_DP_ORACLE = _dp_sql(
    "strpos", "md5(source || '|' || lang || '|dp-v1')"
)
_DP_SPARK = _dp_sql(
    "instr", "md5(concat(source, '|', lang, '|dp-v1'))"
)


@query("curate_dp_count_release", oracle=_DP_ORACLE, tags=("curation", "privacy"))
def curate_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release (Laplace mechanism,
    ε = 1, sensitivity 1) for the per-(source, lang) corpus histogram —
    the fourth privacy surface beside k-anonymity / l-diversity /
    t-closeness: instead of suppressing risky cells, EVERY released
    count carries calibrated noise, so no cell's true value is
    disclosed (small-count cells — exactly the k-anonymity violators —
    get proportionally the most cover). Inverse-CDF Laplace from a
    48-bit md5-seeded uniform, floor(x+0.5) rounding, zero clamp
    (valid post-processing). Deterministic seed = test fixture; a real
    release keeps the seed secret (see module comment).

    Scale shape: one hash aggregate + a per-cell scalar expression —
    the noise costs nothing at any scale."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_DP_SPARK)
