"""Reference-parity operators (SURVEY §2) on the driver testdata.

Every operator ID from SURVEY.md §2 registers here under its §2 name, as a
(PySpark fn, DuckDB oracle) pair evaluated on the TPC-H-ish testdata
tables. Each docstring cites the reference site the operator re-expresses.

Oracle-writing rules (SURVEY §1.2/§2.6): Spark's implicit casts are made
*explicit* in the DuckDB SQL (string↔numeric join keys → CAST, SUM over a
string column → SUM(CAST(... AS DOUBLE))), and int-casts of doubles use
``floor`` because DuckDB's CAST rounds where Spark truncates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_data_engineer_capstone_spark.catalog import (
    load_table,
    register_views,
    table_path,
)
from udacity_data_engineer_capstone_spark.functions.cleaning import (
    split_city_state,
)
from udacity_data_engineer_capstone_spark.functions.dates import (
    sas_day_to_iso_string,
)
from udacity_data_engineer_capstone_spark.functions.quality import dq_count
from udacity_data_engineer_capstone_spark.memo import scratch_dir
from udacity_data_engineer_capstone_spark.registry import query
from udacity_data_engineer_capstone_spark.sources import config as cfg_src
from udacity_data_engineer_capstone_spark.sources import local_dims
from udacity_data_engineer_capstone_spark.sources.sas_labels import (
    LABEL_SCHEMA,
    parse_label_block,
    render_label_block,
)


def _tmpdir(name: str) -> str:
    return scratch_dir(f"engine_{name}_")


# ---------------------------------------------------------------------------
# §2.1 scans / sources / sinks
# ---------------------------------------------------------------------------


@query("src_config", oracle="SELECT * FROM region", tags=("source",))
def src_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INI-config-driven source resolution (etl.py:11-17; cp.cfg:1-6):
    render a config naming the region table, read it back, load the path
    it points at."""
    d = _tmpdir("src_config")
    path = os.path.join(d, "cp.cfg")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(cfg_src.render_paths({"region_data": table_path(sf_dir, "region")}))
    paths = cfg_src.read_paths(path)
    return spark.read.parquet(paths["region_data"])


@query(
    "src_sas_labels",
    oracle="SELECT CAST(n_nationkey AS VARCHAR) AS code, n_name AS value FROM nation",
    tags=("source",),
)
def src_sas_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAS ``proc format`` dictionary scan (etl.py:20-38): render the
    nation dim as a labels block, parse it back with the regex parser, lift
    via createDataFrame with explicit schema (no pandas detour)."""
    nation = load_table(spark, sf_dir, "nation").collect()  # 25-row dim
    text = (
        "libname library 'Z:\\' ;\nproc format library=library ;\n"
        + render_label_block(
            "natfmtl", [(str(r.n_nationkey), r.n_name) for r in nation]
        )
        + "run ;\n"
    )
    d = _tmpdir("sas_labels")
    path = os.path.join(d, "labels.SAS")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    with open(path, encoding="utf-8") as fh:
        pairs = parse_label_block(fh.read(), "natfmtl")
    return spark.createDataFrame(pairs, LABEL_SCHEMA)


@query(
    "src_local_rows",
    oracle=(
        "SELECT * FROM (VALUES ('1','Air'),('2','Sea'),('3','Land'),"
        "('9','Not reported')) AS t(code, value)"
    ),
    tags=("source",),
)
def src_local_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local collection → DataFrame with explicit StructType
    (etl.py:41-78), here the I94 travel-mode dim."""
    return local_dims.i94_modes(spark)


@query("src_csv", oracle="SELECT * FROM region", tags=("source",))
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semicolon-CSV scan with header and explicit fixed schema
    (etl.py:81-100): round-trip region through ``;``-CSV."""
    d = _tmpdir("src_csv")
    load_table(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").csv(
        d, header=True, sep=";"
    )
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    )
    return spark.read.csv(d, header=True, sep=";", schema=schema)


@query(
    "src_sas7bdat",
    oracle=(
        "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem "
        "WHERE l_shipdate < TIMESTAMP '1996-01-01'"
    ),
    tags=("source",),
)
def src_sas7bdat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary fact scan slot (etl.py:103-107). The SAS7BDAT connector is a
    DataSource detail (SURVEY §2.1); the engine's fact source is columnar
    parquet — this query shows the scan with projection + predicate both
    pushed into the reader (verified in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey", "l_quantity").filter(
        F.col("l_shipdate") < "1996-01-01"
    )


@query(
    "src_temp_view",
    oracle=(
        "SELECT l_returnflag, COUNT(*) AS n_items FROM lineitem "
        "GROUP BY l_returnflag"
    ),
    tags=("source", "catalog"),
)
def src_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temp-view registration incl. the deliberate shadowing rebind
    (etl.py:152-157,214): a view is re-registered to point at its own
    aggregate before being read."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("tv_shadow")
    agg = spark.sql(
        "SELECT l_returnflag, COUNT(*) AS n_items FROM tv_shadow GROUP BY l_returnflag"
    )
    agg.createOrReplaceTempView("tv_shadow")  # shadowing rebind
    return spark.sql("SELECT l_returnflag, n_items FROM tv_shadow")


_SNK2_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(year(l_shipdate) AS INT) AS year,
       CAST(month(l_shipdate) AS INT) AS month,
       l_returnflag
FROM lineitem
"""


@query("snk_parquet_part2", oracle=_SNK2_ORACLE, tags=("sink",))
def snk_parquet_part2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact write partitioned by (year, month, code) (etl.py:260), with the
    explicit repartition-on-partition-keys the reference lacks (SURVEY §4)
    so each output partition is written by one task instead of 32 small
    files per directory. Read back to prove the round-trip."""
    out = _tmpdir("snk2")
    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.year("l_shipdate").alias("year"),
        F.month("l_shipdate").alias("month"),
        "l_returnflag",
    )
    (
        fact.repartition("year", "month", "l_returnflag")
        .write.mode("overwrite")
        .partitionBy("year", "month", "l_returnflag")
        .parquet(out)
    )
    return spark.read.parquet(out).select(*fact.columns)


_SNK1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty, COUNT(*) AS n_items
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


@query("snk_parquet_part1", oracle=_SNK1_ORACLE, tags=("sink",))
def snk_parquet_part1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate write partitioned by one key (etl.py:261)."""
    out = _tmpdir("snk1")
    agg = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_items"))
    )
    (
        agg.repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    return spark.read.parquet(out).select(*agg.columns)


@query(
    "snk_parquet_plain",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("sink",),
)
def snk_parquet_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain (unpartitioned) dim write ×5 in the reference (etl.py:262-266)."""
    out = _tmpdir("snkplain")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).select("n_nationkey", "n_name", "n_regionkey")


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "flt_neq",
    oracle=(
        "SELECT event_id, event_type, value FROM events "
        "WHERE event_type <> 'error'"
    ),
    tags=("filter",),
)
def flt_neq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string inequality filter dropping an invalid code
    (``code <> '99'``, etl.py:110-115)."""
    return (
        load_table(spark, sf_dir, "events")
        .filter("event_type <> 'error'")
        .select("event_id", "event_type", "value")
    )


_FLT_NOTNULL_ORACLE = """
SELECT o_orderkey, nullif(o_orderstatus, 'O') AS closed_status
FROM orders WHERE nullif(o_orderstatus, 'O') IS NOT NULL
"""


@query("flt_notnull", oracle=_FLT_NOTNULL_ORACLE, tags=("filter",))
def flt_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL filter (etl.py:144-148) over a null-producing column."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "closed_status", F.expr("nullif(o_orderstatus, 'O')")
    )
    return orders.filter(F.col("closed_status").isNotNull()).select(
        "o_orderkey", "closed_status"
    )


_FLT_POST_JOIN_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, p.p_name
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_name IS NOT NULL
"""


@query("flt_post_join", oracle=_FLT_POST_JOIN_ORACLE, tags=("filter", "join"))
def flt_post_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rejecting WHERE after a LEFT JOIN (etl.py:185-190) — Catalyst's
    EliminateOuterJoin rewrites it to INNER (asserted in test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .filter(F.col("p_name").isNotNull())
        .select("l_orderkey", "l_linenumber", "p_name")
    )


_PRJ_ALIAS_ORACLE = """
SELECT l_orderkey AS order_id, l_linenumber AS line_number,
       l_partkey AS part_id, l_suppkey AS supplier_id,
       l_quantity AS quantity, l_extendedprice AS base_price,
       l_discount AS discount, l_tax AS tax,
       l_returnflag AS return_flag, l_linestatus AS line_status,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
"""


@query("prj_alias", oracle=_PRJ_ALIAS_ORACLE, tags=("projection",))
def prj_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide renaming projection (18-col SELECT..AS, etl.py:160-178)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("base_price"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
        F.col("l_returnflag").alias("return_flag"),
        F.col("l_linestatus").alias("line_status"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


_PRJ_STAR_SQL = """
SELECT n.n_name AS nation_name, r.*
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@query("prj_star_qualified", oracle=_PRJ_STAR_SQL, tags=("projection", "sql"))
def prj_star_qualified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qualified star expansion ``SELECT x.code, td.*`` (etl.py:216-221)."""
    register_views(spark, sf_dir, ("nation", "region"))
    return spark.sql(_PRJ_STAR_SQL)


@query(
    "prj_drop",
    oracle="SELECT c_custkey, c_name, c_nationkey FROM customer",
    tags=("projection",),
)
def prj_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column drop (etl.py:133)."""
    return load_table(spark, sf_dir, "customer").drop("c_acctbal", "c_mktsegment")


# ---------------------------------------------------------------------------
# §2.3 scalar functions
# ---------------------------------------------------------------------------


@query(
    "fn_regexp_replace",
    oracle=(
        "SELECT p_partkey, regexp_replace(p_type, '^PROMO.*|^ECONOMY.*', 'NA') "
        "AS type_norm FROM part"
    ),
    tags=("scalar",),
)
def fn_regexp_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored-alternation regex normalization to 'NA' (etl.py:118-123)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_replace("p_type", r"^PROMO.*|^ECONOMY.*", "NA").alias("type_norm"),
    )


_FN_SPLIT_ORACLE = """
WITH t AS (
  SELECT p_partkey,
         CASE WHEN p_size > 25 THEN p_name || ', XX' ELSE p_name END AS label
  FROM part
)
SELECT p_partkey,
       trim(split_part(label, ',', 1)) AS city,
       CASE WHEN len(string_split(label, ',')) > 1
            THEN trim(split_part(label, ',', 2)) ELSE NULL END AS state_code
FROM t
"""


@query("fn_split_getitem", oracle=_FN_SPLIT_ORACLE, tags=("scalar",))
def fn_split_getitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'CITY, ST' split + getItem with comma-less labels yielding NULL
    state (etl.py:126-133; dictionary values like 'No PORT Code')."""
    part = load_table(spark, sf_dir, "part").withColumn(
        "label",
        F.when(F.col("p_size") > 25, F.concat_ws(", ", "p_name", F.lit("XX")))
        .otherwise(F.col("p_name")),
    )
    city, state = split_city_state(F.col("label"))
    return part.select(
        "p_partkey", city.alias("city"), state.alias("state_code")
    )


@query(
    "fn_trim",
    oracle=(
        "SELECT c_custkey, trim('  ' || c_name || '  ') AS name_trimmed "
        "FROM customer"
    ),
    tags=("scalar",),
)
def fn_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace trim (etl.py:131-132; dictionary values carry trailing
    blanks)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias(
            "name_trimmed"
        ),
    )


@query(
    "fn_lower",
    oracle="SELECT c_custkey, lower(c_mktsegment) AS segment FROM customer",
    tags=("scalar",),
)
def fn_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-fold (etl.py:220)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.lower("c_mktsegment").alias("segment")
    )


_FN_WITHCOL_ORACLE = """
SELECT o_orderkey, o_totalprice * 1.1 AS price_with_fee,
       upper(o_orderpriority) AS o_orderpriority
FROM orders
"""


@query("fn_withcolumn", oracle=_FN_WITHCOL_ORACLE, tags=("scalar",))
def fn_withcolumn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withColumn add + replace (etl.py:123,131-132,141)."""
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("price_with_fee", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderpriority", F.upper("o_orderpriority"))
        .select("o_orderkey", "price_with_fee", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# §2.4 UDF surface → native replacement
# ---------------------------------------------------------------------------

_UDF_SAS_DATE_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity IS NULL OR CAST(floor(l_quantity) AS INT) = 0
            THEN NULL
            ELSE strftime(DATE '1960-01-01' + CAST(floor(l_quantity) AS INT),
                          '%Y-%m-%d')
       END AS arrival_date
FROM lineitem
"""


@query("udf_sas_date", oracle=_UDF_SAS_DATE_ORACLE, tags=("scalar", "udf"))
def udf_sas_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only UDF (SAS day-count → ISO string,
    etl.py:136-141) re-expressed natively — no BatchEvalPython barrier, no
    Python workers on the 100 TB fact path. Replicates the day-0→NULL
    quirk. Day-count column here: l_quantity (integral doubles 1–50)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        sas_day_to_iso_string(F.col("l_quantity")).alias("arrival_date"),
    )


# ---------------------------------------------------------------------------
# §2.5 joins
# ---------------------------------------------------------------------------

_JOIN5_ORACLE = """
SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_number,
       p.p_name AS part_name, s.s_name AS supplier_name,
       c.c_name AS customer_name, n.n_name AS nation,
       l.l_quantity AS quantity,
       l.l_extendedprice * (1 - l.l_discount) AS net_price
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN (SELECT CAST(p_partkey AS VARCHAR) AS p_code, p_name FROM part) p
       ON l.l_partkey = CAST(p.p_code AS BIGINT)
LEFT JOIN (SELECT CAST(s_suppkey AS VARCHAR) AS s_code, s_name FROM supplier) s
       ON l.l_suppkey = CAST(s.s_code AS BIGINT)
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderkey IS NOT NULL AND c.c_custkey IS NOT NULL
  AND p.p_code IS NOT NULL AND s.s_code IS NOT NULL
  AND n.n_nationkey IS NOT NULL
"""


@query("join_left_5way", oracle=_JOIN5_ORACLE, tags=("join",))
def join_left_5way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way left-outer star join with mixed string↔numeric keys and a
    null-rejecting WHERE (etl.py:151-191). Two dims carry *string* codes
    joined against numeric fact keys — Spark coerces both sides to double
    (SURVEY §1.2), made explicit in the oracle.

    Scale shape: orders is the one big-big join (shuffle on order key);
    part/supplier/nation are broadcast (tiny or AQE-detected); the WHERE
    lets EliminateOuterJoin turn all five LEFT joins INNER, unlocking join
    reordering."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part_codes = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("p_code"), "p_name"
    )
    supp_codes = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("s_code"), "s_name"
    )
    nation = load_table(spark, sf_dir, "nation")

    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(customer, orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(part_codes), li.l_partkey == part_codes.p_code, "left")
        .join(F.broadcast(supp_codes), li.l_suppkey == supp_codes.s_code, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .filter(
            F.col("o_orderkey").isNotNull()
            & F.col("c_custkey").isNotNull()
            & F.col("p_code").isNotNull()
            & F.col("s_code").isNotNull()
            & F.col("n_nationkey").isNotNull()
        )
    )
    return joined.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("p_name").alias("part_name"),
        F.col("s_name").alias("supplier_name"),
        F.col("c_name").alias("customer_name"),
        F.col("n_name").alias("nation"),
        F.col("l_quantity").alias("quantity"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


_JOIN_EXPR_ORACLE = """
SELECT a.n_nationkey, a.n_name, b.name_u
FROM nation a
JOIN (SELECT upper(n_name) AS name_u, n_regionkey FROM nation) b
  ON lower(a.n_name) = lower(b.name_u) AND a.n_regionkey = b.n_regionkey
"""


@query("join_inner_expr", oracle=_JOIN_EXPR_ORACLE, tags=("join",))
def join_inner_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join on computed keys — ``lower(a)=lower(b)`` plus a
    plain key (etl.py:215-221). Still hash-joinable: Spark hashes the
    expression values."""
    nation = load_table(spark, sf_dir, "nation").alias("a")
    upper_side = (
        load_table(spark, sf_dir, "nation")
        .select(F.upper("n_name").alias("name_u"), "n_regionkey")
        .alias("b")
    )
    return nation.join(
        upper_side,
        (F.lower(F.col("a.n_name")) == F.lower(F.col("b.name_u")))
        & (F.col("a.n_regionkey") == F.col("b.n_regionkey")),
        "inner",
    ).select("a.n_nationkey", "a.n_name", "b.name_u")


# ---------------------------------------------------------------------------
# §2.6 aggregations
# ---------------------------------------------------------------------------

_AGG_ORACLE = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE)) AS sum_qty_implicit,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_base_price_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS sum_net_price_ten_thousandths,
       CAST(SUM(l_linenumber) AS BIGINT) AS sum_lines,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_groupby_sum", oracle=_AGG_ORACLE, tags=("agg",))
def agg_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-key hash aggregate with 5 SUMs, one over a *string* column so
    Spark's implicit string→double SUM coercion is exercised
    (etl.py:202-213; male/female_population are read as strings). Runs as
    partial+final HashAggregate — map-side combine keeps the shuffle tiny
    at any scale.

    Price sums run in exact BIGINT integer cents (round(price*100)):
    cents arithmetic is exact, so the result is bit-identical regardless
    of fold order — double sums into few groups diverge between engines
    in the last ulps, and DECIMAL outputs proved driver-hash-unstable in
    r2/r3. (The quantity sum stays double: integer-valued, so it is
    exact in any order and keeps the string-coercion semantics.)"""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("string")).alias("sum_qty_implicit"),
        F.sum(cents).alias("sum_base_price_cents"),
        F.sum(cents * (F.lit(100).cast("long") - disc_pct)).alias(
            "sum_net_price_ten_thousandths"
        ),
        F.sum("l_linenumber").alias("sum_lines"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "act_count_dq",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
    tags=("agg", "dq"),
)
def act_count_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count data-quality check that actually raises (the reference
    constructs but never raises its DQ exceptions, etl.py:252-257)."""
    li = load_table(spark, sf_dir, "lineitem")
    dq_count(li, "lineitem", at_least=1)
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


# ---------------------------------------------------------------------------
# §2.7 SQL entry point
# ---------------------------------------------------------------------------

_SQL_SELECT = """
SELECT r.r_name AS region,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_ten_thousandths,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@query("sql_select", oracle=_SQL_SELECT, tags=("sql",))
def sql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string execution over registered temp views (etl.py:159,202,215)
    — same Catalyst plan as the DataFrame form."""
    register_views(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region")
    )
    return spark.sql(_SQL_SELECT)
