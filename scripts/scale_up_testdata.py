"""Write a larger copy of a test data directory by content-distinct
replication: every keyed table holds FACTOR replicas of the source.

Keys move by a per-replica offset (stride = 1 + the source table's max
key), so referential integrity holds: ``orders.o_custkey`` moves with
``customer.c_custkey`` and lineitem's three foreign keys move with their
dimensions. ``region`` and ``nation`` are dimension constants, as in
TPC-H, and are copied unchanged.

Plain copies would make every document and embedding an N-way exact
duplicate, so dedup and ANN candidate pairs would grow quadratically
with the factor: a property of the data, not of the operators. So:

- documents: replica i>0 suffixes every word with the replica number,
  so cross-replica shingle Jaccard is about 0;
- embeddings: replica i>0 flips each dimension's sign by the parity of
  ``hash(dim, replica)``, so replicas are mutually about orthogonal at
  every factor (a parity of ``i + j`` would make all even replicas share
  one transform);
- events: ``user_id`` moves with the replica, so user cardinality grows
  over the same time range (a denser service).

The replication is one crossJoin against a broadcast ``range(factor)``
frame, so the plan has two nodes at any factor (an N-way union takes
seconds to analyse at 100 replicas). The ``rep`` column is cast to INT
inside ``hash()``: Spark's murmur3 hashes INT and LONG differently.

Usage: python scripts/scale_up_testdata.py OUT_DIR --factor 10
           [--src /root/testdata/sf0.1] [--driver-memory 48g]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# table -> {column: the STRIDE_OF entry its replicas move by}
OFFSETS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
# stride name -> (table, column) whose max sets it
STRIDE_OF = {
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "events": ("events", "event_id"),
    "events_user": ("events", "user_id"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
}
FIXED = ("region", "nation")
# About 32 MB per output file, and at least one file per core, so scan
# parallelism is all cores at every rung for small tables and grows
# with the data for big ones: the ladder's ratios then measure operator
# cost, not file layout.
TARGET_FILE_BYTES = 32 << 20


def _replicate(base, t: str, factor: int, strides: dict):
    from pyspark.sql import functions as F

    reps = F.broadcast(
        base.sparkSession.range(factor).select(F.col("id").alias("rep"))
    )
    df = base.crossJoin(reps)
    for col, stride in OFFSETS[t].items():
        df = df.withColumn(
            col, (F.col(col) + F.col("rep") * F.lit(strides[stride])).cast("long")
        )
    if t == "documents":
        df = df.withColumn(
            "text",
            F.expr(
                "CASE WHEN rep = 0 THEN text ELSE "
                "regexp_replace(text, '(\\\\w+)', "
                "concat('$1', CAST(rep AS STRING))) END"
            ),
        )
    if t == "embeddings":
        df = df.withColumn(
            "embedding",
            F.expr(
                "CASE WHEN rep = 0 THEN embedding ELSE "
                "transform(embedding, (x, j) -> CAST(x * "
                "(CASE WHEN pmod(hash(j, CAST(rep AS INT)), 2) = 0 "
                "THEN 1.0 ELSE -1.0 END) AS FLOAT)) END"
            ),
        )
    return df.drop("rep").select(*base.columns)


def scale_up(spark, src: str, out: str, factor: int, min_files: int) -> dict:
    """Write ``factor`` replicas of every table of ``src`` into ``out``.
    Returns each table's written row count."""
    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)
    # The test inputs are single-row-group parquet, so a raw scan is one
    # split and the whole fan-out would run in one task: spread the
    # small base over the cores first.
    base = {
        t: spark.read.parquet(f"{src}/{t}.parquet").repartition(min_files)
        for t in FIXED + tuple(OFFSETS)
    }
    strides = {
        s: base[t].agg(F.max(c)).collect()[0][0] + 1
        for s, (t, c) in STRIDE_OF.items()
    }
    rows = {}
    for t in FIXED:
        base[t].coalesce(1).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    for t in OFFSETS:
        est = os.path.getsize(f"{src}/{t}.parquet") * factor
        n_files = max(min_files, -(-est // TARGET_FILE_BYTES))
        _replicate(base[t], t, factor, strides).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    for t in FIXED + tuple(OFFSETS):
        rows[t] = spark.read.parquet(f"{out}/{t}.parquet").count()
        print(f"{t}: {rows[t]} rows", flush=True)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", help="directory to write <table>.parquet into")
    ap.add_argument("--factor", type=int, required=True, help="replicas per table")
    ap.add_argument("--src", default="/root/testdata/sf0.1", help="source data dir")
    ap.add_argument("--driver-memory", default="4g",
                    help="driver heap; the sf10 lineitem write needed 48g")
    args = ap.parse_args()

    sys.path[0] = REPO
    # The driver heap is fixed when the JVM starts, so it goes in
    # through the submit arguments, before get_spark builds the session.
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", f"--driver-memory {args.driver_memory} pyspark-shell"
    )
    from udacity_data_engineer_capstone_spark.session import get_spark

    spark = get_spark("scale-up-testdata")
    spark.sparkContext.setLogLevel("ERROR")
    scale_up(spark, args.src, args.out, args.factor, min_files=os.cpu_count() or 1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
