"""Median-of-3 re-measure of the third-decade ladder's flagged rows
(r9 disclosure protocol: single-shot recorded, suspicious rows
re-measured, BOTH disclosed).

Flagged by scale_smoke_r10_third_decade (sf10->sf100, linear=10x):
act_sequence_gaps 12.12x, dedup_minhash_lsh 11.31x,
graph_bfs_multisource 10.4x. For BFS the repeat shots double as a
build/traversal split: shot 1 pays the session-cached adjacency build
(edge-linear by design), shots 2-3 reuse it and measure traversal
alone — the frontier-bounded claim applies to the latter.

Usage: python scripts/remeasure_flagged_r10.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import udacity_data_engineer_capstone_spark as engine

QUERIES = ["act_sequence_gaps", "dedup_minhash_lsh", "graph_bfs_multisource"]
RUNGS = [
    ("sf10", "/tmp/engine_scale/sf10", "500000"),
    ("sf100", "/tmp/engine_scale/sf100", "5000000"),
]
SHOTS = 3


def main() -> int:
    engine.load_all()
    from pyspark.sql import SparkSession

    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        evict_checkpoints,
    )
    from udacity_data_engineer_capstone_spark.session import configure

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("remeasure-flagged-r10")
        .config("spark.driver.memory", "64g")
        .config("spark.driver.maxResultSize", "16g")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for q in QUERIES:
        engine.QUERIES[q].fn(spark, "/root/testdata/sf0.01").count()

    sizes = {}
    for label, sf_dir, _ in RUNGS:
        total = 0
        for root, _d, files in os.walk(sf_dir):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        sizes[label] = total

    out = {"metric": "remeasure_flagged_r10"}
    for label, sf_dir, docs in RUNGS:
        os.environ["SPARK_GRAFT_CORPUS_DOCS"] = docs
        parts = max(int(cpus), sizes[label] // (128 << 20))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        for q in QUERIES:
            shots = []
            for s in range(SHOTS):
                t0 = time.time()
                engine.QUERIES[q].fn(spark, sf_dir).count()
                shots.append(round(time.time() - t0, 2))
                print(f"  [{label}] {q} shot{s + 1}: {shots[-1]} s", flush=True)
            out[f"{label}.{q}"] = {
                "shots": shots,
                "median": statistics.median(shots),
            }
        evict_checkpoints()
        spark.catalog.clearCache()
    for q in QUERIES:
        m10 = out[f"sf10.{q}"]["median"]
        m100 = out[f"sf100.{q}"]["median"]
        out[f"ratio.{q}"] = round(m100 / max(m10, 0.01), 2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
