"""Round-10 scale LADDER: sf0.1 → sf1 → sf10 (round-9 directive 1 —
every 100 TB claim previously rested on ONE 10× extrapolation; this
adds the second decade).

Set: the 10 bench headliners + every row the r9 smoke flagged
(curate_ccnet_buckets 1.9×, act_sequence_gaps 1.8-2.1× — rewritten this
round onto global_lag_dense, pipe_pretrain_mix 1.5×), the ordinal-rider
representatives (stat_ks_test, curate_dsir), pipe_event_360 (directive 7
profile target), and the dedup/ANN family representatives
(dedup_bloom_incremental at its per-scale DERIVED width,
dedup_minhash_lsh, ann_ivf_topk).

Data: /tmp/engine_scale/{sf1,sf10} from scale_up_testdata_v2.py (the v2
replication fixes the v1 parity-flip artifact that made even/odd
replicas share an embedding transform — see its docstring — so the
ladder measures operator scaling, not data-artifact scaling).

Bloom width: SPARK_GRAFT_CORPUS_DOCS is set to the ACTUAL corpus doc
count per scale before each pass (the width is derived per call as of
round 10), so dedup_bloom_incremental runs at w=5/6/7 up the ladder —
the executed sizing rule under measurement.

Usage: python scripts/scale_smoke_r10.py [--skip-sf10]
Prints one JSON line at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import udacity_data_engineer_capstone_spark as engine

QUERIES = [
    # bench headliners (r9 top-10)
    "pipe_pretrain_mix",
    "stream_session_timeout_state",
    "graph_pagerank_personalized",
    "graph_pagerank",
    "graph_bfs_multisource",
    "graph_label_propagation",
    "stream_ewma_state",
    "graph_triangle_count",
    "graph_hits",
    "spatial_dbscan_grid",
    # r9 smoke flags + this round's rewrites
    "curate_ccnet_buckets",
    "act_sequence_gaps",
    "pipe_event_360",
    # ordinal riders
    "stat_ks_test",
    "curate_dsir",
    # dedup / ANN representatives
    "dedup_bloom_incremental",
    "dedup_minhash_lsh",
    "sim_ann_ivf",
]

# corpus_docs = the ACTUAL documents row count per scale (5k/50k/500k),
# so the Bloom width is the honestly-derived one: w=5 / 5 / 6.  The
# directive's w=7 tier (a >1M-doc declared corpus) is measured as an
# extra sf10 variant row below.
SCALES = [
    ("sf0.1", "/root/testdata/sf0.1", None),        # default 65536 -> w=5
    ("sf1", "/tmp/engine_scale/sf1", "50000"),       # w=5
    ("sf10", "/tmp/engine_scale/sf10", "500000"),    # w=6
]


def run_at(spark, label: str, sf_dir: str, corpus_docs: str | None):
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        evict_checkpoints,
    )

    if corpus_docs is None:
        os.environ.pop("SPARK_GRAFT_CORPUS_DOCS", None)
    else:
        os.environ["SPARK_GRAFT_CORPUS_DOCS"] = corpus_docs
    times = {}
    for name in QUERIES:
        t0 = time.time()
        n = engine.QUERIES[name].fn(spark, sf_dir).count()
        times[name] = round(time.time() - t0, 2)
        print(f"  [{label}] {name}: {times[name]} s ({n} rows)", flush=True)
    if label == "sf10":
        # the w=7 tier: a declared >1M-doc corpus capacity at the same
        # data — measures the widened filter's cost, not a new dataset
        os.environ["SPARK_GRAFT_CORPUS_DOCS"] = "6000000"
        t0 = time.time()
        n = engine.QUERIES["dedup_bloom_incremental"].fn(spark, sf_dir).count()
        times["dedup_bloom_incremental_w7"] = round(time.time() - t0, 2)
        print(
            f"  [{label}] dedup_bloom_incremental_w7: "
            f"{times['dedup_bloom_incremental_w7']} s ({n} rows)",
            flush=True,
        )
    evict_checkpoints()
    spark.catalog.clearCache()
    return times


def main() -> int:
    skip_sf10 = "--skip-sf10" in sys.argv
    # streaming drain knobs, constant across the whole ladder so the
    # ratios compare like with like: 32 state-store partitions (the
    # box's core count) and a drain cap sized for the 100x pass — the
    # engine default (8 parts / 120 s) is the bench/test profile, and
    # the 120 s cap now FAILS LOUDLY instead of returning a partial
    # sink (the sf10 ladder's first find)
    os.environ["SPARK_GRAFT_STREAM_DRAIN_SEC"] = "1800"
    engine.load_all()
    from pyspark.sql import SparkSession

    from udacity_data_engineer_capstone_spark.session import configure

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-smoke-r10")
        .config("spark.driver.memory", "64g")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for name in QUERIES:  # JIT/codegen warm-up at toy scale
        engine.QUERIES[name].fn(spark, "/root/testdata/sf0.01").count()

    results = {}
    for label, sf_dir, docs in SCALES:
        if skip_sf10 and label == "sf10":
            continue
        print(f"{label}:", flush=True)
        results[label] = run_at(spark, label, sf_dir, docs)

    out = {"metric": "scale_smoke_r10", **results}
    if "sf1" in results:
        out["ratio_01_to_1"] = {
            k: round(results["sf1"][k] / max(results["sf0.1"][k], 0.01), 2)
            for k in results["sf1"]
        }
    if "sf10" in results:
        out["ratio_1_to_10"] = {
            k: round(results["sf10"][k] / max(results["sf1"][k], 0.01), 2)
            for k in results["sf10"]
            if k in results["sf1"]
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
