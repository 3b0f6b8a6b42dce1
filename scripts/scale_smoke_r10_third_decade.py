"""Round-10 (continuation) THIRD-decade ladder: sf1 → sf10 → sf100.

The r10 ladder proved the second decade (sf0.1→sf1→sf10) and argued
that the rising second-decade ratios were overhead amortization with
the true data-cost slope "emerging". This run tests that argument one
decade higher: if the slope claims are right, the sf10→sf100 ratio of
every sub-linear row should hold AT OR BELOW its sf1→sf10 ratio (the
overhead excuse is spent by sf10), and nothing may exceed 10×/decade.

Set: the claims worth a third decade at affordable wall —
- pipe_pretrain_mix       (the headliner; 2.95× second decade)
- graph_bfs_multisource   (frontier-BOUNDED claim: ratio should FALL)
- curate_ccnet_buckets    (r9 flag; second decade fell to 1.35×)
- act_sequence_gaps       (directive-3 rewrite; dense-lag arithmetic)
- pipe_event_360          (boundary-ntile: job-count-bound claim)
- stat_ks_test            (distinct-value frame: near-flat claim)
- curate_dsir             (token-scan sub-linear claim)
- dedup_bloom_incremental (derived width w=5/6/7 up this ladder —
                           5M docs at sf100 is the honest w=7 tier)
- dedup_minhash_lsh       (banded join: NEVER O(n²) — the quadratic
                           would show 10,000× across these two decades)
- sim_ann_ivf             (fixed-round Lloyd + cell-bucketed probe:
                           near-flat claim)
The per-event streams and the fixed-round dense-graph fixpoints are
excluded on wall-clock grounds: their slopes are already measured
data-linear / edge-linear at sf10 (SCALE.md r10), and at sf100 they
are 10-20 minute single queries that re-measure a settled claim.

Data: /tmp/engine_scale/{sf1,sf10,sf100} — sf100 from
scale_up_testdata_v3.py (crossJoin-range replication, value-parity
with v2 verified at 10 replicas; v2's 1000-branch union does not plan).

Usage: python scripts/scale_smoke_r10_third_decade.py [--skip-sf100]
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
    "pipe_pretrain_mix",
    "graph_bfs_multisource",
    "curate_ccnet_buckets",
    "act_sequence_gaps",
    "pipe_event_360",
    "stat_ks_test",
    "curate_dsir",
    "dedup_bloom_incremental",
    "dedup_minhash_lsh",
    "sim_ann_ivf",
]

# corpus_docs = the ACTUAL documents row count per scale (50k / 500k /
# 5M) so the Bloom width is the honestly-derived one per scale:
# w=5 / 6 / 7 — the sf100 rung exercises the widest clamp tier on a
# corpus that genuinely needs it.
SCALES = [
    ("sf1", "/tmp/engine_scale/sf1", "50000"),
    ("sf10", "/tmp/engine_scale/sf10", "500000"),
    ("sf100", "/tmp/engine_scale/sf100", "5000000"),
]


def _rung_bytes(sf_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_at(spark, label: str, sf_dir: str, corpus_docs: str) -> dict:
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        evict_checkpoints,
    )

    os.environ["SPARK_GRAFT_CORPUS_DOCS"] = corpus_docs
    # Apply the engine's own SizingProfile shuffle derivation PER RUNG
    # (session.py: max(cores, input_bytes / 128 MB target)). The static
    # local default (32) leaves ~600 MB shuffle partitions at sf100 —
    # exactly the spill the profile exists to prevent; AQE coalesces
    # the over-partitioned small rungs back down for free.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    parts = max(cpus, _rung_bytes(sf_dir) // (128 << 20))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    print(f"  [{label}] shuffle.partitions={parts}", flush=True)
    times = {}
    for name in QUERIES:
        t0 = time.time()
        n = engine.QUERIES[name].fn(spark, sf_dir).count()
        times[name] = round(time.time() - t0, 2)
        print(f"  [{label}] {name}: {times[name]} s ({n} rows)", flush=True)
    evict_checkpoints()
    spark.catalog.clearCache()
    return times


def main() -> int:
    skip_sf100 = "--skip-sf100" in sys.argv
    os.environ["SPARK_GRAFT_STREAM_DRAIN_SEC"] = "1800"
    engine.load_all()
    from pyspark.sql import SparkSession

    from udacity_data_engineer_capstone_spark.session import configure

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-smoke-r10-third-decade")
        .config("spark.driver.memory", "64g")
        .config("spark.driver.maxResultSize", "16g")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for name in QUERIES:  # JIT/codegen warm-up at toy scale
        engine.QUERIES[name].fn(spark, "/root/testdata/sf0.01").count()

    results = {}
    for label, sf_dir, docs in SCALES:
        if skip_sf100 and label == "sf100":
            continue
        print(f"{label}:", flush=True)
        results[label] = run_at(spark, label, sf_dir, docs)

    out = {"metric": "scale_smoke_r10_third_decade", **results}
    for lo, hi, key in (
        ("sf1", "sf10", "ratio_1_to_10"),
        ("sf10", "sf100", "ratio_10_to_100"),
    ):
        if lo in results and hi in results:
            out[key] = {
                k: round(results[hi][k] / max(results[lo][k], 0.01), 2)
                for k in results[hi]
                if k in results[lo]
            }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
