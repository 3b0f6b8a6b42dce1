"""Round-10 BROAD second-decade sweep: sf1 → sf10 for one
representative per operator family that the headline ladder
(scale_smoke_r10.py) does not already cover — windows, ordinal ranks,
asof/range joins, skew handling, stats, text analysis, curation,
embeddings, sketches, sinks, SCD, sources.  The sf1→sf10 ratio is the
informative one (sf0.1 is overhead-dominated); linear would be 10×.

Usage: python scripts/scale_sweep_broad_r10.py
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
    # windows / ordinal
    "win_rank_topk",
    "win_running_frame",
    "ord_global_topk",
    "evt_rfm_segmentation",
    # joins
    "join_asof_event",
    "join_range_event",
    "join_salted_skew",
    "join_semi_anti",
    "flagship_regional_revenue",
    # aggregates / sketches
    "agg_groupby_sum",
    "agg_approx_distinct",
    "agg_theta_sketch_setops",
    "agg_decile_lift",
    # dedup family beyond the ladder
    "dedup_exact",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_incremental_minhash",
    "curate_semdedup",
    # text analysis
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_pii_scrub",
    "text_zipf_ranks",
    # curation
    "curate_moore_lewis",
    "curate_token_budget",
    "curate_shard_shuffle",
    # embeddings / similarity
    "emb_kmeans_lloyd",
    "emb_pca_power_iteration",
    "sim_topk_bruteforce",
    "sim_ann_recall_eval",
    # events / stats
    "evt_window_session",
    "evt_funnel",
    "stat_mann_whitney",
    "stat_benjamini_hochberg",
    # warehouse / sinks / sources
    "snk_scd2_merge",
    "snk_parquet_global_sorted",
    "act_referential_integrity",
    "pipe_i94_fact",
]

SCALES = [
    ("sf1", "/tmp/engine_scale/sf1", "50000"),
    ("sf10", "/tmp/engine_scale/sf10", "500000"),
]


def main() -> int:
    os.environ["SPARK_GRAFT_STREAM_DRAIN_SEC"] = "1800"
    engine.load_all()
    from pyspark.sql import SparkSession

    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        evict_checkpoints,
    )
    from udacity_data_engineer_capstone_spark.session import configure

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-sweep-broad-r10")
        .config("spark.driver.memory", "64g")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    missing = [q for q in QUERIES if q not in engine.QUERIES]
    if missing:
        print(f"UNKNOWN QUERIES: {missing}", file=sys.stderr)
        return 1
    for name in QUERIES:  # warm-up at toy scale
        engine.QUERIES[name].fn(spark, "/root/testdata/sf0.01").count()

    results = {}
    for label, sf_dir, docs in SCALES:
        os.environ["SPARK_GRAFT_CORPUS_DOCS"] = docs
        print(f"{label}:", flush=True)
        times = {}
        for name in QUERIES:
            t0 = time.time()
            n = engine.QUERIES[name].fn(spark, sf_dir).count()
            times[name] = round(time.time() - t0, 2)
            print(f"  [{label}] {name}: {times[name]} s ({n} rows)", flush=True)
        evict_checkpoints()
        spark.catalog.clearCache()
        results[label] = times

    ratios = {
        k: round(results["sf10"][k] / max(results["sf1"][k], 0.01), 2)
        for k in results["sf10"]
    }
    print(
        json.dumps(
            {"metric": "scale_sweep_broad_r10", **results, "ratio_1_to_10": ratios}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
