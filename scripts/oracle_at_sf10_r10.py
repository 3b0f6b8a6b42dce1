"""Round-10 bonus evidence: CORRECTNESS at sf10, not just timing.

The driver's gate compares Spark vs DuckDB at sf0.01; the scale ladder
times sf10 but (until now) nothing value-checks it. This replays the
same type-strict oracle gate (tests/oracle.compare — column names,
result types, row counts, exact values) at sf10 (60M lineitem / 10M
events / 500k docs) for a representative slice across families: joins,
aggregates, windows, ordinal ranks, dedup (incl. the derived-width
Bloom), events, text, curation, and the recall eval.

A hash-exact match at 100× the gate scale kills the "ties/edge cases
only appear with more rows" class of residual risk for these shapes.

Usage: python scripts/oracle_at_sf10_r10.py [query ...]
       (no args = the default 13-query slice)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Default replay dir; override with SPARK_GRAFT_ORACLE_DIR to replay
# the same gate at any rung (e.g. /tmp/engine_scale/sf100 for a
# three-decades-above-gate value check).
SF10 = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/tmp/engine_scale/sf10")

QUERIES = [
    "flagship_regional_revenue",   # 5-table star join over 60M fact rows
    "agg_groupby_sum",             # implicit-cast hash aggregate
    "agg_rollup",                  # grouping sets
    "win_rank_topk",               # partitioned rank
    "ord_global_topk",             # two-phase global top-k
    "act_sequence_gaps",           # dense-key lag over 15M distinct keys
    "join_asof_event",             # as-of join over 10M events
    "dedup_exact",                 # content-hash dedup over 500k docs
    "dedup_bloom_incremental",     # derived-width Bloom (w=6 at 500k)
    "text_quality",                # array-expression text scoring
    "curate_dsir",                 # importance weights over 500k docs
    "pipe_event_360",              # sessionize + funnel + boundary ntile
    "sim_ann_recall_eval",         # the new LSH/Hamming recall oracle
    # -- second wave (round-10 continuation): family-diverse adds,
    #    biased toward tie/overflow/sketch-sensitive shapes --
    "stat_mann_whitney",           # the sf10-found int64 overflow fix itself
    "stat_ks_test",                # distinct-value sup-gap ties at 10M rows
    "curate_ccnet_buckets",        # LM-perplexity tier cuts over 500k docs
    "dedup_minhash_lsh",           # banded candidates + exact-Jaccard verify
    "text_tokens",                 # tokenizer counts over 500k docs
    "evt_rfm_segmentation",        # boundary-quartile cuts over 150k users
    # NOTE (closed in round 11): win_running_frame / ts_rolling_median /
    # join_salted_skew were dropped HERE because their FULL-TABLE
    # outputs (10M+ rows at sf10) OOM this row-materializing compare
    # (~108 GB RSS observed). tests/oracle.compare_agghash +
    # scripts/oracle_agghash_r11.py close that class: each engine folds
    # its whole result to scalars internally, and all three queries are
    # now hash-exact at sf10 AND sf100 (SCALE.md round-11 section).
    "win_ntile_dist",              # window-family rep: ntile distribution
    "stat_join_skew_diag",         # skew-family rep: hot-key diagnostics
    "ts_resample_ohlc",            # ts-family rep: hourly OHLC resample
    "emb_normalize_quantize",      # float->int8 quantize over 200k vectors
    "mm_phash_dedup",              # binary perceptual-hash buckets
    "agg_weighted_median",         # weighted median boundary at 60M rows
    "agg_theta_sketch_setops",     # theta sketch set ops: edge cases @ scale
    # -- overflow-audit proof set: queries whose int64 lanes died at or
    #    near this scale, replayed hash-exact on the widened lanes --
    "stat_gini",                   # rank-weighted sum: died at sf10 pre-fix
    "stat_spearman",               # rank^2 sums: died at sf10 pre-fix
    "stat_ols_multiple",           # hourly cents^2: died at sf100 pre-fix
    "stat_simpson_detector",       # centering n*sxy: died at sf100 pre-fix
    "curate_t_closeness",          # cell-count products n_c*N
    "rec_market_basket",           # lift numerator pair_cnt*n_baskets
    "ts_adf_unit_root",            # hourly-series quadratic moments
    "pipe_experiment_readout",     # per-user spend^2 + conv*n products
]


def main() -> int:
    queries = sys.argv[1:] or QUERIES
    # honest per-rung corpus size (drives the derived Bloom width);
    # 500k = the sf10 documents row count, override per replay dir
    os.environ.setdefault("SPARK_GRAFT_CORPUS_DOCS", "500000")
    os.environ["SPARK_GRAFT_STREAM_DRAIN_SEC"] = "1800"
    import udacity_data_engineer_capstone_spark as engine

    engine.load_all()
    import tests.oracle as O
    from udacity_data_engineer_capstone_spark.session import configure
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle-at-sf10")
        .config("spark.driver.memory", "64g")
        .config("spark.driver.maxResultSize", "16g")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # Spark writes each table as a DIRECTORY of part files; DuckDB's
    # read_parquet needs the glob form for those
    def _dir_aware_con(sf_dir):
        import duckdb

        con = duckdb.connect()
        for t in O.TABLES:
            path = O.table_path(sf_dir, t)
            if os.path.isdir(path):
                path = f"{path}/*.parquet"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        return con

    O.duckdb_con = _dir_aware_con
    results, fails = {}, []
    for name in queries:
        t0 = time.time()
        try:
            O.compare(spark, name, SF10)
            results[name] = round(time.time() - t0, 1)
            print(f"  {name}: MATCH ({results[name]} s)", flush=True)
        except Exception as ex:
            fails.append(name)
            print(f"  {name}: FAIL {str(ex)[:300]}", flush=True)
    print(
        json.dumps(
            {
                "metric": "oracle_at_sf10_r10",
                "matched": len(results),
                "failed": fails,
                "secs": results,
            }
        )
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
