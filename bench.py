"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line (kept under ~1.8 KB so the driver's tail
capture parses it — full per-query timings + raw samples go to the
BENCH_DETAIL.json sidecar next to this file):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {<top-10 slowest>}, "n_queries": N, "sf": <scale factor>,
   "runs": N, "detail": "BENCH_DETAIL.json"}

Each query is executed to completion (collect) — not just planned — so
the timings include scan, shuffle, and result materialization. A warmup
run of every headline query first amortizes JVM/codegen startup out of
the numbers, matching how a long-lived cluster session behaves.

Stability: the host carries background tenant load and single runs vary
up to ~3x between sessions (BASELINE.md's caveat; r3 vs its clean rerun
differed 21% on identical code). Each query is therefore timed
SPARK_GRAFT_BENCH_RUNS times (default 3) interleaved round-robin — so a
transient load spike hits one *round*, not one query's whole sample —
and the reported per-query number is the MEDIAN; "value" is the sum of
medians. Round-over-round comparisons should still prefer totals over
single queries.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_regional_revenue",  # 5-table star join + group-by
    "join_left_5way",             # mixed-type 5-way join, 600k fact rows out
    "agg_groupby_sum",            # implicit-cast hash aggregate
    "udf_sas_date",               # native date decode over the fact table
    "evt_window_sliding",         # 4x-overlap event-time windows
    "evt_window_session",         # session windows (gaps-and-islands)
    "dedup_exact",                # content-hash dedup
    "dedup_minhash_lsh",          # shingle → minhash → band join → verify
    "sim_topk_bruteforce",        # exact cosine top-k
    "text_quality",               # array-expression text scoring
    # round-2 additions: the expensive extension operators, so each
    # round shows deltas on them too (VERDICT r1 next-steps #7)
    "dedup_ngram_jaccard",        # inverted index + df cap self-join
    "dedup_embedding_cosine",     # LSH-bucketed near-dup + exact kernel
    "sim_ann_lsh",                # hyperplane-bucketed ANN
    "sim_ann_ivf",                # k-means cells + nprobe ANN
    "curate_training_corpus",     # quality gate + dedup semi/anti joins
    "stream_tumbling_counts",     # full streaming drain (availableNow)
    # round-2 wave: clustering + end-to-end corpus pipeline
    "dedup_cluster_cc",           # iterative connected components
    "pipe_corpus_curation",       # quality→cap→decontaminate→pack
    "tpch_q1_pricing_summary",    # canonical wide aggregate
    "tpch_q3_shipping_priority",  # 3-way join + global top-k
    # round-3 wave: graph + exact-kNN + the rest of TPC-H's hardest shapes
    "graph_pagerank",             # iterative integer PageRank
    "dedup_cluster_cc_star",      # large-star/small-star CC
    "sim_knn_join",               # block nested-loop exact kNN join
    "tpch_q9_product_profit",     # 5-way join + LIKE-pruned dim
    "tpch_q21_waiting_supplier",  # EXISTS + NOT EXISTS double decorrelation
    "graph_triangle_count",       # degree-oriented wedge join
    "sql_recursive_cte",          # native WITH RECURSIVE ancestor walk
    # round-3 second wave: retrieval scoring + CDC merge
    "text_lm_bigram",             # bigram LM train + score (token windows)
    "cdc_upsert_log",             # ranked-window change-log replay
    # round-3 third wave: timeseries, corpus, spatial, spectral
    "ts_resample_ohlc",           # hourly OHLC bars (window + agg)
    "dedup_cdc_chunks",           # content-defined chunking dedup
    "text_rake_keywords",         # RAKE phrase extraction
    "graph_kcore",                # iterative k-core peel to fixpoint
    "join_spatial_grid",          # 3x3 grid-stamped radius join
    "emb_pca_power_iteration",    # int64 Gram power iteration
    "pipe_event_360",             # sessionize + funnel + RFM composite
    # round-4 wave: containment dedup, interval join, binary ingest,
    # bootstrap resampling
    "dedup_containment_ngram",    # directed sub-document containment
    "join_interval_overlap",      # week-bucketed interval-overlap join
    "src_sas7bdat_binary",        # real SAS7BDAT binary ingest round-trip
    "stat_bootstrap_ci",          # 50-replicate Poisson bootstrap
    # round-4 second wave: multimodal dedup + late-interaction retrieval
    "mm_phash_dedup",             # multi-index Hamming band join dedup
    "sim_maxsim_multivector",     # ColBERT-style MaxSim scoring + top-k
    # round-4 third wave: robust trend, theta set-ops, vocab overlap
    "ts_theil_sen",               # median-of-pairwise-slopes trend
    "agg_theta_sketch_setops",    # bottom-k theta union/intersect estimates
    "text_vocab_overlap",         # source-pair vocabulary Jaccard matrix
    "stat_skew_kurtosis",         # mergeable moment sketch (n..Σx⁴)
    "curate_semdedup",            # SemDeDup centroid pruning
    "stream_ewma_state",          # cross-batch stateful integer EWMA
    # round-4 continuation waves: importance resampling, hybrid retrieval,
    # decomposition, rank stats, communities
    "curate_dsir",                # hashed-ngram importance resampling
    "text_rrf_fusion",            # BM25 + TF-IDF reciprocal-rank fusion
    "ts_stl_decompose",           # trend/seasonal/residual decomposition
    "stat_spearman",              # rank-correlation windows + exact sums
    "graph_label_propagation",    # synchronous mode-label communities
    "emb_kmeans_lloyd",           # distributed Lloyd k-means (2 rounds)
    "pipe_pretrain_mix",          # full pretraining-mix composition
    "dedup_threshold_sweep",      # Jaccard-cut aggressiveness curve
    # continuation waves 20-36: role-split ranking, landmark BFS,
    # seeded teleport, soft dedup, append-mode streaming, session flows
    "graph_hits",                 # hub/authority integer rounds
    "graph_bfs_multisource",      # k-landmark simultaneous BFS
    "graph_pagerank_personalized",# seed-teleport PageRank
    "curate_soft_dedup_weights",  # 1/cluster-size sampling weights
    "stream_append_mode_windows", # append-mode watermark contract
    "evt_session_entry_exit",     # session flow matrix
    # round-4 session-3 waves: basket mining, lead-lag, file skipping
    "rec_market_basket",          # capped-basket pair mining + lift
    "ts_cross_correlation",       # lagged lead-lag Pearson (7 lags)
    "src_file_pruning_stats",     # real relayout + zone-map audit
    "cdc_incremental_agg",        # snapshot+delta partial-agg merge
    # round-5 wave: RAG chunking + rerank, index maintenance,
    # timeout-state sessionization
    "text_chunk_overlap",         # overlapping sliding-window chunking
    "sim_mmr_rerank",             # integer-exact MMR diversity rerank
    "sim_index_upsert",           # vector-index CDC merge + tombstones
    "stream_session_timeout_state",  # event-time-timeout sessionizer
    # round-5 continuation: density clustering, eval hygiene, filter ablation
    "spatial_dbscan_grid",        # grid-complete DBSCAN + star-CC cores
    "curate_split_leakage",       # near-dup pairs straddling the split
    "curate_quality_ablation",    # retention curve across quality cutoffs
    # round-6 wave: tracked skew mitigation + approx early-exit graph
    "skew_zipf_salted",           # hash-salted join on a 50%-hot Zipf key
    "skew_zipf_aqe",              # same join, AQE skew-split mitigation
    "graph_pagerank_approx",      # ranking-churn early exit (vs exact)
                                  # (r12+: includes the rows-only
                                  # sibling-equality self-check — one
                                  # extra fixed-round kernel eval)
    "graph_lpa_approx",           # period-2 oscillation-detect early exit
                                  # (r12+: includes the fixpoint re-vote
                                  # self-check, one coarse-graph round)
    # round-6 second wave: hybrid RAG retrieval, boilerplate templates,
    # epoch scheduling
    "sim_hybrid_retrieval",       # BM25 + dense cosine RRF fusion
    "text_boilerplate_ngrams",    # CCNet-style template detection
    "curate_epoch_schedule",      # temperature mixing under token budget
    "pipe_rag_serving",           # retrieve->fuse->pack serving chain
    "evt_watermark_choice",       # lateness CDF -> watermark sizing
    # round-7 wave: sequence-level exact dedup + epoch shuffling
    "dedup_repeated_spans",       # duplicated k-token span coverage
    "curate_shuffle_epoch",       # two-phase global shuffle ordinal
    # round-7 second wave: the Data Source API write path
    "snk_python_datasource",      # manifest-committed Arrow batch sink
    "stream_python_sink",         # per-batch manifest streaming sink
    # round-7 third wave: grid kNN + pointer-doubling SCC
    "spatial_knn_join",           # certified grid kNN + exact fallback
    "graph_scc_functional",       # O(log n) pointer-jumping rounds
    # round-7 straggler (shipped in the snapshot commit with no bench
    # row — VERDICT r7 directive #3) + round-8 ordinal retrofits worth
    # tracking round-over-round
    "text_ndcg_eval",             # NDCG@10 + MRR ranking evaluation
    "evt_rfm_segmentation",       # 3x exact two-phase ntile quartiles
    "stat_mann_whitney",          # per-value rank-sum (no global window)
    "agg_skyline_pareto",         # two-phase running-max Pareto frontier
    "snk_parquet_global_sorted",  # range-exchange clustered layout write
    # round-9 wave: two-LM cross-entropy-difference selection
    "curate_moore_lewis",         # Moore-Lewis in-domain selection
    # round-11 wave: the r10-flagged CDC stream (bucketed vectorized
    # state — judge criterion: under ~10 s at sf0.1), its native
    # max_by twin, and the reach-bounded BFS layout
    "stream_cdc_apply",           # bucketed applyInPandasWithState LWW
    "stream_cdc_apply_native",    # same merge, pure-JVM max_by agg
    "graph_bfs_multisource_bucketed",  # frontier-pruned adjacency scan
                                       # (traversal only — the one-time
                                       # layout build is timed separately
                                       # as BENCH_DETAIL `bfs_layout`)
]

# Queries whose r4->r5 delta exceeded 15% on identical code (tenant
# noise, not plan changes — VERDICT r5 directive #8): median over 5
# interleaved runs instead of 3 so round-over-round regression
# detection stays meaningful. Streaming stateful drains ride along:
# their wall is harness-dominated and the noisiest in the set.
HIGH_VARIANCE = {
    "cdc_incremental_agg",
    "evt_session_entry_exit",
    "text_rrf_fusion",
    "tpch_q1_pricing_summary",
    "stream_ewma_state",
    "stream_session_timeout_state",
    # r5->r6 movers with unchanged code (VERDICT r6 directive #5):
    # median-of-5 to separate tenant noise from real plan regressions
    "mm_phash_dedup",
    "dedup_cluster_cc",
    "curate_soft_dedup_weights",
    # r7: identical warm code measured 3.2-9.1 s across 4 back-to-back
    # runs (tenant noise on the shared host); median-of-5 keeps the
    # slowest headliner's round-over-round signal meaningful
    "graph_pagerank_personalized",
    # r7 wave 3: 3.34 -> 4.78 s on unchanged code (same noise band)
    "graph_label_propagation",
}


# Rotating non-headliner sample (VERDICT r8 directive #8): ~93 of the
# registered queries are benched as headliners; perf drift in the other
# ~370 was invisible between rounds. Each round additionally times
# ROTATION_N non-headliner queries, picked by a deterministic
# round-seeded shuffle so the whole registry is swept over ~19 rounds
# and any given query's number recurs on a fixed cadence. The rotation
# rides in BENCH_DETAIL only (same median-of-runs protocol) and never
# enters the headline total, keeping round-over-round totals
# comparable. The round number comes from SPARK_GRAFT_ROUND or, by
# default, from the highest BENCH_r{N}.json in ``git ls-files`` + 1.
ROTATION_N = 20


# Round-11 directive 7a: the ad-hoc throwaway-worktree control that
# decided round 10's bench verdict (unchanged r9 tree re-benched on the
# r10 box: 134.0 s vs its recorded 106.7 s — the "regression" was the
# box) is now a PERMANENT bench artifact. After the headline pass,
# bench.py checks the PRIOR round's snapshot tree out into a throwaway
# worktree and re-times a fixed stable subset of headliners there, in a
# fresh subprocess/JVM on this same box. BENCH_DETAIL.json then carries
# {head, control_prior_tree}: prior-code-on-today's-box vs its own
# recorded numbers isolates box drift; HEAD's same-subset medians vs
# the control isolates the code delta. Disable with
# SPARK_GRAFT_BENCH_CONTROL=0; failures are recorded, never fatal.
#
# Round-12 (VERDICT r11 directive 4): the r11 control was ONE prior-
# tree subprocess run compared against HEAD's IN-SESSION medians — a
# methodology mismatch (fresh JVM + 8-query history vs the long bench
# session's heap/codegen state) that could alone explain the observed
# "9% drift". The control now runs CONTROL_ALTERNATIONS fresh-JVM
# subprocess measurements PER SIDE, strictly alternating HEAD tree /
# prior tree so slow box drift hits both sides equally, and reports
# per-side medians-of-medians plus the ratio. The in-session
# head_subset_total stays recorded for continuity but the verdict
# number is the like-for-like subprocess ratio.
CONTROL_ALTERNATIONS = 3

CONTROL_QUERIES = [
    "flagship_regional_revenue",
    "agg_groupby_sum",
    "join_left_5way",
    "dedup_exact",
    "text_quality",
    "tpch_q1_pricing_summary",
    "graph_pagerank",
    "ts_resample_ohlc",
]


def _prior_snapshot_ref(repo: str, rnd: int) -> str | None:
    import subprocess

    env_ref = os.environ.get("SPARK_GRAFT_BENCH_CONTROL_REF")
    if env_ref:
        return env_ref
    out = subprocess.run(
        ["git", "-C", repo, "log", "--format=%H %s"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    if out.returncode != 0:
        return None
    for line in out.stdout.splitlines():
        sha, _, subject = line.partition(" ")
        if re.match(rf"round {rnd - 1}: end-of-round snapshot", subject):
            return sha
    # r13: not every round ends with a snapshot-subject commit (round 12
    # ended at "round 12: verdict/advice/correctness/bench"), which made
    # the control silently skip. Fall back to the NEWEST commit whose
    # subject names the prior round — the prior round's tree as last
    # recorded, which is exactly what the control compares against.
    for line in out.stdout.splitlines():
        sha, _, subject = line.partition(" ")
        if re.match(rf"round {rnd - 1}:", subject):
            return sha
    return None


def _subset_script(tree: str, sf_dir: str, cpus: str) -> str:
    """One fresh-JVM measurement of CONTROL_QUERIES against ``tree``:
    warmup at sf0.001, then 3 interleaved rounds at ``sf_dir``, prints
    one JSON line of per-query medians. Identical for BOTH sides so
    the comparison is like-for-like."""
    import textwrap

    return textwrap.dedent(
        f"""
        import json, statistics, sys, time
        sys.path.insert(0, {tree!r})
        import udacity_data_engineer_capstone_spark as engine
        engine.load_all()
        from pyspark.sql import SparkSession
        from udacity_data_engineer_capstone_spark.session import configure
        spark = configure(
            SparkSession.builder.master("local[{cpus}]")
            .appName("bench-control")
            .config("spark.driver.memory", "16g")
            .config("spark.driver.extraJavaOptions", "-Xlog:disable")
            .config("spark.ui.showConsoleProgress", "false")
        ).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        fns = engine.get_queries()
        names = {CONTROL_QUERIES!r}
        for n in names:
            fns[n](spark, "/root/testdata/sf0.001").count()
        samples = {{n: [] for n in names}}
        for r in range(3):
            for n in names:
                t0 = time.perf_counter()
                fns[n](spark, {sf_dir!r}).count()
                samples[n].append(time.perf_counter() - t0)
        print(json.dumps(
            {{n: round(statistics.median(t), 3)
              for n, t in samples.items()}}))
        """
    )


def _control_prior_tree(
    repo: str, rnd: int, sf_dir: str, cpus: str
) -> dict:
    import subprocess
    import tempfile

    if os.environ.get("SPARK_GRAFT_BENCH_CONTROL", "1") == "0":
        return {"skipped": "SPARK_GRAFT_BENCH_CONTROL=0"}
    ref = _prior_snapshot_ref(repo, rnd)
    if ref is None:
        return {"skipped": f"no round-{rnd - 1} snapshot commit found"}
    wt = tempfile.mkdtemp(prefix="bench_ctrl_")
    try:
        add = subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", wt, ref],
            capture_output=True,
            text=True,
            timeout=120,
        )
        if add.returncode != 0:
            return {"error": f"worktree add failed: {add.stderr[:200]}"}

        def _one_run(tree: str) -> dict:
            proc = subprocess.run(
                [sys.executable, "-c", _subset_script(tree, sf_dir, cpus)],
                capture_output=True,
                text=True,
                timeout=1800,
                cwd=tree,
            )
            if proc.returncode != 0:
                raise RuntimeError(proc.stderr[-300:])
            return json.loads(proc.stdout.strip().splitlines()[-1])

        runs: dict[str, list[dict]] = {"head": [], "prior": []}
        errors: list[str] = []
        for _i in range(CONTROL_ALTERNATIONS):
            for side, tree in (("head", repo), ("prior", wt)):
                try:
                    runs[side].append(_one_run(tree))
                except Exception as e:  # noqa: BLE001 — never fatal
                    errors.append(f"{side}[{_i}]: {str(e)[:200]}")
        out: dict = {"ref": ref, "alternations": CONTROL_ALTERNATIONS}
        if errors:
            out["errors"] = errors
        sides: dict[str, dict] = {}
        for side, rs in runs.items():
            if not rs:
                continue
            med = {
                q: round(
                    statistics.median([r[q] for r in rs if q in r]), 3
                )
                for q in CONTROL_QUERIES
                if any(q in r for r in rs)
            }
            sides[side] = {
                "queries": med,
                "total": round(sum(med.values()), 3),
                "run_totals": [
                    round(sum(r.values()), 3) for r in rs
                ],
            }
        out.update(sides)
        # legacy keys kept for round-over-round continuity
        if "prior" in sides:
            out["queries"] = sides["prior"]["queries"]
            out["total"] = sides["prior"]["total"]
        if "head" in sides and "prior" in sides and sides["prior"]["total"]:
            out["head_over_prior_ratio"] = round(
                sides["head"]["total"] / sides["prior"]["total"], 4
            )
        return out
    except Exception as e:  # noqa: BLE001 — control must never fail bench
        return {"error": str(e)[:300]}
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            capture_output=True,
            timeout=120,
        )


def _current_round(repo_dir: str) -> int:
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        try:
            return int(env)
        except ValueError:
            pass
    # Tracked files only: a BENCH file written for the current round but
    # not yet committed must not advance the round, or the prior-tree
    # control would resolve to HEAD and compare it with itself.
    import subprocess

    listed = subprocess.run(
        ["git", "-C", repo_dir, "ls-files", "BENCH_r*.json"],
        capture_output=True,
        text=True,
        timeout=60,
    ).stdout.split()
    rounds = [
        int(m.group(1))
        for p in listed
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def _rotation_sample(all_names: list[str], rnd: int) -> list[str]:
    pool = sorted(set(all_names) - set(HEADLINE))
    if not pool:
        return []
    # one fixed shuffle of the pool, then a round-advancing window —
    # consecutive rounds cover DISJOINT slices until the pool wraps
    order = list(pool)
    random.Random(20250815).shuffle(order)
    start = ((rnd - 1) * ROTATION_N) % len(order)
    picked = (order + order)[start : start + ROTATION_N]
    return picked[: len(pool)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from pyspark.sql import SparkSession

    from udacity_data_engineer_capstone_spark.session import configure
    import udacity_data_engineer_capstone_spark as engine

    engine.load_all()
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]").appName("engine-bench")
        # JDK unified logging (e.g. GCLocker retry warnings) writes to
        # stdout and could interleave with the single JSON result line the
        # driver parses — disable it for the bench JVM.
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        # stage progress bars and log4j2's console appender both target
        # SYSTEM_OUT in Spark 4 — keep stdout clean for the JSON line
        .config("spark.ui.showConsoleProgress", "false")
        # local[32] runs all 32 executor threads inside the driver JVM;
        # the 1g default heap OOMs on the wider headline set.
        .config("spark.driver.memory", "16g")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    fns = engine.get_queries()

    # warmup: run every headline query once at the smallest SF so JIT,
    # codegen, and analysis caches are hot — the measured runs below then
    # time data processing at the target SF, as a long-lived session would
    for name in HEADLINE:
        fns[name](spark, "/root/testdata/sf0.001").count()

    # graph_bfs_multisource_bucketed rides on a ONE-TIME src-bucketed
    # adjacency layout (an ingest-time investment, decade-invariant
    # traversals thereafter — SCALE.md r11). Build it for the target SF
    # here, timed SEPARATELY, so the headline number is pure traversal
    # — r11 charged the build to the first timed run, which read as a
    # 6.24 s-vs-3.66 s "regression" against the unbucketed twin to
    # anyone not reading SCALE.md (VERDICT r11 directive 6). The split
    # is recorded in BENCH_DETAIL.json as `bfs_layout`.
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _bfs_bucketed_layout,
    )

    t0 = time.perf_counter()
    _bfs_bucketed_layout(spark, sf_dir)
    bfs_layout = {
        "build_sec": round(time.perf_counter() - t0, 3),
        "note": (
            "one-time ingest-side layout build for"
            " graph_bfs_multisource_bucketed; headline samples below"
            " time TRAVERSAL only (session-cached layout)"
        ),
    }

    # VERDICT r12 item 8 (measurement honesty): the two remaining
    # one-time costs are timed explicitly per bench run instead of
    # being absorbed by a first timed sample (the session-shared
    # purchase-graph adjacency) or hidden entirely by the cross-process
    # stage cache (the python-source sorted log). Both are recorded in
    # BENCH_DETAIL like `bfs_layout`; the graph headline samples below
    # then time traversal over the session-cached adjacency, the same
    # split r12 made for the BFS layout.
    from udacity_data_engineer_capstone_spark.memo import scratch_dir
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _purchase_graph,
    )
    from udacity_data_engineer_capstone_spark.streaming.events import (
        _write_sorted_log,
    )

    t0 = time.perf_counter()
    g = _purchase_graph(spark, sf_dir)
    g["adj"].count()
    g["nodes"].count()
    graph_adjacency = {
        "build_sec": round(time.perf_counter() - t0, 3),
        "note": (
            "session-shared purchase-graph adjacency build"
            " (orders⋈lineitem DISTINCT + bidir/deg/adj persists) —"
            " the materialized-view cost the whole graph family"
            " amortizes; previously paid inside the first graph"
            " query's first timed sample"
        ),
    }
    t0 = time.perf_counter()
    _write_sorted_log(
        spark, sf_dir, os.path.join(scratch_dir("engine_log_"), "log")
    )
    events_staging = {
        "build_sec": round(time.perf_counter() - t0, 3),
        "note": (
            "stream_python_source's event_id-sorted log build, written"
            " into a scratch directory so the cross-process stage cache"
            " can't hide the cost from every recorded number"
        ),
    }

    base_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    hv_runs = max(base_runs, int(os.environ.get("SPARK_GRAFT_BENCH_HV_RUNS", "5")))
    runs_for = {
        name: (hv_runs if name in HIGH_VARIANCE else base_runs)
        for name in HEADLINE
    }
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _round in range(max(runs_for.values())):
        for name in HEADLINE:
            if _round >= runs_for[name]:
                continue
            t0 = time.perf_counter()
            df = fns[name](spark, sf_dir)
            n = df.count() if name != "sim_topk_bruteforce" else len(df.collect())
            _ = n
            samples[name].append(time.perf_counter() - t0)

    timings = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    total = round(sum(timings.values()), 3)

    # rotating non-headliner drift sample (see ROTATION_N above):
    # warm once at the smallest SF, then the same interleaved
    # median-of-runs protocol; detail-sidecar only
    rnd = _current_round(os.path.dirname(os.path.abspath(__file__)))
    rotation = _rotation_sample(sorted(fns), rnd)
    rot_samples: dict[str, list[float]] = {name: [] for name in rotation}
    for name in rotation:
        fns[name](spark, "/root/testdata/sf0.001").count()
    for _round in range(base_runs):
        for name in rotation:
            t0 = time.perf_counter()
            fns[name](spark, sf_dir).count()
            rot_samples[name].append(time.perf_counter() - t0)
    rot_timings = {
        name: round(statistics.median(ts), 3)
        for name, ts in rot_samples.items()
    }

    # box-normalization control (see CONTROL_QUERIES note): stop the
    # bench session first so the control JVM doesn't contend with it
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    import subprocess

    head_sha = subprocess.run(
        ["git", "-C", repo_dir, "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
        timeout=60,
    ).stdout.strip() or None
    spark.stop()
    control = _control_prior_tree(repo_dir, rnd, sf_dir, cpus)
    control["head_subset_total"] = round(
        sum(timings[q] for q in CONTROL_QUERIES if q in timings), 3
    )

    # The driver captures only a ~2 KB tail of stdout; 82 per-query
    # timings plus runs metadata no longer fit one line (BENCH_r04-r06
    # all recorded "parsed": null — VERDICT r6 directive #2). Full
    # detail goes to a committed sidecar; the single stdout line keeps
    # total + the top slowest queries and stays well under the capture.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "samples": {k: [round(t, 3) for t in v]
                            for k, v in samples.items()},
                "sf": sf,
                "runs": base_runs,
                "runs_per_query": runs_for,
                "rotation": {
                    "round": rnd,
                    "n": len(rot_timings),
                    "queries": rot_timings,
                    "samples": {
                        k: [round(t, 3) for t in v]
                        for k, v in rot_samples.items()
                    },
                },
                "head": head_sha,
                "bfs_layout": bfs_layout,
                "graph_adjacency": graph_adjacency,
                "events_staging": events_staging,
                "control_prior_tree": control,
            },
            fh,
            indent=1,
        )
    top = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": top,
            "n_queries": len(timings),
            "sf": sf,
            "runs": base_runs,
            "detail": os.path.basename(detail_path),
        }
    )
    assert len(line) < 1800, f"bench line too long ({len(line)}B)"
    print(line)


if __name__ == "__main__":
    main()
