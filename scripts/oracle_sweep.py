"""Value-check registry queries against their DuckDB oracles at any data
dir, with the aggregate-hash gate of ``tests/oracle.py``.

``compare_agghash`` folds each engine's whole result to a row count and
two 60-bit hash sums inside the engine, so no result row is materialized
outside Spark or DuckDB and full-table outputs can be checked far above
the test scale. A query whose result types have no portable canonical
form falls back to the row gate (``compare``), as does every query with
``--rows``.

With no query names, the sweep takes every oracled query whose DuckDB
result types are agghash-renderable (screened from the lazily bound
oracle, without running either engine), less the documented DuckDB
limits, cheapest input table first.

``--out`` makes the sweep resumable: before a query runs, a failed
"in-flight" record is appended, and its real record follows; a rerun
skips every recorded name (the last record of a name wins). With
``--query-cap`` a watchdog ends the process with exit code 86 when one
query runs longer, since neither an in-process DuckDB call nor a blocked
py4j call can be interrupted from another thread; the in-flight record
stays as that query's loud failure, and a rerun resumes after it.

Usage: python scripts/oracle_sweep.py [QUERY ...] [--sf-dir DIR] [--rows]
           [--out FILE.jsonl] [--query-cap SEC] [--budget SEC]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WATCHDOG_EXIT = 86

# The DuckDB side cannot replay these at sf100: the ngram inverted-index
# self-join outgrew RAM and disk, and the unrolled Lloyd CTEs filled the
# spill directory (SCALE.md). Siblings of both families are hash-exact.
DUCKDB_LIMIT_SKIPS = {"dedup_ngram_jaccard", "emb_kmeans_lloyd"}
PORTABLE = {
    "string", "bigint", "int", "smallint", "tinyint",
    "boolean", "date", "timestamp", "double", "float",
}
# Cheapest first, by the dominant input table at sf100.
COST_CLASSES = (
    ("text_", "dedup_", "curate_", "pipe_corpus", "udtf_"),
    ("sim_", "emb_", "mm_"),
    ("src_", "fn_", "prj_", "flt_", "snk_", "sql_", "act_", "ref_"),
    ("join_", "agg_", "win_", "ord_", "set_", "cdc_", "tpch_", "flagship",
     "skew_", "spatial_", "rec_", "graph_", "pipe_", "warehouse_", "maint_",
     "stat_ols", "sample_"),
)


def cost_rank(name: str) -> int:
    for i, prefixes in enumerate(COST_CLASSES):
        if name.startswith(prefixes):
            return i
    return len(COST_CLASSES)  # events and the rest: the largest inputs


def renderable(engine, oracle, sf_dir: str) -> tuple[list[str], dict[str, str]]:
    """Every oracled query the aggregate hash can render, and why the
    others are left out."""
    con = oracle.duckdb_con(sf_dir)
    keep, excluded = [], {}
    for name in sorted(engine.QUERIES):
        spec = engine.QUERIES[name]
        if spec.oracle is None:
            excluded[name] = "rows-only (no oracle)"
        elif name in DUCKDB_LIMIT_SKIPS:
            excluded[name] = "documented DuckDB oracle limit"
        else:
            try:
                bad = [t for t in map(oracle.canon_duck_type, con.sql(spec.oracle_text()).types)
                       if t not in PORTABLE]
            except Exception as e:  # noqa: BLE001 - the screen must not die
                bad = [f"oracle bind error: {str(e)[:120]}"]
            if bad:
                excluded[name] = f"not agghash-renderable: {bad[:3]}"
            else:
                keep.append(name)
    con.close()
    return sorted(keep, key=lambda n: (cost_rank(n), n)), excluded


def check(spark, oracle, name: str, sf_dir: str, rows: bool) -> dict:
    if not rows:
        try:
            r = oracle.compare_agghash(spark, name, sf_dir)
            return {"mode": "agghash", "rows": r["rows"], "h1": str(r["h1"]),
                    "h2": str(r["h2"])}
        except AssertionError as e:
            if "no portable canonical form" not in str(e):
                raise
    oracle.compare(spark, name, sf_dir)
    return {"mode": "rows"}


def load_records(path: str | None) -> dict[str, dict]:
    done: dict[str, dict] = {}
    if path and os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                    done[rec["name"]] = rec
                except (ValueError, KeyError):
                    pass
    return done


def append(path: str | None, rec: dict) -> None:
    if path:
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")


def start_watchdog(cap: float, inflight: dict) -> None:
    def watch() -> None:
        while True:
            time.sleep(min(5.0, cap / 4))
            name, t0 = inflight["name"], inflight["t0"]
            if name is not None and time.time() - t0 > cap:
                print(f"[WATCHDOG] {name} exceeded {cap}s, exiting {WATCHDOG_EXIT}",
                      file=sys.stderr, flush=True)
                os._exit(WATCHDOG_EXIT)

    threading.Thread(target=watch, daemon=True).start()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*",
                    help="registry names (commas allowed); default: every renderable one")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--rows", action="store_true",
                    help="use the row-materializing gate for every query")
    ap.add_argument("--out", metavar="JSONL", help="append records here; resume from it")
    ap.add_argument("--query-cap", type=float, default=0,
                    help=f"watchdog: exit {WATCHDOG_EXIT} when one query runs longer (s)")
    ap.add_argument("--budget", type=float, default=0,
                    help="start no query after this many seconds")
    ap.add_argument("--deadline", type=float, default=0,
                    help="start no query after this Unix time")
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--driver-memory", default="4g")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="extra Spark setting, e.g. spark.driver.maxResultSize=16g")
    args = ap.parse_args()

    sys.path[0] = REPO
    from pyspark.sql import SparkSession

    import tests.oracle as oracle
    import udacity_data_engineer_capstone_spark as engine
    from udacity_data_engineer_capstone_spark.session import configure

    engine.load_all()
    names = [n for v in args.queries for n in v.split(",") if n]
    excluded: dict[str, str] = {}
    if not names:
        names, excluded = renderable(engine, oracle, args.sf_dir)
    builder = SparkSession.builder
    for kv in args.conf:
        builder = builder.config(*kv.split("=", 1))
    spark = configure(
        builder.master(f"local[{args.cores}]")
        .appName("oracle-sweep")
        .config("spark.driver.memory", args.driver_memory)
        # JDK unified logging would write into the JSON summary line
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    done = load_records(args.out)
    inflight = {"name": None, "t0": 0.0}
    if args.query_cap:
        start_watchdog(args.query_cap, inflight)
    t_start = time.time()
    not_started = []
    for name in names:
        if name in done:
            continue
        if (args.budget and time.time() - t_start > args.budget) or (
            args.deadline and time.time() > args.deadline
        ):
            not_started.append(name)
            continue
        append(args.out, {"name": name, "ok": False, "sec": 0.0,
                          "err": "in-flight; a later record of this name supersedes it"})
        t0 = inflight["t0"] = time.time()
        inflight["name"] = name
        try:
            rec = {"name": name, "ok": True,
                   **check(spark, oracle, name, args.sf_dir, args.rows)}
        except Exception as e:  # noqa: BLE001 - report, don't mask the rest
            rec = {"name": name, "ok": False, "err": str(e)[:400]}
        inflight["name"] = None
        rec["sec"] = round(time.time() - t0, 1)
        append(args.out, rec)
        done[name] = rec
        detail = f"{rec['mode']} gate" if rec["ok"] else rec["err"][:200]
        if "rows" in rec:
            detail += f", {rec['rows']} rows"
        print(f"[{'OK ' if rec['ok'] else 'ERR'}] {name} {rec['sec']}s: {detail}", flush=True)

    failed = sorted(n for n in names if n in done and not done[n]["ok"])
    print(json.dumps({
        "sf_dir": args.sf_dir, "n_queries": len(names),
        "n_ok": sum(1 for n in names if n in done and done[n]["ok"]),
        "failed": failed, "not_started": not_started, "excluded": excluded,
    }))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
