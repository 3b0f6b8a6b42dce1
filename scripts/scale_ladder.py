"""Scale ladder: time registry queries up an ordered list of data dirs
(rungs) and print each query's wall time per rung and the ratio between
neighbouring rungs.

Each query is warmed up once at ``--warm-dir``, then run ``--runs``
times per rung (``.count()``); the median is recorded. Before a rung,
``SPARK_GRAFT_CORPUS_DOCS`` is set to that rung's ``documents`` row
count, read from the parquet footers, so the dedup Bloom width is the
one that corpus derives. With ``--size-shuffle`` a rung also sets
``spark.sql.shuffle.partitions`` to max(cores, rung bytes / 128 MB).

With more than one core count in ``--cores``, each count runs in its own
process (a fresh JVM) and the ratio of each count's times to the first
one's is printed too.

Usage: python scripts/scale_ladder.py QUERY[,QUERY...] --sf-dirs DIR,DIR[,DIR]
           [--runs 3] [--cores 32,8] [--out ladder.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(path: str) -> list[str]:
    return sorted(glob.glob(f"{path}/*.parquet")) if os.path.isdir(path) else [path]


def corpus_docs(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _files(f"{sf_dir}/documents.parquet"))


def dir_bytes(sf_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(sf_dir)
        for f in files
    )


def ratios(lo: dict, hi: dict) -> dict[str, float | None]:
    return {q: round(hi[q] / lo[q], 2) if lo[q] else None for q in hi if q in lo}


def ladder(args, cores: int) -> dict:
    """Run the whole ladder in this process at ``local[cores]``."""
    from pyspark.sql import SparkSession

    import udacity_data_engineer_capstone_spark as engine
    from udacity_data_engineer_capstone_spark.operators.ordinal import evict_checkpoints
    from udacity_data_engineer_capstone_spark.session import configure

    engine.load_all()
    builder = SparkSession.builder
    for kv in args.conf:
        builder = builder.config(*kv.split("=", 1))
    spark = configure(
        builder.master(f"local[{cores}]")
        .appName("scale-ladder")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    fns = {q: engine.QUERIES[q].fn for q in args.queries}
    for fn in fns.values():  # JIT and codegen warm-up
        fn(spark, args.warm_dir).count()

    rungs = []
    for sf_dir in args.sf_dirs:
        label = os.path.basename(os.path.normpath(sf_dir))
        docs = corpus_docs(sf_dir)
        os.environ["SPARK_GRAFT_CORPUS_DOCS"] = str(docs)
        rung = {"sf_dir": sf_dir, "corpus_docs": docs, "median_s": {}, "samples_s": {}}
        if args.size_shuffle:
            rung["shuffle_partitions"] = max(cores, dir_bytes(sf_dir) // (128 << 20))
            spark.conf.set("spark.sql.shuffle.partitions", str(rung["shuffle_partitions"]))
        for q, fn in fns.items():
            samples = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                samples.append(round(time.perf_counter() - t0, 3))
            rung["samples_s"][q] = samples
            rung["median_s"][q] = statistics.median(samples)
            print(f"[c{cores} {label}] {q}: {rung['median_s'][q]:.3f} s "
                  f"{samples} ({n} rows)", flush=True)
        evict_checkpoints()
        spark.catalog.clearCache()
        rungs.append(rung)
    steps = []
    for lo, hi in zip(rungs, rungs[1:]):
        step = {"from": lo["sf_dir"], "to": hi["sf_dir"],
                "ratio": ratios(lo["median_s"], hi["median_s"])}
        for q, r in step["ratio"].items():
            print(f"[c{cores}] {q}: {os.path.basename(step['to'])}/"
                  f"{os.path.basename(step['from'])} = {r}", flush=True)
        steps.append(step)
    spark.stop()
    return {"cores": cores, "rungs": rungs, "steps": steps}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="registry names (commas allowed)")
    ap.add_argument("--sf-dirs", required=True, help="comma-separated rungs, in order")
    ap.add_argument("--runs", type=int, default=1, help="timed runs per query and rung")
    ap.add_argument("--cores", default=str(os.cpu_count() or 1),
                    help="comma-separated local[N] core counts, one JVM each")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--driver-memory", default="4g")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="extra Spark setting, e.g. spark.driver.maxResultSize=16g")
    ap.add_argument("--size-shuffle", action="store_true",
                    help="set shuffle partitions per rung from its bytes")
    ap.add_argument("--out", help="write the results here as JSON")
    args = ap.parse_args()
    args.queries = [n for v in args.queries for n in v.split(",") if n]
    args.sf_dirs = args.sf_dirs.split(",")
    cores = [int(c) for c in args.cores.split(",")]
    sys.path[0] = REPO

    if len(cores) == 1:
        results = [ladder(args, cores[0])]
    else:
        results = []
        for c in cores:
            with tempfile.NamedTemporaryFile(suffix=".json") as tmp:
                subprocess.run(
                    [sys.executable, __file__, *sys.argv[1:],
                     "--cores", str(c), "--out", tmp.name],
                    check=True,
                )
                with open(tmp.name, encoding="utf-8") as fh:
                    results.append(json.load(fh)["results"][0])
        first = results[0]
        for res in results[1:]:
            for rung0, rung in zip(first["rungs"], res["rungs"]):
                rung["vs_first_cores"] = ratios(rung0["median_s"], rung["median_s"])
                for q, r in rung["vs_first_cores"].items():
                    print(f"{os.path.basename(rung['sf_dir'])} {q}: "
                          f"c{res['cores']}/c{first['cores']} = {r}", flush=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump({"queries": args.queries, "results": results}, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
