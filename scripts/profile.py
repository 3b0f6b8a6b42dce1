"""Per-query runtime ledger: wall time, Spark jobs, stages and tasks, and
driver-JVM CPU split by thread class.

For each query: one warm-up run at ``--warm-dir``, then ``--runs`` timed
runs at ``--sf-dir``. A run is the query's plan build plus a noop write
(every column computed, nothing shipped to the driver). Jobs, stages and
tasks are read from Spark's status store through a job group per run,
plus the job groups of the streaming runs the op started.

JVM CPU comes from ``/proc/<jvm>/task/*/stat``, bucketed by thread name
(the kernel truncates names to 15 characters):

- jit: ``C1 CompilerThre``, ``C2 CompilerThre``, ``Sweeper thread``;
- gc: ``VM Thread``, ``GC Thread*``, ``G1 *``;
- planning: the py4j ``Thread-N`` threads that run the Python calls;
- tasks: ``Executor task l*``;
- scheduler: ``dag-scheduler*``, ``spark-listener*``, ``broadcast-exch*``,
  ``ResultQueryStag*``;
- other: the JVM's total ``/proc/<jvm>/stat`` CPU less the classes above,
  so threads that end during a run (a stream's execution thread) count.

The classes therefore sum to the JVM's CPU. Python CPU (the driver
process, and separately its Python workers) is its own line.

Usage: python scripts/profile.py QUERY [QUERY ...] [--sf-dir DIR] [--runs N]
           [--plans DIR [--tag before]] [--tree CHECKOUT] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = ("jit", "gc", "planning", "tasks", "scheduler", "other")
_PREFIXES = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")),
    ("gc", ("VM Thread", "GC Thread", "G1 ")),
    ("tasks", ("Executor task l",)),
    ("scheduler", ("dag-scheduler", "spark-listener", "broadcast-exch",
                   "ResultQueryStag")),
)
_PY4J = re.compile(r"Thread-\d+$")


def thread_class(name: str) -> str:
    if _PY4J.match(name):
        return "planning"
    for cls, prefixes in _PREFIXES:
        if name.startswith(prefixes):
            return cls
    return "other"


def _cpu_ticks(stat_path: str) -> tuple[str, int]:
    """(name, utime + stime) of one ``/proc`` stat file."""
    with open(stat_path, encoding="ascii", errors="replace") as fh:
        raw = fh.read()
    name = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    return name, int(fields[11]) + int(fields[12])


def jvm_sample(pid: int) -> tuple[int, dict[int, tuple[str, int]]]:
    """The JVM's total CPU ticks, and each live thread's name and ticks."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            threads[int(tid)] = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
        except (OSError, ValueError):  # the thread ended meanwhile
            pass
    return _cpu_ticks(f"/proc/{pid}/stat")[1], threads


def split_cpu(before, after) -> dict[str, float]:
    """Seconds of JVM CPU per thread class between two samples."""
    hz = os.sysconf("SC_CLK_TCK")
    out = dict.fromkeys(CLASSES, 0.0)
    for tid, (name, ticks) in after[1].items():
        cls = thread_class(name)
        if cls != "other":
            out[cls] += (ticks - before[1].get(tid, (name, 0))[1]) / hz
    out["jvm"] = (after[0] - before[0]) / hz
    out["other"] = out["jvm"] - sum(out[c] for c in CLASSES if c != "other")
    return out


def self_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def workers_cpu_s(jvm_pid: int, tracing) -> float:
    """CPU seconds of the live Python workers the JVM has forked."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tracing._descendants(jvm_pid):
        try:
            total += _cpu_ticks(f"/proc/{pid}/stat")[1]
        except (OSError, ValueError):
            pass
    return total / hz


def job_groups(spark) -> dict[int, str | None]:
    """Every job in the status store, with its job group, once the
    listener bus has delivered every event posted so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        out[job.jobId()] = group.get() if group.isDefined() else None
    return out


def profile_query(spark, fn, name: str, args, jvm_pid: int, tracing) -> dict:
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    sc.setJobGroup(f"profile:{name}:warmup", "warmup")
    fn(spark, args.warm_dir).write.format("noop").mode("overwrite").save()
    runs = []
    for r in range(args.runs):
        group = f"profile:{name}:{r}"
        last_job = max(job_groups(spark), default=-1)
        w0 = workers_cpu_s(jvm_pid, tracing)
        j0 = jvm_sample(jvm_pid)
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        p0 = self_cpu_s()
        t0 = time.perf_counter()
        sc.setJobGroup(group, name)
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        p1 = self_cpu_s()
        c1 = codegen.METRIC_COMPILATION_TIME().getCount()
        j1 = jvm_sample(jvm_pid)
        w1 = workers_cpu_s(jvm_pid, tracing)
        sc.setLocalProperty("spark.jobGroup.id", None)
        # A stream's execution thread tags its micro-batch jobs with the
        # stream's run id, not with this job group.
        groups = {g for j, g in job_groups(spark).items() if j > last_job and g}
        counts = [tracing.job_counts(spark, g) for g in groups | {group}]
        runs.append({
            "wall_s": wall, "compiles": c1 - c0,
            **{k: sum(c[k] for c in counts) for k in ("jobs", "stages", "tasks")},
            **{f"cpu_{k}": v for k, v in split_cpu(j0, j1).items()},
            "python": p1 - p0, "workers": w1 - w0,
        })
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        path = os.path.join(args.plans, f"{name}{'_' + args.tag if args.tag else ''}.txt")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(fn(spark, args.sf_dir)._jdf.queryExecution().explainString(mode))
    walls = [r["wall_s"] for r in runs]
    mean = {k: statistics.fmean(r[k] for r in runs) for k in runs[0] if k != "wall_s"}
    return {"query": name, "sf_dir": args.sf_dir, "runs": len(runs),
            "wall_median_s": statistics.median(walls), "wall_s": walls, **mean}


def report(rec: dict) -> None:
    print(f"{rec['query']}  {rec['sf_dir']}  wall median {rec['wall_median_s']:.3f} s "
          f"{[round(w, 3) for w in rec['wall_s']]}", flush=True)
    print(f"  per op: jobs {rec['jobs']:.1f}  stages {rec['stages']:.1f}  "
          f"tasks {rec['tasks']:.1f}  janino compiles {rec['compiles']:.1f}")
    print(f"  jvm cpu {rec['cpu_jvm']:.3f} s = "
          + " + ".join(f"{c} {rec['cpu_' + c]:.3f}" for c in CLASSES))
    print(f"  python cpu {rec['python']:.3f} s  (python workers {rec['workers']:.3f} s)",
          flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="registry names (commas allowed)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="data dir of the timed runs")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001",
                    help="data dir of the one warm-up run per query")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per query")
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                    help="local[N] master")
    ap.add_argument("--driver-memory", default="2g")
    ap.add_argument("--plans", metavar="DIR", help="write each formatted plan here")
    ap.add_argument("--tag", default="", help="plan file suffix: <query>_<tag>.txt")
    ap.add_argument("--tree", default=REPO,
                    help="checkout whose engine to import (for A/B runs)")
    ap.add_argument("--json", metavar="OUT", help="also write the records as JSON")
    args = ap.parse_args()

    # The script's own directory is not put on the path: this file would
    # shadow the standard library's profile module, which pyspark imports.
    sys.path[0] = os.path.abspath(args.tree)
    sys.path.insert(1, os.path.join(REPO, "perfbench"))
    import tracing
    from pyspark.sql import SparkSession

    import udacity_data_engineer_capstone_spark as engine
    from udacity_data_engineer_capstone_spark.session import configure

    engine.load_all()
    spark = configure(
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("profile")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        .config("spark.ui.showConsoleProgress", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    records = []
    for name in [n for v in args.queries for n in v.split(",") if n]:
        rec = profile_query(spark, engine.QUERIES[name].fn, name, args, jvm_pid, tracing)
        report(rec)
        records.append(rec)
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(records, fh, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
