"""Self-test of the benchmark: one small pass of every workload.

Usage, from the repository root::

    python3 perfbench/selftest.py

Runs ``perfbench/run.py --small`` (smallest tables, a 2000-row ETL
input, one pass) as a subprocess and checks that:

1. every metric in ``BENCHMARK.json`` is printed with its unit, the
   end-to-end ones untraced and the per-layer ones traced;
2. in the traced run, the layer times are measured consistently by
   two independent clocks: every Spark job interval the status store
   (the JVM's clock) attributes to an operation lies inside that
   operation's wall-clock window (Python's clock) within
   ``JOB_CLOCK_TOL_S``, and the operation spans together cover at least
   ``COVER_MIN`` of the timed window's span, so no untimed work hides
   between operations;
3. two seeds give two operation orders (and, for the ETL, two inputs)
   while every output check passes;
4. a deliberately broken oracle comparison makes the run exit non-zero;
5. the executed plan of ``udf_sas_date`` under the timed
   ``write.format("noop")`` action keeps the SAS date-decode projection
   that a ``count()`` prunes away.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JOB_CLOCK_TOL_S = 0.010
COVER_MIN = 0.97


def bench(workload: str, seed: int, trace: int, env: dict | None = None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--small"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900,
                       env={**os.environ, **(env or {})})
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, res, p.stderr


def labels(workload: str, seed: int, trace: int) -> dict:
    path = os.path.join(HERE, ".work", "results",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)["labels"]


def spans(workload: str, seed: int) -> list[dict]:
    path = os.path.join(HERE, ".work", f"trace-{workload}-{seed}.jsonl")
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = bench(w, 1, trace)
            expect(code == 0 and res is not None and res["correct"],
                   f"{w} trace={trace} seed=1 runs and passes its output checks"
                   + ("" if code == 0 else f" (exit {code}: {err.strip()[-300:]})"))
            if res is None:
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} prints every {key} metric "
                   f"with its unit (missing {sorted(set(want) - set(got))}, "
                   f"extra {sorted(set(got) - set(want))})")
        trace = spans(w, 1)
        ops = [s for s in trace if "wall" in s]
        jobs = [(s["name"], a - s["epoch0"], b - s["epoch0"], s["wall"])
                for s in ops for a, b in s.get("intervals", [])]
        out = [j for j in jobs
               if j[1] < -JOB_CLOCK_TOL_S or j[2] > j[3] + JOB_CLOCK_TOL_S]
        expect(bool(jobs) and not out,
               f"{w}: all {len(jobs)} status-store job intervals lie inside their "
               f"op's wall within {JOB_CLOCK_TOL_S * 1e3:.0f} ms (outside: {out[:3]})")
        window = next(s for s in trace if s["name"] == "window")
        cover = sum(s["end"] - s["start"] for s in ops) / (window["end"] - window["start"])
        expect(COVER_MIN <= cover <= 1.0,
               f"{w}: op spans cover {cover:.4f} of the timed window (min {COVER_MIN})")

        code, res, _ = bench(w, 2, 1)
        expect(code == 0 and res is not None and res["correct"],
               f"{w} seed=2 passes its output checks")
        a, b = labels(w, 1, 1), labels(w, 2, 1)
        expect((a["warmup_order"], a["op_order"]) != (b["warmup_order"], b["op_order"]),
               f"{w}: seeds 1 and 2 order ops differently")
        if a["inputs"] is not None:
            expect(a["inputs"] != b["inputs"], f"{w}: seeds 1 and 2 generate different inputs")

        code, res, _ = bench(w, 1, 0, env={"PERFBENCH_BREAK_ORACLE": "1"})
        expect(code != 0 and res is not None and not res["correct"],
               f"{w}: a broken oracle comparison exits non-zero (exit {code})")

    expect(noop_keeps_decode(), "udf_sas_date: noop write keeps the date decode, count() prunes it")
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


def noop_keeps_decode() -> bool:
    code = f"""
import os, sys
sys.path[:0] = [{ROOT!r}, {HERE!r}]
import run
run.prepare_env()
from pyspark.sql import SparkSession
import datagen
import udacity_data_engineer_capstone_spark as engine
from udacity_data_engineer_capstone_spark.session import configure
engine.load_all()
d = datagen.ensure(os.path.join(run.WORK, "data"), f"sf0.001-v{{datagen.VERSION}}",
                   lambda p: datagen.write_tables(p, 0.001))
spark = configure(SparkSession.builder.master("local[2]")).getOrCreate()
df = engine.get_queries()["udf_sas_date"](spark, d)
df.write.format("noop").mode("overwrite").save()
full = df._jdf.queryExecution().executedPlan().toString()
cnt = df.groupBy().count()
cnt.collect()
pruned = cnt._jdf.queryExecution().executedPlan().toString()
spark.stop()
print("date_add" in full and "date_add" not in pruned)
"""
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return bool(lines) and lines[-1] == "True"


if __name__ == "__main__":
    sys.exit(main())
