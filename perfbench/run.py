"""Benchmark entry point.

Usage, from the repository root::

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 10 --trace 0

Prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see ``BENCHMARK.json`` and ``perfbench/README.md``). Exits
non-zero when an output check fails, and without a result when the
engine package is not next to this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "udacity_data_engineer_capstone_spark"


def prepare_env() -> None:
    """Size Spark to this machine and keep every file the run writes
    inside the checkout."""
    os.makedirs(WORK, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = WORK
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="smallest tables and ETL input, for the self-test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG}/ not found next to {HERE}", file=sys.stderr)
        return 2
    prepare_env()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace),
                        ROOT, WORK, T_PROCESS, small=args.small)
    for err in res.pop("errors"):
        print(f"error: {err}", file=sys.stderr)
    labels = res.pop("labels")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w", encoding="utf-8") as fh:
        json.dump({"labels": labels, **res}, fh, indent=1)
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
