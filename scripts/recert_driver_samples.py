"""Driver-sample insurance (VERDICT r5 directive #5), widened to the
FULL REGISTRY in round 10 (VERDICT r9 directive #6: the suite already
proves every oracled query at the driver's gate scale, but the stamp
only cited the driver-sampled IDs — the certificate now covers the
never-sampled IDs explicitly).

Replays EVERY registered query through the local type-strict oracle
gate (tests/oracle.py — at least as strict as the driver's hash) at the
driver's own gate scale (sf0.01) — oracled queries value-compared,
rows-only queries executed and counted — and stamps the result into
RECERT.md with the driver-sampled subset (union of CORRECTNESS_r*.json
keys) called out separately.

Purpose: any future red driver row can be answered immediately with
same-scale local evidence from the same session family, instead of
re-deriving it by hand (as round 5 had to for the two stale r1/r2
rows).

Run:  python scripts/recert_driver_samples.py  [round_label]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# In place of the script's own directory, whose profile.py would shadow
# the standard library module pyspark imports.
sys.path[0] = REPO

SF_DIR = "/root/testdata/sf0.01"


def sampled_ids() -> set[str]:
    ids: set[str] = set()
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(p) as fh:
            ids.update(json.load(fh).keys())
    return ids


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("round_label", nargs="?", default="adhoc")
    label = ap.parse_args().round_label
    sampled = sampled_ids()

    import udacity_data_engineer_capstone_spark as engine
    from udacity_data_engineer_capstone_spark.session import get_spark
    from tests.oracle import compare

    engine.load_all()
    spark = get_spark("recert")
    spark.sparkContext.setLogLevel("ERROR")

    all_ids = sorted(engine.QUERIES)
    missing_sampled = sorted(sampled - set(all_ids))

    t0 = time.time()
    failures: list[tuple[str, str]] = []
    n_oracled = n_rows_only = 0
    for i, name in enumerate(all_ids, 1):
        try:
            if engine.QUERIES[name].oracle:
                compare(spark, name, SF_DIR)
                n_oracled += 1
            else:
                n = engine.QUERIES[name].fn(spark, SF_DIR).count()
                assert n >= 0
                n_rows_only += 1
        except Exception:
            failures.append((name, traceback.format_exc(limit=3)))
        print(f"[{i}/{len(all_ids)}] {name}: "
              f"{'FAIL' if failures and failures[-1][0] == name else 'ok'}",
              flush=True)
    elapsed = time.time() - t0

    failed_names = {n for n, _ in failures}
    sampled_green = len(sampled & set(all_ids) - failed_names)
    for name in missing_sampled:
        failures.append((name, "NOT REGISTERED"))

    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip()
    stamp_date = time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime())

    stamp = (
        f"## {label} — {stamp_date}\n\n"
        f"- commit: `{commit}`\n"
        f"- gate: tests/oracle.py type-strict compare at sf0.01 "
        f"(driver gate scale)\n"
        f"- FULL REGISTRY replayed: {len(all_ids)} queries "
        f"({n_oracled} oracle-compared, {n_rows_only} rows-only by "
        f"design)\n"
        f"- result: **{len(all_ids) - len(failed_names)}/{len(all_ids)} "
        f"green**, {elapsed:.0f}s\n"
        f"- driver-sampled subset (union of CORRECTNESS_r*.json, "
        f"{len(sampled)} IDs): **{sampled_green}/{len(sampled)} green**\n"
    )
    if failures:
        stamp += "- failures:\n" + "".join(
            f"  - `{n}`\n" for n, _ in failures
        )

    path = os.path.join(REPO, "RECERT.md")
    header = (
        "# RECERT — local re-certification at the driver's gate scale\n\n"
        "Each stamp (r10 onward): the FULL registry replayed through the "
        "local type-strict oracle gate at sf0.01 — oracled queries "
        "value-compared, rows-only queries executed — with the "
        "driver-sampled subset (union of CORRECTNESS_r*.json) reported "
        "separately.  Stamps before r10 replayed only the sampled "
        "subset.\n\n"
    )
    existing = ""
    if os.path.exists(path):
        with open(path) as fh:
            existing = fh.read()
        existing = existing.split("# RECERT", 1)[-1]
        existing = existing.split("\n\n", 2)[-1] if "\n\n" in existing else ""
    with open(path, "w") as fh:
        fh.write(header + stamp + "\n" + existing)

    for name, tb in failures:
        print(f"FAILED {name}\n{tb}", file=sys.stderr)
    print(f"RECERT {label}: {len(all_ids) - len(failed_names)}/"
          f"{len(all_ids)} green in {elapsed:.0f}s -> RECERT.md")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
