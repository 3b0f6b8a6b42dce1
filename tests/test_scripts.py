"""The command-line tools in ``scripts/``: each answers ``--help`` before
it imports pyspark, none is named for the round that made it, none reads
an undocumented ``SPARK_GRAFT_*`` setting, and the test-data scale-up
writes what it says."""

from __future__ import annotations

import glob
import importlib.util
import os
import re
import subprocess
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
TOOLS = sorted(glob.glob(os.path.join(SCRIPTS, "*.py")))
KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"], "documents": ["doc_id"], "embeddings": ["vec_id"],
}

# Runs a script as __main__ with --help, then reports whether pyspark
# was imported: a JVM can only start after it is.
_HELP = """
import runpy, sys
path = sys.argv[1]
sys.argv = [path, "--help"]
try:
    runpy.run_path(path, run_name="__main__")
except SystemExit as e:
    code = e.code or 0
else:
    code = 0
print("pyspark imported" if "pyspark" in sys.modules else "no pyspark")
sys.exit(code)
"""


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_help_exits_before_pyspark(path):
    proc = subprocess.run(
        [sys.executable, "-c", _HELP, path],
        capture_output=True, text=True, timeout=10,
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    assert "usage:" in proc.stdout
    assert proc.stdout.strip().endswith("no pyspark")


def test_no_round_or_version_stamps():
    assert TOOLS
    stamped = [os.path.basename(p) for p in TOOLS
               if re.search(r"_[rv]\d+", os.path.basename(p))]
    assert not stamped


def test_scripts_use_only_documented_settings():
    with open(os.path.join(os.path.dirname(SCRIPTS), "README.md"), encoding="utf-8") as fh:
        section = fh.read().split("\n## Settings\n", 1)[1].split("\n## ", 1)[0]
    documented = set(re.findall(r"^\| `(SPARK_GRAFT_[A-Z0-9_]+)`", section, re.M))
    for path in TOOLS:
        with open(path, encoding="utf-8") as fh:
            used = set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", fh.read()))
        assert used <= documented, (os.path.basename(path), used - documented)


def test_scale_up_doubles_rows_with_distinct_keys(spark, sf_dir, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "scale_up_testdata", os.path.join(SCRIPTS, "scale_up_testdata.py"))
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    src, out = sf_dir, str(tmp_path / "x2")
    rows = tool.scale_up(spark, src, out, factor=2, min_files=2)
    for t, cols in KEYS.items():
        factor = 1 if t in tool.FIXED else 2
        before = spark.read.parquet(f"{src}/{t}.parquet")
        after = spark.read.parquet(f"{out}/{t}.parquet")
        assert rows[t] == after.count() == factor * before.count(), t
        # replicas share no key: each source key value appears once per replica
        n_keys = before.select(*cols).distinct().count()
        assert after.select(*cols).distinct().count() == factor * n_keys, t
