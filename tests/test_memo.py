"""The session-scoped memo behind the engine's one-time builds, and the
per-process scratch root its directories live under."""

from __future__ import annotations

import ast
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR, SF_DIR_MED, bind_active_session
from tests.oracle import _AGGHASH_DOUBLE_SCALE, _agghash_scalars_spark, canon_spark_type
import udacity_data_engineer_capstone_spark as engine
from udacity_data_engineer_capstone_spark import catalog, memo
from udacity_data_engineer_capstone_spark.memo import Memo
from udacity_data_engineer_capstone_spark.registry import QUERIES
from udacity_data_engineer_capstone_spark.sources import i94_fixtures, sas7bdat
from udacity_data_engineer_capstone_spark.streaming import events

engine.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _app(app_id: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_concurrent_callers_of_one_key_share_one_build():
    m = Memo()
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.2)
        return object()

    with ThreadPoolExecutor(8) as pool:
        got = list(pool.map(lambda _: m.get(_app(), "k", build), range(8)))
    assert len(builds) == 1
    assert all(v is got[0] for v in got)


def test_other_keys_do_not_wait_for_a_build():
    m = Memo()
    started, release = threading.Event(), threading.Event()

    def slow():
        started.set()
        release.wait(10)
        return "slow"

    t = threading.Thread(target=m.get, args=(_app(), "slow", slow))
    t.start()
    try:
        assert started.wait(10)
        assert m.get(_app(), "fast", lambda: "fast") == "fast"
    finally:
        release.set()
        t.join(10)


def test_keys_are_scoped_by_application():
    m = Memo()
    assert m.get(_app("a"), "k", lambda: 1) == 1
    assert m.get(_app("b"), "k", lambda: 2) == 2
    assert m.get(_app("a"), "k", lambda: 3) == 1


def test_raising_build_leaves_no_entry():
    m = Memo()

    def boom():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        m.get(_app(), "k", boom)
    assert m.get(_app(), "k", lambda: "rebuilt") == "rebuilt"


def test_nested_get_does_not_deadlock():
    outer, inner = Memo(), Memo()
    got = []

    def build_a():
        return ("a", outer.get(_app(), "b", build_b), inner.get(_app(), "c", lambda: "c"))

    def build_b():
        return "b"

    t = threading.Thread(target=lambda: got.append(outer.get(_app(), "a", build_a)))
    t.start()
    t.join(10)
    assert not t.is_alive(), "nested get deadlocked"
    assert got == [("a", "b", "c")]


def test_release_once_per_evicted_entry_and_clear_releases_all():
    released = []
    m = Memo(capacity=2, release=released.append)
    for k in "abc":
        m.get(_app(), k, lambda k=k: k)
    assert released == ["a"]  # the least recently used entry
    m.get(_app(), "b", lambda: "rebuilt")  # a hit: b becomes most recent
    m.get(_app(), "d", lambda: "d")
    assert released == ["a", "c"]
    m.clear()
    assert sorted(released) == ["a", "b", "c", "d"]
    m.clear()
    assert len(released) == 4


def test_release_errors_are_swallowed():
    def bad(_value):
        raise RuntimeError("release failed")

    m = Memo(capacity=1, release=bad)
    m.get(_app(), "a", lambda: "a")
    assert m.get(_app(), "b", lambda: "b") == "b"
    m.clear()


def test_invalid_entry_is_built_again(tmp_path):
    m = Memo(valid=os.path.isdir)
    first = str(tmp_path / "first")
    os.mkdir(first)
    assert m.get(_app(), "k", lambda: first) == first
    os.rmdir(first)
    second = str(tmp_path / "second")
    os.mkdir(second)
    assert m.get(_app(), "k", lambda: second) == second


def test_scratch_root_is_removed_only_by_its_creator():
    d = memo.scratch_dir("engine_t_")
    root = os.path.dirname(d)
    memo._remove_root(os.getpid() + 1, root)  # a forked child's exit
    assert os.path.isdir(d)


def test_builds_are_single_flight_across_threads(spark):
    """Eight threads asking for one cold build get one object or path:
    the adjacency, the events staging and the BFS layout are each built
    once."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _BFS_LAYOUTS,
        _GRAPHS,
        _bfs_bucketed_layout,
        _purchase_graph,
    )
    from udacity_data_engineer_capstone_spark.streaming.events import (
        _STAGED,
        stage_events_dir,
    )

    for m in (_GRAPHS, _BFS_LAYOUTS, _STAGED):
        m.clear()

    def run(build):
        def call(_):
            bind_active_session(spark)
            return build()

        with ThreadPoolExecutor(8) as pool:
            return list(pool.map(call, range(8)))

    graphs = run(lambda: _purchase_graph(spark, SF_DIR_MED))
    assert all(g is graphs[0] for g in graphs)
    assert len(set(run(lambda: stage_events_dir(spark, SF_DIR)))) == 1
    assert len(set(run(lambda: _bfs_bucketed_layout(spark, SF_DIR)))) == 1


_SHARED_BUILD_QUERIES = (
    "graph_pagerank",
    "graph_kcore",
    "graph_lpa_approx",
    "graph_bfs_multisource_bucketed",
    "stream_tumbling_counts",
    "stream_dedup",
    "stream_cdc_apply",
    "sim_ann_ivf",
)


def _clear_memos() -> None:
    from udacity_data_engineer_capstone_spark.operators import graph, similarity
    from udacity_data_engineer_capstone_spark.streaming import events

    for m in (
        graph._GRAPHS,
        graph._LPA_CAPPED,
        graph._BFS_LAYOUTS,
        events._STAGED,
        similarity._IVF_CENTROIDS,
    ):
        m.clear()


def _agghash(df) -> tuple:
    types = {f.name: canon_spark_type(f.dataType) for f in df.schema.fields}
    cols = sorted(df.columns)
    return _agghash_scalars_spark(
        df, cols, [types[c] for c in cols], _AGGHASH_DOUBLE_SCALE
    )


def test_concurrent_queries_over_shared_builds_match_serial(spark):
    """Eight threads on one session, from cleared memos, run queries
    that share the memoized builds (adjacency, LPA lists, BFS layout,
    staged stream sources, IVF centroids); each result hashes the same
    as its serial run from cleared memos."""
    _clear_memos()
    serial = {n: _agghash(QUERIES[n].fn(spark, SF_DIR)) for n in _SHARED_BUILD_QUERIES}
    _clear_memos()

    def run(name):
        bind_active_session(spark)
        return name, _agghash(QUERIES[name].fn(spark, SF_DIR))

    with ThreadPoolExecutor(8) as pool:
        concurrent = list(pool.map(run, _SHARED_BUILD_QUERIES))
    for name, got in concurrent:
        assert got == serial[name], name


_EXIT_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import udacity_data_engineer_capstone_spark as engine
engine.load_all()
for name in ("graph_bfs_multisource_bucketed", "stream_tumbling_counts",
             "stream_dedup", "snk_csv"):
    engine.QUERIES[name].fn(spark, {sf_dir!r}).count()
print("RAN")
"""

# the one on-disk cache that outlives the process by design
_CROSS_PROCESS = ("engine_stage_",)


def test_engine_temp_dirs_die_with_their_process(tmp_path):
    """A process that stages streams, writes the BFS layout and writes a
    sink leaves no per-process ``engine_*`` directory in its TMPDIR."""
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT.format(repo=REPO, sf_dir=SF_DIR)],
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RAN" in out.stdout
    uid = os.getuid()
    left = [
        e
        for e in os.listdir(tmp_path)
        if e.startswith("engine_")
        and not any(e.startswith(f"{p}{uid}") for p in _CROSS_PROCESS)
    ]
    assert left == [], left


_KILLED_SCRIPT = """
import os, signal, sys
sys.path.insert(0, {repo!r})
from udacity_data_engineer_capstone_spark.memo import scratch_dir
with open(os.path.join(scratch_dir("engine_t_"), "staged"), "w") as fh:
    fh.write("left behind")
os.kill(os.getpid(), signal.SIGKILL)
"""


def test_scratch_roots_of_killed_processes_are_removed(tmp_path, monkeypatch):
    """A process killed before its exit handler runs leaves its scratch
    root; the next process to create a root in that TMPDIR removes it."""
    out = subprocess.run(
        [sys.executable, "-c", _KILLED_SCRIPT.format(repo=REPO)],
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        timeout=120,
    )
    assert out.returncode == -signal.SIGKILL, out.stderr[-2000:]
    (dead,) = [e for e in os.listdir(tmp_path) if e.startswith("engine_proc_")]
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(memo, "_ROOT", None)
    memo.scratch_dir("engine_t_")
    assert not os.path.exists(tmp_path / dead)


def test_only_memo_and_fixtures_use_tempfile():
    """Engine temp paths come from ``memo.scratch_dir`` or
    ``memo.stage_once``; the i94 fixtures keep their own fixed path
    because oracle SQL bakes it in at import."""
    pkg = os.path.dirname(engine.__file__)
    users = set()
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Import)
                    and any(a.name == "tempfile" for a in node.names)
                ) or (isinstance(node, ast.ImportFrom) and node.module == "tempfile"):
                    users.add(os.path.relpath(path, pkg))
    assert users == {"memo.py", os.path.join("sources", "i94_fixtures.py")}


_STAGES = {  # a stage that returns a file path: (call, sf dir, source table)
    "sorted_log": (lambda spark: events._stage_sorted_log(spark, SF_DIR), SF_DIR, "events"),
    "layout_rewrite": (
        lambda spark: catalog._normalized_path(SF_DIR_MED, "lineitem"),
        SF_DIR_MED,
        "lineitem",
    ),
}


@pytest.mark.parametrize("kind", sorted(_STAGES))
def test_artifact_under_an_open_root_is_never_returned(spark, tmp_path, monkeypatch, kind):
    """A stage root that other users can write is not trusted: after the
    root that holds a built artifact is opened to 0o755 and the artifact
    replaced, the next call builds elsewhere instead of serving it."""
    stage, sf_dir, table = _STAGES[kind]
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = stage(spark)
    assert first.startswith(f"{tmp_path}{os.sep}")
    top = os.path.join(tmp_path, os.path.relpath(first, tmp_path).split(os.sep)[0])
    os.chmod(top, 0o755)
    with open(first, "wb") as fh:
        fh.write(b"planted")
    again = stage(spark)
    assert not again.startswith(top + os.sep)
    rows = pq.read_metadata(catalog.table_path(sf_dir, table)).num_rows
    assert pq.read_metadata(again).num_rows == rows


def test_raising_build_leaves_nothing_and_the_next_call_builds(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def boom(*_args):
        raise RuntimeError("build failed")

    with monkeypatch.context() as m:
        m.setattr(events, "load_table", boom)
        with pytest.raises(RuntimeError, match="build failed"):
            events._stage_sorted_log(spark, SF_DIR)
    left = [
        os.path.relpath(os.path.join(d, n), tmp_path)
        for d, dirs, files in os.walk(tmp_path)
        for n in dirs + files
    ]
    assert left in ([], [f"engine_stage_{os.getuid()}"]), left
    path = events._stage_sorted_log(spark, SF_DIR)
    assert pq.read_metadata(path).num_rows == pq.read_metadata(
        catalog.table_path(SF_DIR, "events")
    ).num_rows


def test_publish_sweeps_stale_and_orphaned_stages(spark, tmp_path, monkeypatch):
    """Publishing a stage removes its source's stage of older contents,
    the stage of a source that was deleted, and the unpublished build of
    a process that died."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        d.mkdir()
        shutil.copy(catalog.table_path(SF_DIR, "events"), d)
    old = events._stage_sorted_log(spark, str(a))
    orphan = events._stage_sorted_log(spark, str(b))
    os.remove(catalog.table_path(str(b), "events"))
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, timeout=60).stdout.strip()
    build = os.path.join(os.path.dirname(os.path.dirname(old)), f".{dead}_build")
    os.mkdir(build)
    src = catalog.table_path(str(a), "events")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = events._stage_sorted_log(spark, str(a))
    assert os.path.exists(new) and new != old
    assert not os.path.exists(old)
    assert not os.path.exists(orphan)
    assert not os.path.exists(build)


def test_a_long_source_path_stages_and_is_reused(tmp_path, monkeypatch):
    """A source path far longer than a file name still stages: the
    stage name keeps a bounded head of it plus a hash."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    src = tmp_path / "d" / ("n" * 200) / ("m" * 60)
    src.mkdir(parents=True)
    assert len(str(src)) >= 250
    builds = []

    def build(path):
        builds.append(path)
        os.mkdir(path)

    first = memo.stage_once("long", [str(src)], build)
    assert memo.stage_once("long", [str(src)], build) == first
    assert len(builds) == 1
    assert len(os.path.basename(first)) < 150


def test_concurrent_stagings_of_one_input_share_one_stage(spark, tmp_path, monkeypatch):
    """Two threads that parse one new SAS7BDAT file at the same time both
    read the one published stage."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    path = str(tmp_path / "race.sas7bdat")
    sas7bdat.write_sas7bdat(path, [("k", "num", 8)], [(float(i),) for i in range(50)])
    both = threading.Barrier(2, timeout=60)
    peek = sas7bdat._peek_spark_schema

    def peek_together(p):
        both.wait()  # both builds are under way before either writes
        return peek(p)

    monkeypatch.setattr(sas7bdat, "_peek_spark_schema", peek_together)

    def read(_):
        bind_active_session(spark)
        df = sas7bdat.read_sas7bdat(spark, path)
        return sorted(df.inputFiles()), df.count()

    with ThreadPoolExecutor(2) as pool:
        (files_a, n_a), (files_b, n_b) = pool.map(read, range(2))
    assert n_a == n_b == 50
    assert files_a == files_b
    (stage,) = {os.path.dirname(urlparse(f).path) for f in files_a}
    assert os.listdir(os.path.dirname(stage)) == [os.path.basename(stage)]


def test_i94_fixtures_refuse_an_open_stable_dir(tmp_path, monkeypatch):
    """The fixtures' fixed path is predictable in the shared temp
    directory, so one that other users can write raises."""
    planted = tmp_path / "stable"
    planted.mkdir()
    os.chmod(planted, 0o755)
    monkeypatch.setattr(i94_fixtures, "STABLE_DIR", str(planted))
    with pytest.raises(PermissionError):
        i94_fixtures.generate_stable()
