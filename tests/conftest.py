from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest

from udacity_data_engineer_capstone_spark.session import configure

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"

# Round-11 directive 7b: a single mid-suite JVM death used to poison
# every later test in the 20-minute monolithic session (round 10: 177
# ConnectionRefusedError cascades from one crash, all green on rerun).
# The spark fixture is a session-scoped SELF-HEALING PROXY: every
# attribute access resolves against a health-checked live session and
# transparently rebuilds the gateway when it is dead — one crash costs
# one test, not the rest of the run. Session scope keeps the fixture
# usable from module-scoped fixtures (crafted-dir builders etc.); the
# liveness probe is one local py4j roundtrip (~0.1 ms) per attribute
# access — noise against any real Spark action.


def _alive(s) -> bool:
    try:
        return not s.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _fresh_session():
    # clear the dead singletons so the builder launches a new JVM
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
    except Exception:
        pass
    # get_spark's session plus an explicit driver heap. With the JVM's
    # 1 GB default, test_overflow_audit's 3.2M-row spearman input ran out
    # of heap late in a full run (it passes alone).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    s = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("engine-tests")
        .config("spark.driver.memory", "2g")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    # r13 (suite budget — VERDICT r12 item 1): the gate fixtures are
    # ≤ 2 MB, so the profile's 32 shuffle partitions are pure per-stage
    # task overhead for ~1300 tiny actions. 8 partitions is a
    # TEST-SESSION sizing choice only (runtime-settable conf, product
    # defaults untouched); plan-shape assertions are partition-count
    # independent, and operators must stay partitioning-invariant —
    # the oracle-parity suite now exercises that at 8 instead of 32.
    s.conf.set("spark.sql.shuffle.partitions", "8")
    return s


class _SparkProxy:
    """Delegates every attribute to the current live SparkSession,
    rebuilding it if the JVM died since the last (rate-limited)
    liveness probe."""

    def __init__(self) -> None:
        self._s = None

    def _live(self):
        s = self._s
        if s is None or not _alive(s):
            if s is not None:
                try:
                    s.stop()
                except Exception:
                    pass
            s = _fresh_session()
            self._s = s
        return s

    def __getattr__(self, name):
        return getattr(self._live(), name)


@pytest.fixture(scope="session")
def spark():
    return _SparkProxy()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# r13: the oracle-parity prefetch runners (tests/test_oracle_parity.py)
# overlap the SELECTED parametrized queries only — under -k selection,
# prefetching the full registry would compute deselected queries.
# Populated after pytest applies its filters; maps test function name ->
# ordered list of selected `name` params.
PARITY_SELECTION: dict[str, list[str]] = {}


def bind_active_session(spark) -> None:
    """Make ``spark`` the JVM-side ACTIVE session for the CURRENT
    Python thread. In py4j pinned-thread mode every Python thread maps
    to its own JVM thread, whose active-session thread-local starts
    EMPTY — and Spark resolves Python data sources through the active
    session's dataSourceManager, so a `.save()`/`.start()` on a
    registered Python source from a bare worker thread fails with
    DATA_SOURCE_NOT_FOUND (measured deterministically;
    inheritable_thread_target does not carry this particular
    thread-local). Every test-side worker thread that runs queries
    calls this first."""
    try:
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:
        pass  # non-classic session: nothing to bind


@contextmanager
def spark_job_ids(spark):
    """Yield a list that, after the block, holds the ids of the Spark jobs
    the block launched from this thread (tagged through a fresh job group,
    read from ``statusTracker`` once the listener bus has drained)."""
    sc = spark.sparkContext
    group = f"tests-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def pytest_collection_modifyitems(config, items):
    sel: dict[str, list[str]] = {}
    for it in items:
        if "test_oracle_parity.py" not in it.nodeid:
            continue
        callspec = getattr(it, "callspec", None)
        if callspec and "name" in callspec.params:
            fn = getattr(it, "originalname", None) or it.name.split("[")[0]
            sel.setdefault(fn, []).append(callspec.params["name"])
    PARITY_SELECTION.clear()
    PARITY_SELECTION.update(sel)
