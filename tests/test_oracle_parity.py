"""Run every registered query against its DuckDB oracle (driver-gate replica).

Parametrized over the registry, so each new operator gets parity coverage
for free the moment it registers an oracle.

r13 (suite budget — VERDICT r12 item 1): the suite's dominant block is
this file's ~950 parametrized gates, and the cost split is Spark-side
latency (fn() + collect of tiny results; measured 31.7 s Spark vs 1.5 s
DuckDB over 40 med queries), i.e. job/stage scheduling, not compute. A
small PREFETCH pool now runs the upcoming parametrized queries' compares
concurrently (guide §2.6 — independent jobs overlap; the same pattern as
the registry-wide plan audit), while each test still awaits ITS OWN
future, so pass/fail attribution, assertion messages, and the set of
checks are exactly what the serial form produced. compare() is
thread-compatible: each call builds its own DuckDB connection, memory
sinks/checkpoints are uuid-named, and the test session pins the same
shuffle-partition count the drains set (so the drains' conf save/restore
is a no-op).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

import udacity_data_engineer_capstone_spark as engine
from tests.oracle import compare

engine.load_all()

ORACLED = [name for name, spec in engine.QUERIES.items() if spec.oracle]
NO_ORACLE = [name for name, spec in engine.QUERIES.items() if not spec.oracle]

_PREFETCH = 8


class _PrefetchRunner:
    """Submit ``work(name)`` for the next ``_PREFETCH`` parametrized
    names whenever one is awaited; ``get`` re-raises that name's OWN
    exception, so a failing query fails exactly its own test."""

    def __init__(self, work, names):
        self._work = work
        self._names = list(names)
        self._idx = {n: i for i, n in enumerate(self._names)}
        self._pool = ThreadPoolExecutor(max_workers=_PREFETCH)
        self._futs = {}
        self._submitted = 0

    def get(self, name: str):
        i = self._idx.get(name)
        if i is None:
            # not in the selected window list (shouldn't happen): run inline
            return self._work(name)
        for j in range(i, min(i + 1 + _PREFETCH, len(self._names))):
            n = self._names[j]
            if n not in self._futs:
                self._futs[n] = self._pool.submit(self._work, n)
        return self._futs[name].result()

    def shutdown(self) -> None:
        # cancel compares not yet started and wait for running ones, so
        # no in-flight query runs on into the next module's session state
        self._pool.shutdown(wait=True, cancel_futures=True)


def _selected(fn_name: str, default: list[str]) -> list[str]:
    from tests.conftest import PARITY_SELECTION

    return PARITY_SELECTION.get(fn_name, default)


def _bound_compare(spark, sf_dir):
    from tests.conftest import bind_active_session

    def work(n):
        bind_active_session(spark)
        return compare(spark, n, sf_dir)

    return work


@pytest.fixture(scope="module")
def parity_small(spark, sf_dir):
    names = _selected("test_query_matches_oracle", ORACLED)
    r = _PrefetchRunner(_bound_compare(spark, sf_dir), names)
    yield r
    r.shutdown()


@pytest.fixture(scope="module")
def parity_med(spark):
    from tests.conftest import SF_DIR_MED

    names = _selected("test_query_matches_oracle_med", ORACLED)
    r = _PrefetchRunner(_bound_compare(spark, SF_DIR_MED), names)
    yield r
    r.shutdown()


def _run_no_oracle(spark, sf_dir, name):
    from tests.conftest import bind_active_session
    from tests.oracle import assert_no_decimal

    bind_active_session(spark)
    df = engine.QUERIES[name].fn(spark, sf_dir)
    assert_no_decimal(name, df)
    assert df.count() >= 0


@pytest.fixture(scope="module")
def runs_small(spark, sf_dir):
    names = _selected("test_query_runs", NO_ORACLE)
    r = _PrefetchRunner(lambda n: _run_no_oracle(spark, sf_dir, n), names)
    yield r
    r.shutdown()


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(parity_small, name):
    parity_small.get(name)


@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs(runs_small, name):
    runs_small.get(name)


# EVERY oracled query also runs at sf0.01 — the driver's gate scale:
# ties, empty samples, sketch edge cases, and decimal/int type drift
# only appear with more rows, and the driver rotates its sample, so any
# query may be the next one checked.
MED_SCALE = ORACLED


@pytest.mark.parametrize("name", MED_SCALE)
def test_query_matches_oracle_med(parity_med, name):
    parity_med.get(name)
