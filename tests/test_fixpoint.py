"""The convergence driver (``operators/fixpoint.py``) and the job budget
of the loops that use it.

``converge`` runs one probe action per round and stops at the first
probe equal to the previous one; at its round cap it raises unless the
caller's contract is capped by design. Fixed-round loops build one lazy
plan. The budget pins each iterative query's warm job count (plan build
plus a noop-write action, sf0.001, 8 shuffle partitions) at the count
measured before the loops moved onto the driver, so no loop launches
more jobs than it did.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import udacity_data_engineer_capstone_spark as engine
from udacity_data_engineer_capstone_spark.operators import clustering
from udacity_data_engineer_capstone_spark.operators.fixpoint import converge

from tests.conftest import SF_DIR, spark_job_ids

engine.load_all()


def _floor64(spark):
    init = spark.createDataFrame([(1, 100), (2, 7)], "node long, r long")
    calls = []

    def step(df):
        calls.append(1)
        return df.select("node", F.greatest(F.col("r"), F.lit(64)).alias("r"))

    def probe(df):
        return sorted(map(tuple, df.collect()))

    return init, step, probe, calls


def test_converge_stops_at_first_equal_probe_one_job_per_round(spark):
    init, step, probe, calls = _floor64(spark)
    with spark_job_ids(spark) as ids:
        out, rounds, last = converge(init, step, probe, 10, name="floor")
    # round 1 changes the state, round 2 repeats it: stop after round 2
    assert rounds == 2 and len(calls) == 2
    assert last == [(1, 100), (2, 64)]
    assert len(ids) == rounds  # the probe is each round's one job
    assert sorted(map(tuple, out.collect())) == last


def test_converge_raises_at_cap(spark):
    init, step, probe, _ = _floor64(spark)
    with pytest.raises(RuntimeError, match="floor did not converge in 1 rounds"):
        converge(init, step, probe, 1, name="floor")


def test_converge_capped_ok_returns_at_cap(spark):
    init = spark.createDataFrame([(1, 1)], "node long, r long")

    def double(df):
        return df.select("node", (F.col("r") * 2).alias("r"))

    out, rounds, last = converge(
        init, double, lambda df: df.first()["r"], 3, name="x", capped_ok=True
    )
    assert (rounds, last, out.first()["r"]) == (3, 8, 8)


def test_star_components_raises_at_cap(spark, monkeypatch):
    """A 3-node chain needs two star rounds (one to rewire, one to see
    no change); capped at one, the loop raises instead of returning
    non-fixpoint labels."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a_id long, b_id long")
    monkeypatch.setattr(clustering, "STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="star_components did not converge"):
        clustering.star_components(pairs)


@pytest.mark.parametrize(
    "name",
    ["graph_pagerank", "graph_pagerank_personalized", "graph_label_propagation"],
)
def test_fixed_round_query_builds_without_jobs(spark, name):
    """A fixed-round loop chains its rounds into one lazy plan: building
    it launches no Spark job; the caller's action runs every round."""
    fn = engine.QUERIES[name].fn
    fn(spark, SF_DIR).count()  # warm the session-shared adjacency
    with spark_job_ids(spark) as ids:
        fn(spark, SF_DIR)
    assert ids == []


# warm build + action jobs per query before the loops moved onto the
# driver (sf0.001, local[4], 8 shuffle partitions); graph_pagerank's is
# its one noop write since its small-graph rounds run on the driver
_JOB_BUDGET = {
    "graph_pagerank": 0 + 1,
    "graph_pagerank_personalized": 0 + 3,
    "graph_label_propagation": 0 + 3,
    "graph_kcore": 10 + 2,
    "graph_bfs_levels": 24 + 1,
    "graph_bfs_multisource": 24 + 2,
    "graph_bfs_multisource_bucketed": 28 + 2,
    "graph_hits": 19 + 1,
    "graph_hits_topk_fixed": 51 + 1,
    "graph_hits_approx": 41 + 1,
    "graph_pagerank_approx": 8 + 1,
    "graph_lpa_approx": 10 + 3,
    "graph_scc_functional": 22 + 6,
    "dedup_cluster_cc": 24 + 1,
    "dedup_cluster_cc_star": 28 + 5,
}


@pytest.mark.parametrize("name", sorted(_JOB_BUDGET))
def test_loop_job_budget(spark, name):
    fn = engine.QUERIES[name].fn

    def write(df):
        df.write.format("noop").mode("overwrite").save()

    write(fn(spark, SF_DIR))  # warm: session caches, layouts, JIT
    with spark_job_ids(spark) as build:
        df = fn(spark, SF_DIR)
    with spark_job_ids(spark) as action:
        write(df)
    assert len(build) + len(action) <= _JOB_BUDGET[name], (build, action)
