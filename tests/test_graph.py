"""Targeted properties for the graph operators beyond the oracle gate.

The parity suite already hash-checks ``graph_pagerank`` and
``dedup_cluster_cc_star`` against DuckDB; these tests pin the properties
the oracle can't see — round complexity on adversarially deep graphs and
rank-mass conservation.
"""

from __future__ import annotations

import warnings
from types import SimpleNamespace

from pyspark import StorageLevel
from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.operators.clustering import (
    STAR_MAX_ROUNDS,
    star_components,
)
from udacity_data_engineer_capstone_spark.operators.graph import (
    ITERS,
    SCALE,
    graph_pagerank,
)
from udacity_data_engineer_capstone_spark.session import sized_partitions

from tests.conftest import SF_DIR, SF_DIR_MED, spark_job_ids


def test_star_cc_deep_chain_logarithmic(spark):
    """A 64-node path graph has diameter 63 — min-label propagation
    would need 63 rounds (far beyond its cap), while the star algorithm
    must collapse it to one star rooted at 0 well inside
    STAR_MAX_ROUNDS. This is the property that makes it the deep-graph
    escape hatch."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warns -> fail
        labels, rounds = star_components(pairs)
        rows = {r["u"]: r["label"] for r in labels.collect()}
    assert rounds < STAR_MAX_ROUNDS, "chain did not converge early"
    assert rounds <= 8, f"expected O(log n) rounds on a 64-chain, got {rounds}"
    assert rows == {i: 0 for i in range(1, n)}


def test_star_cc_mixed_components(spark):
    """Two components + isolated-by-absence nodes: labels must map every
    non-root to its component minimum and nothing else."""
    edges = [(10, 20), (20, 30), (5, 7), (7, 5), (30, 10)]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    labels, _ = star_components(pairs)
    rows = {r["u"]: r["label"] for r in labels.collect()}
    assert rows == {20: 10, 30: 10, 7: 5}


def test_pagerank_mass_conserved(spark):
    """Integer PageRank redistributes, never creates, rank mass: the
    total can only drift below N*SCALE by the per-node truncation of
    `r DIV deg` and the damping division — bounded by (deg_total + N)
    micro-units per iteration, i.e. a vanishing fraction of N*SCALE."""
    ranks = graph_pagerank(spark, SF_DIR)
    agg = ranks.agg(
        F.count(F.lit(1)).alias("n"), F.sum("pr_rank").alias("total")
    ).collect()[0]
    ideal = agg["n"] * SCALE
    assert agg["total"] <= ideal
    # truncation loss: < 1% of total mass even after all iterations
    assert agg["total"] >= ideal * 0.99


def test_pagerank_suppliers_concentrate_rank(spark):
    """Suppliers (odd node ids) are the high-degree side of the
    bipartite purchase graph — their mean rank must exceed SCALE (mass
    flows toward hubs), and every rank is positive."""
    ranks = graph_pagerank(spark, SF_DIR)
    stats = (
        ranks.groupBy((F.col("node_id") % 2).alias("side"))
        .agg(F.avg("pr_rank").alias("mean_rank"), F.min("pr_rank").alias("min_rank"))
        .collect()
    )
    by_side = {int(r["side"]): r for r in stats}
    assert by_side[1]["mean_rank"] > SCALE  # suppliers are hubs
    assert all(r["min_rank"] > 0 for r in stats)
    assert ITERS >= 4  # enough hops for mass to traverse the bipartite graph


def test_adjacency_build_shared_across_graph_family(spark):
    """graph_pagerank and graph_pagerank_personalized (and BFS/k-core/
    LPA/assortativity) must reuse ONE session-cached adjacency build —
    the r4 bench showed the pagerank pair paying the identical
    edge-sized orders⋈lineitem DISTINCT twice (~11 s of a 103 s
    bench)."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _GRAPH_CACHE,
        _purchase_graph,
        graph_pagerank_personalized,
    )

    g1 = _purchase_graph(spark, SF_DIR)
    g2 = _purchase_graph(spark, SF_DIR)
    assert g1 is g2  # second call is a dict hit, no rebuild
    n_entries = len(_GRAPH_CACHE)
    graph_pagerank(spark, SF_DIR).collect()
    graph_pagerank_personalized(spark, SF_DIR).collect()
    assert len(_GRAPH_CACHE) == n_entries  # both queries hit the cache


def _sizing_session(parallelism: int, shuffle: int, min_part: str = "1048576b"):
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": min_part,
    }
    return SimpleNamespace(
        conf=SimpleNamespace(get=conf.__getitem__),
        sparkContext=SimpleNamespace(defaultParallelism=parallelism),
    )


def test_sized_partitions_clamps():
    """One partition per minPartitionSize of data, floored at 1 and
    capped by defaultParallelism and by spark.sql.shuffle.partitions."""
    mb = 1 << 20
    s = _sizing_session(parallelism=4, shuffle=8)
    assert sized_partitions(s, 0) == 1
    assert sized_partitions(s, 2900 * 24) == 1  # an sf0.001 adjacency
    assert sized_partitions(s, 3 * mb) == 3
    assert sized_partitions(s, 3 * mb + 1) == 4
    assert sized_partitions(s, 100 * mb) == 4  # defaultParallelism cap
    assert sized_partitions(_sizing_session(32, 8), 100 * mb) == 8  # shuffle cap
    assert sized_partitions(_sizing_session(32, 32), 27 * mb) == 27
    assert sized_partitions(_sizing_session(32, 32, "64k"), mb) == 16
    assert sized_partitions(_sizing_session(32, 32, "1MB"), 2 * mb) == 2


def test_adjacency_partitions_sized_to_data(spark):
    """At sf0.001 (about 2,900 directed edges, ~70 KB) every frame the
    graph family iterates over is built in one partition, whatever the
    session's shuffle partition count. At sf0.01 (~2.2 MB, three 1 MB
    partitions by the sizing rule) the adjacency keeps
    spark.sql.shuffle.partitions instead, so the rounds' joins can reuse
    its partitioning."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _purchase_graph,
    )

    g = _purchase_graph(spark, SF_DIR)
    for name in ("bidir", "deg", "adj", "nodes"):
        assert g[name].rdd.getNumPartitions() == 1, name
    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if spark.sparkContext.defaultParallelism == 1:
        want = 1  # one core: the rule itself gives one partition
    med = _purchase_graph(spark, SF_DIR_MED)
    for name in ("bidir", "adj"):
        assert med[name].rdd.getNumPartitions() == want, name


def test_invalidate_graph_cache_unpersists_every_build_frame(spark):
    """invalidate_graph_cache() releases every frame the adjacency build
    persisted, the edge frame its count pass reads included: no RDD the
    build cached stays registered as persistent."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _purchase_graph,
        invalidate_graph_cache,
    )

    invalidate_graph_cache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    g = _purchase_graph(spark, SF_DIR)
    for df in g.values():
        df.count()
    built = set(jsc.getPersistentRDDs().keys()) - before
    assert len(built) >= len(g)
    invalidate_graph_cache()
    assert built.isdisjoint(jsc.getPersistentRDDs().keys())
    for name, df in g.items():
        assert df.storageLevel == StorageLevel.NONE, name


def test_iterative_fixpoint_exit_fires_on_converging_state(spark):
    """The exact-fixpoint signature probe: identical consecutive states
    yield identical signatures (exit arms), any change flips them."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _state_signature,
    )

    a = spark.createDataFrame([(1, 10), (2, 20)], "node long, r long")
    b = spark.createDataFrame([(2, 20), (1, 10)], "node long, r long")
    c = spark.createDataFrame([(1, 10), (2, 21)], "node long, r long")
    sa = _state_signature(a, ("node", "r"))
    assert sa == _state_signature(b, ("node", "r"))  # order-insensitive
    assert sa != _state_signature(c, ("node", "r"))


def test_chunked_rounds_match_one_job_per_round_loop(spark):
    """_chunked_fixpoint_rounds: K rounds chained per job must produce
    the bit-identical state a one-job-per-round loop produces, for a
    non-converging step (doubling) across chunk boundaries."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _chunked_fixpoint_rounds,
    )

    init = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 5)], "node long, r long"
    )

    def step(df):
        return df.select("node", (F.col("r") * 2).alias("r"))

    out = _chunked_fixpoint_rounds(init, step, ("node", "r"), 5, chunk=2)
    got = {r["node"]: r["r"] for r in out.collect()}
    assert got == {1: 32, 2: 96, 3: 160}  # 5 doublings, all executed


def test_chunked_rounds_early_exit_on_fixpoint(spark):
    """A step that reaches its fixpoint inside the first chunk must
    stop there: the observe()-riding per-round signatures detect the
    consecutive-equal pair, and no further chunk runs (a counting step
    function would otherwise be called for rounds 4..99)."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _chunked_fixpoint_rounds,
    )

    init = spark.createDataFrame([(1, 100), (2, 7)], "node long, r long")
    calls = []

    def step(df):
        calls.append(1)  # plan-construction count == rounds scheduled
        return df.select("node", F.greatest(F.col("r"), F.lit(64)).alias("r"))

    out = _chunked_fixpoint_rounds(init, step, ("node", "r"), 100, chunk=3)
    got = {r["node"]: r["r"] for r in out.collect()}
    assert got == {1: 100, 2: 64}  # fixpoint after round 1
    # round 1 changes state, round 2 equals round 1 → exit after the
    # FIRST chunk: exactly 3 step calls (the chunk), never 100
    assert len(calls) == 3


def test_chunked_rounds_last_chunk_stays_lazy(spark):
    """The chunk that reaches ``iters`` is returned unmaterialized: with
    ``iters <= chunk`` (and with the default, all rounds in one chunk)
    building the rounds launches no Spark job, and the caller's action
    still sees every round."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _chunked_fixpoint_rounds,
    )

    init = spark.createDataFrame(
        [(1, 1), (2, 3), (3, 5)], "node long, r long"
    )

    def step(df):
        return df.select("node", (F.col("r") * 2).alias("r"))

    for iters, chunk in ((3, 3), (2, 5), (5, None)):
        with spark_job_ids(spark) as ids:
            out = _chunked_fixpoint_rounds(
                init, step, ("node", "r"), iters, chunk
            )
        assert ids == [], (iters, chunk, ids)
        got = {r["node"]: r["r"] for r in out.collect()}
        assert got == {n: r << iters for n, r in ((1, 1), (2, 3), (3, 5))}


def test_scc_functional_semantics(spark, sf_dir):
    """graph_scc_functional invariants, checked against a driver-side
    replay of the successor function: (a) the on_cycle set is exactly
    the nodes reachable from themselves; (b) cycle_id is the MIN node
    id of the cycle the node drains into; (c) output is one row per
    customer node."""
    import udacity_data_engineer_capstone_spark as engine
    from udacity_data_engineer_capstone_spark.catalog import load_table
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _SCC_ADD,
        _SCC_MULT,
    )

    keys = [
        r[0]
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .collect()
    ]
    n = len(keys)
    succ = {u: (u * _SCC_MULT + _SCC_ADD) % n for u in keys}

    # driver-side truth: walk n steps to land on the cycle, then trace it
    def cycle_of(u):
        v = u
        for _ in range(n):
            v = succ[v]
        cyc = {v}
        w = succ[v]
        while w != v:
            cyc.add(w)
            w = succ[w]
        return cyc

    rows = engine.QUERIES["graph_scc_functional"].fn(spark, sf_dir).collect()
    assert len(rows) == n
    got = {r["node_id"]: (r["on_cycle"], r["cycle_id"]) for r in rows}
    all_cycle_nodes = set()
    seen = set()
    for u in keys:
        if u in seen:
            continue
        cyc = cycle_of(u)
        all_cycle_nodes |= cyc
        seen |= cyc
    for u in keys:
        on, cid = got[u]
        assert on == (u in all_cycle_nodes), f"on_cycle wrong for {u}"
        assert cid == min(cycle_of(u)), f"cycle_id wrong for {u}"


def test_spatial_knn_fallback_path_exact(spark, sf_dir):
    """Force every query onto the exact-fallback path (certificate
    unsatisfiable at k > block population via a huge k is impossible —
    instead shrink the grid so blocks are tiny) and check the result
    still equals brute force: the fallback is not dead code and is
    itself exact."""
    import udacity_data_engineer_capstone_spark.operators.spatial as sp

    # monkeypatch-free: call the internals with a degenerate geometry
    # by temporarily rebinding the module constants — tiny cells AND a
    # k larger than any 5x5 block population, so certificates CANNOT
    # hold (count < k) and every query provably takes the fallback
    orig_t, orig_k = sp._KNN_TARGET_PER_CELL, sp._KNN_K
    sp._KNN_TARGET_PER_CELL = 1
    sp._KNN_K = 40
    try:
        k = sp._KNN_K
        df = sp.spatial_knn_join.__wrapped__(spark, sf_dir) if hasattr(
            sp.spatial_knn_join, "__wrapped__"
        ) else sp.spatial_knn_join(spark, sf_dir)
        got = {
            (r["a_id"], r["knn_rank"]): r["b_id"] for r in df.collect()
        }
        # the point of this test is that the FALLBACK ran — assert the
        # unproven set is non-empty (round-8 finding: with the old
        # target-only degradation, ZERO queries fell back at this scale
        # and the 'fallback is not dead code' guarantee was vacuous)
        n_unproven = sp._LAST_PARTS["unproven"].count()
        assert n_unproven > 0, "no query took the fallback path"
    finally:
        sp._KNN_TARGET_PER_CELL = orig_t
        sp._KNN_K = orig_k
    # brute-force truth on the driver
    from udacity_data_engineer_capstone_spark.catalog import load_table

    keys = [
        r[0]
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .collect()
    ]
    span, mx, my = sp._SPAN, sp._MULT_X, sp._MULT_Y
    pts = {
        u: (
            ((u * mx) % 2147483647) ** 2 % span,
            ((u * my + 7919) % 2147483647) ** 2 % span,
        )
        for u in keys
    }
    for q in [u for u in keys if u % sp._KNN_QMOD == 0]:
        qx, qy = pts[q]
        cand = sorted(
            (
                ((qx - x) ** 2 + (qy - y) ** 2, b)
                for b, (x, y) in pts.items()
                if b != q
            )
        )[:k]  # the PATCHED k the frame was built with, not the default
        for rank, (_, b) in enumerate(cand, start=1):
            assert got[(q, rank)] == b, f"query {q} rank {rank}"
