"""Targeted properties for the graph operators beyond the oracle gate.

The parity suite already hash-checks ``graph_pagerank`` and
``dedup_cluster_cc_star`` against DuckDB; these tests pin the properties
the oracle can't see — round complexity on adversarially deep graphs and
rank-mass conservation.
"""

from __future__ import annotations

from collections import Counter
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame
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
    labels, rounds = star_components(pairs)  # raises if not converged
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
        _GRAPHS,
        _purchase_graph,
        graph_pagerank_personalized,
    )

    g1 = _purchase_graph(spark, SF_DIR)
    g2 = _purchase_graph(spark, SF_DIR)
    assert g1 is g2  # second call is a memo hit, no rebuild
    n_entries = len(_GRAPHS._entries)
    graph_pagerank(spark, SF_DIR).collect()
    graph_pagerank_personalized(spark, SF_DIR).collect()
    assert len(_GRAPHS._entries) == n_entries  # both queries hit the memo


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


def test_adjacency_held_on_driver_by_bytes_not_cores():
    """The adjacency is held as a driver-local relation when its size is
    at most one minPartitionSize, whatever the core count: a one-core
    session, where the sizing rule gives one partition for any size,
    still persists a large graph."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _adjacency_layout,
    )

    small, large = 2900 * 24, 3 << 20  # sf0.001 and a ~3 MB graph
    for cores in (1, 4, 32):
        s = _sizing_session(parallelism=cores, shuffle=8)
        assert _adjacency_layout(s, small) == (True, 1), cores
        want = 1 if cores == 1 else 8  # sized_partitions, then shuffle count
        assert _adjacency_layout(s, large) == (False, want), cores
    # the threshold is the session's minPartitionSize
    assert _adjacency_layout(_sizing_session(4, 8, "64k"), small) == (False, 8)


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
    """A small graph's build leaves no persistent RDD behind: its entry
    frames are driver-local relations built on the driver with no
    persisted frame. For a persisted graph (sf0.01), clearing the
    adjacency memo releases every frame the build persisted, the edge
    frame included: no RDD the build cached stays registered as
    persistent."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _GRAPHS,
        _purchase_graph,
    )

    def frames(entry):
        return {k: v for k, v in entry.items() if isinstance(v, DataFrame)}

    _GRAPHS.clear()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    small = _purchase_graph(spark, SF_DIR)
    for df in frames(small).values():
        df.count()
    assert set(jsc.getPersistentRDDs().keys()) == before
    g = frames(_purchase_graph(spark, SF_DIR_MED))
    for df in g.values():
        df.count()
    built = set(jsc.getPersistentRDDs().keys()) - before
    assert len(built) >= len(g)
    _GRAPHS.clear()
    assert built.isdisjoint(jsc.getPersistentRDDs().keys())
    for name, df in g.items():
        assert df.storageLevel == StorageLevel.NONE, name


def test_lazy_pagerank_survives_graph_cache_invalidation(spark):
    """A graph_pagerank frame built before the adjacency memo is cleared
    and evaluated after it returns the same rows: the released entry's
    driver-local relations carry their rows in the plan."""
    from udacity_data_engineer_capstone_spark.operators.graph import _GRAPHS

    lazy = graph_pagerank(spark, SF_DIR)
    want = sorted(graph_pagerank(spark, SF_DIR).collect())
    _GRAPHS.clear()
    assert sorted(lazy.collect()) == want


def _spark_rounds(adj, rounds):
    """PageRank's Spark rounds (:func:`_pagerank_step`) over ``adj``."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _pagerank_step,
    )

    step = _pagerank_step(adj)
    ranks = adj.select(F.col("s").alias("node"), F.lit(SCALE).cast("long").alias("r"))
    ranks = ranks.distinct()
    for _ in range(rounds):
        ranks = step(ranks)
    return sorted(map(tuple, ranks.collect()))


def test_pagerank_kernel_equals_spark_rounds_on_small_graph(spark, monkeypatch):
    """At sf0.001 the driver kernel returns exactly the rows the Spark
    rounds return over the same graph held persisted (the layout forced
    through ``_adjacency_layout``). The local entry's arrays are
    read-only."""
    from udacity_data_engineer_capstone_spark.operators import graph

    def persisted(s, nbytes):
        return False, int(s.conf.get("spark.sql.shuffle.partitions"))

    graph._GRAPHS.clear()
    monkeypatch.setattr(graph, "_adjacency_layout", persisted)
    assert "adj_arrays" not in graph._purchase_graph(spark, SF_DIR)
    want = graph_pagerank(spark, SF_DIR)
    want_rows = sorted(map(tuple, want.collect()))
    graph._GRAPHS.clear()
    monkeypatch.undo()

    arrays = graph._purchase_graph(spark, SF_DIR)["adj_arrays"]
    got = graph_pagerank(spark, SF_DIR)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == want_rows
    assert len(want_rows) > 100
    for a in arrays:
        assert a.dtype == np.int64
        with pytest.raises(ValueError):
            a[0] = 0


def test_pagerank_kernel_drops_nodes_that_stop_receiving_mass(spark):
    """A hand-built asymmetric graph: node 4 has no in-edge, so it is
    reached by no round; node 1's only in-edge is from 4, so 1 is
    reached in round 1 and by no later round, and its out-edges stop
    contributing from round 3; sink 6 is fed only by 5, which no round
    reaches. Each round the kernel's (node, r) rows equal the Spark
    rounds' rows."""
    from udacity_data_engineer_capstone_spark.operators.graph import (
        _pagerank_kernel,
    )

    edges = [(4, 1), (1, 2), (1, 3), (2, 3), (3, 2), (5, 2), (5, 3), (5, 6)]
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rows = [(s, d, out_deg[s]) for s, d in edges]
    adj = spark.createDataFrame(rows, "s long, d long, deg long")
    s, d, deg = (np.array(c, dtype=np.int64) for c in zip(*rows))
    reached = {1: {1, 2, 3, 6}, 2: {2, 3}, ITERS: {2, 3}}
    for rounds in range(1, ITERS + 1):
        node, r = _pagerank_kernel(s, d, deg, rounds)
        got = list(zip(node.tolist(), r.tolist()))
        assert got == _spark_rounds(adj, rounds), rounds
        if rounds in reached:
            assert set(node.tolist()) == reached[rounds], rounds


_ENTRY_FRAMES = ("edges", "bidir", "deg", "adj", "nodes")


def _entry_rows(entry: dict) -> dict:
    """Each entry frame's schema (names, types, nullability) and rows as
    a multiset."""
    return {
        k: (entry[k].schema, Counter(map(tuple, entry[k].collect())))
        for k in _ENTRY_FRAMES
    }


def _persisted_build(spark, monkeypatch, sf_dir: str) -> dict:
    """The Spark build's entry frames at ``sf_dir``, its persisted
    layout forced through ``_adjacency_layout``."""
    from udacity_data_engineer_capstone_spark.operators import graph

    def persisted(s, nbytes):
        return False, int(s.conf.get("spark.sql.shuffle.partitions"))

    graph._GRAPHS.clear()
    with monkeypatch.context() as m:
        m.setattr(graph, "_adjacency_layout", persisted)
        g = graph._purchase_graph(spark, sf_dir)
        assert "adj_arrays" not in g
        want = _entry_rows(g)
    graph._GRAPHS.clear()
    return want


def _driver_build(spark, sf_dir: str) -> dict:
    """A fresh build at ``sf_dir`` that must run no Spark job."""
    from udacity_data_engineer_capstone_spark.operators import graph

    graph._GRAPHS.clear()
    with spark_job_ids(spark) as ids:
        g = graph._purchase_graph(spark, sf_dir)
    assert ids == []
    for k in _ENTRY_FRAMES:
        assert g[k].rdd.getNumPartitions() == 1, k
    return g


def test_arrow_build_equals_persisted_build(spark, monkeypatch):
    """At sf0.001 every entry frame of the driver's Arrow build holds
    the rows of the persisted Spark build, with the same names, types
    and nullability (``deg`` is not nullable)."""
    want = _persisted_build(spark, monkeypatch, SF_DIR)
    g = _driver_build(spark, SF_DIR)
    assert _entry_rows(g) == want
    assert not want["deg"][0]["deg"].nullable
    assert len(want["edges"][1]) > 1000


def test_arrow_build_keeps_spark_semantics(spark, monkeypatch, tmp_path):
    """A hand-built orders/lineitem pair gives the same entry frames
    from both builds: the join drops null and unmatched keys, DISTINCT
    keeps a null source or destination and collapses repeated pairs,
    ``deg`` counts the null source and ``adj`` drops it. An INT32
    ``o_custkey`` and ``l_orderkey`` check the types: ``edges.s`` stays
    INT, and the union widens ``bidir`` to BIGINT."""
    orders = pa.table(
        {
            "o_orderkey": pa.array([1, 2, 3, 4, None, 5], pa.int64()),
            "o_custkey": pa.array([10, None, 11, 12, 13, 10], pa.int32()),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([1, 1, 1, 2, 3, 3, 9, None, 5, 5], pa.int32()),
            "l_suppkey": pa.array(
                [100, 100, 101, 100, None, None, 102, 103, 100, 101], pa.int64()
            ),
        }
    )
    pq.write_table(orders, tmp_path / "orders.parquet")
    pq.write_table(lineitem, tmp_path / "lineitem.parquet")
    want = _persisted_build(spark, monkeypatch, str(tmp_path))
    g = _driver_build(spark, str(tmp_path))
    assert _entry_rows(g) == want
    assert want["edges"][1] == Counter(
        {(20, 201): 1, (20, 203): 1, (None, 201): 1, (22, None): 1}
    )
    assert [f.dataType.simpleString() for f in want["edges"][0]] == ["int", "bigint"]
    assert [f.dataType.simpleString() for f in want["bidir"][0]] == ["bigint"] * 2
    assert want["deg"][1][(None, 2)] == 1  # from (None, 201) and (22, None)
    assert all(s is not None for s, _, _ in want["adj"][1])
    assert "adj_arrays" not in g  # a null destination: no driver kernel


def test_failed_footer_check_reads_nothing_on_driver(spark, monkeypatch):
    """When the inputs' footer row counts fail the layout rule, no input
    column is read on the driver: the edges come from the Spark join,
    and a small edge count still gives the driver-local build."""
    from udacity_data_engineer_capstone_spark.operators import graph

    want = _entry_rows(_driver_build(spark, SF_DIR))
    real = graph.parquet_file

    class FooterOnly:
        def __init__(self, f):
            self.metadata, self.schema_arrow = f.metadata, f.schema_arrow
            self.close = f.close

        def read(self, *args, **kwargs):
            raise AssertionError("input read on the driver")

    monkeypatch.setattr(graph, "parquet_file", lambda *a: FooterOnly(real(*a)))
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    prior = spark.conf.get(key)
    # 100 KB: under the 7,500 input rows at 24 B, over the 2,888 edges
    spark.conf.set(key, "100k")
    try:
        graph._GRAPHS.clear()
        g = graph._purchase_graph(spark, SF_DIR)
        assert _entry_rows(g) == want
        assert "adj_arrays" in g
    finally:
        spark.conf.set(key, prior)
        graph._GRAPHS.clear()


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
