"""Graph analytics over the order graph: iterative PageRank.

The customer–supplier purchase relation (who bought from whom, via
orders ⋈ lineitem) is a bipartite graph; PageRank over it scores
centrality — which suppliers anchor the network, which customers span
many suppliers. The same dataflow is how you rank domains in a crawl
graph when curating a pretraining corpus.

Determinism at the hash gate: classic PageRank is double arithmetic,
and a distributed SUM(double) is fold-order dependent — no two runs
(let alone two engines) agree bitwise. This implementation therefore
does the whole computation in **exact integer micro-units** (rank mass
scaled by 1e9): contributions are integer division ``r DIV deg``, the
damping step is ``(85 * Σ) DIV 100``, and integer sums are
fold-order-free, so Spark and DuckDB agree exactly, at any parallelism.
(Headroom: 85·N·SCALE must fit in int64 → fine to ~10^8 nodes at
SCALE=1e9; shrink SCALE for bigger graphs.)

Scale shape: the adjacency is built once per session
(:func:`_purchase_graph`). A graph under ~1 MB is built on the driver
with pyarrow from the two inputs' key columns, with no Spark job, and
held there as one-partition driver-local relations plus read-only int64
arrays of its (src, dst, deg) adjacency; PageRank over it is one
vectorized integer pass on the driver (:func:`_pagerank_kernel`), and
the other operators' rounds shuffle nothing. A larger graph is
persisted and hash-partitioned by source into
``spark.sql.shuffle.partitions``; each PageRank iteration over it is one
equi-join of the adjacency against the current rank vector plus one
partial+final integer aggregate, with no driver data collect per round,
so only the node-sized vector moves.
Fixed-round loops (PageRank/PPR/LPA) chain all their rounds into one
lazy plan that the caller's own action runs; loops that run to
convergence (BFS, k-core, coarse LPA, the approx exits) go through
:func:`~.fixpoint.converge`, one probe action per round, and raise at
their round cap unless capped by design (the approx exits). The DuckDB
oracle unrolls the same recurrence as chained CTEs — identical integer
semantics, declaratively.

Reference parity: the reference (``/root/reference/etl.py``) has no
graph stage; extension surface (SURVEY §6).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.catalog import (
    load_table,
    parquet_file,
    register_views,
)
from udacity_data_engineer_capstone_spark.memo import Memo, scratch_dir
from udacity_data_engineer_capstone_spark.operators.fixpoint import (
    _state_signature,
    converge,
)
from udacity_data_engineer_capstone_spark.registry import query
from udacity_data_engineer_capstone_spark.session import (
    fits_one_partition,
    sized_partitions,
)

ITERS = 6
SCALE = 1_000_000_000  # rank mass per node, in micro-units
BASE = 150_000_000  # (1 - d) * SCALE with damping d = 0.85

# Node ids: customers even (custkey*2), suppliers odd (suppkey*2+1).
# Edges are the distinct purchase pairs, symmetrized so the bipartite
# graph has no dangling nodes (every node has out-degree >= 1).
_GRAPH_CTES = """
edges AS (
  SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
bidir AS (SELECT s, d FROM edges UNION ALL SELECT d, s FROM edges),
deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM bidir GROUP BY s),
pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM deg)
"""

# ---------------------------------------------------------------------------
# shared purchase-graph adjacency: built once per (session, sf_dir)
# ---------------------------------------------------------------------------


def _unpersist_all(entry: dict) -> None:
    for value in entry.values():
        if isinstance(value, DataFrame):
            value.unpersist()


# Adjacency builds per (application, sf_dir). Persisted adjacencies pin
# executor storage blocks, so at most four are kept and an evicted
# entry's frames are unpersisted. Entries are driver-local relations
# (their rows live in the plan) or persist()ed frames, never
# localCheckpointed ones, so eviction is recompute-safe for any
# still-referenced derived frame (lineage survives unpersist).
_GRAPHS = Memo(capacity=4, release=_unpersist_all)

_EDGE_BYTES = 24  # one (s, d, deg) adjacency row: three BIGINTs


def _adjacency_layout(spark: SparkSession, nbytes: int) -> tuple[bool, int]:
    """``(driver_local, partitions)`` for an adjacency of ``nbytes``.

    A graph of at most one ``minPartitionSize`` is held as a driver-local
    relation in one partition. The test is on bytes, not on
    :func:`sized_partitions` returning 1: that also happens on any
    one-core session, and must not pull a large graph onto the driver.
    A larger graph is persisted in ``spark.sql.shuffle.partitions``
    hash partitions (one where the sizing rule gives one): a join reuses
    a cached side's hash partitioning only when it has at least that
    many, so with fewer every round re-shuffles the adjacency."""
    if fits_one_partition(spark, nbytes):
        return True, 1
    if sized_partitions(spark, nbytes) == 1:
        return False, 1
    return False, int(spark.conf.get("spark.sql.shuffle.partitions"))


def _arrow_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """``table``'s rows as a one-partition ``LocalRelation``."""
    return spark.createDataFrame(table).coalesce(1)


def _purchase_graph(spark: SparkSession, sf_dir: str) -> dict:
    """The bipartite purchase graph every iterative operator here walks:
    distinct (customer, supplier) edges (``edges``) symmetrized and
    hash-partitioned by source ONCE (``bidir``), plus the derived degree
    table (``deg``), (s, d, deg) adjacency (``adj``) and node set
    (``nodes``); a graph held on the driver also carries ``adj_arrays``,
    the adjacency's ``(s, d, deg)`` columns as read-only int64 arrays.
    Cached per (application, sf_dir), so graph_pagerank /
    graph_pagerank_personalized / BFS / k-core / LPA / HITS /
    assortativity share ONE adjacency build instead of each re-running
    the identical orders⋈lineitem DISTINCT — the only edge-sized shuffle
    in the family, paid once per session like a materialized view.

    Layout: :func:`_adjacency_layout` is the only rule. It sizes the
    adjacency at 24 B (three BIGINTs) per directed edge.

    - A graph under ``minPartitionSize`` (1 MB; sf0.001 has ~2,900
      directed edges, ~68 KB) is built on the driver with pyarrow
      (:func:`_local_graph`) and held as one-partition driver-local
      relations, with no Spark job. The rule is asked twice: first with
      the two inputs' parquet footer row counts at 24 B a row, and only
      if that passes are their key columns read on the driver
      (:func:`_driver_edges`); then with the distinct edge count. When
      the inputs are too big to read but the Spark build's edge count
      passes, its edges are collected once into the same builder. The
      rounds read a plan leaf, not a cached frame, so AQE builds an
      adjacency broadcast once and every later round reuses it
      (``ReusedExchange``), all rounds run in one stage with no shuffle,
      and analysis walks no nested cache lineage. ``graph_pagerank``
      runs on the driver over ``adj_arrays``
      (:func:`_pagerank_kernel`): a warm sf0.001 run with its noop write
      is 1 job.
    - A larger graph is persisted and hash-partitioned into
      ``spark.sql.shuffle.partitions`` partitions, which every round of
      every operator here inherits, so only the node-sized vector moves.

    SCALE.md "Persisted frames are sized to their data" has the
    measurements."""
    return _GRAPHS.get(
        spark, os.path.abspath(sf_dir), lambda: _build_purchase_graph(spark, sf_dir)
    )


def _build_purchase_graph(spark: SparkSession, sf_dir: str) -> dict:
    table = _driver_edges(spark, sf_dir)
    if table is not None and _adjacency_layout(spark, 2 * len(table) * _EDGE_BYTES)[0]:
        return _local_graph(spark, table)
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Memo entries are never localCheckpointed: a local checkpoint's
    # blocks are the only copy (lineage truncated), so unpersisting an
    # evicted entry would break any still-referenced derived frame with
    # missing-block errors. persist() keeps the lineage (after eviction
    # a late evaluation silently recomputes) and a driver-local
    # relation carries its rows in the plan. Per-round frames inside the
    # iterative loops still localCheckpoint (they genuinely need O(1)
    # lineage); only the shared base is recompute-safe.
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
        .persist()
    )
    local, parts = _adjacency_layout(spark, 2 * edges.count() * _EDGE_BYTES)
    if local:
        table = edges.toArrow()
        edges.unpersist()
        return _local_graph(spark, table)
    bidir = (
        edges.union(edges.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .repartition(parts, F.col("s"))
        .persist()
    )
    deg = bidir.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    deg = deg.persist()
    adj = (
        bidir.join(deg.withColumnRenamed("s", "node"), bidir["s"] == F.col("node"))
        .select("s", "d", "deg")
        # hash-partition the static edge list by its join key ONCE: each
        # Pregel round's join then reuses this distribution instead of
        # re-exchanging the (big) adjacency — edges stay put, only the
        # node-sized rank/label vector moves.
        .repartition(parts, F.col("s"))
        .persist()
    )
    nodes = deg.select(F.col("s").alias("node")).persist()
    return {"edges": edges, "bidir": bidir, "deg": deg, "adj": adj, "nodes": nodes}


# The key columns the driver build reads. Spark reads a parquet INT32 or
# INT64 column as the same type, so only those are read on the driver.
_EDGE_INPUTS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey"],
}
_KEY_TYPES = (pa.int32(), pa.int64())


def _driver_edges(spark: SparkSession, sf_dir: str) -> pa.Table | None:
    """The distinct purchase edges computed on the driver from the two
    inputs' key columns; ``None``, with no column read, unless both
    inputs are single parquet files with INT32/INT64 keys whose footer
    row counts, at 24 B a row, pass :func:`_adjacency_layout`."""
    files = {name: parquet_file(sf_dir, name) for name in _EDGE_INPUTS}
    try:
        for name, f in files.items():
            schema = pa.schema([]) if f is None else f.schema_arrow
            types = dict(zip(schema.names, schema.types))
            if any(types.get(c) not in _KEY_TYPES for c in _EDGE_INPUTS[name]):
                return None
        rows = sum(f.metadata.num_rows for f in files.values())
        if not _adjacency_layout(spark, rows * _EDGE_BYTES)[0]:
            return None
        return _arrow_edges(*(f.read(_EDGE_INPUTS[n]) for n, f in files.items()))
    finally:
        for f in files.values():
            if f is not None:
                f.close()


def _arrow_edges(orders: pa.Table, lineitem: pa.Table) -> pa.Table:
    """The Spark build's DISTINCT ``(s, d)`` edges of ``orders ⋈
    lineitem``, in pyarrow: the inner join drops null keys, DISTINCT
    keeps a null ``s`` or ``d``, and the id arithmetic raises on
    overflow, as under ANSI mode."""
    import pyarrow.compute as pc  # loaded on first use: only this build needs it

    orders, lineitem = (
        t.set_column(0, t.column_names[0], pc.cast(t[0], pa.int64()))  # BIGINT key
        for t in (orders, lineitem)
    )
    joined = orders.join(lineitem, "o_orderkey", "l_orderkey", join_type="inner")
    cust, supp = joined["o_custkey"], joined["l_suppkey"]
    s = pc.multiply_checked(cust, pa.scalar(2, cust.type))
    d = pc.add_checked(
        pc.multiply_checked(supp, pa.scalar(2, supp.type)), pa.scalar(1, supp.type)
    )
    return pa.table({"s": s, "d": d}).group_by(["s", "d"]).aggregate([])


def _local_graph(spark: SparkSession, edges: pa.Table) -> dict:
    """The purchase graph's entries built from its distinct ``edges``
    with pyarrow on the driver. Each frame is a one-partition
    driver-local relation with the names, types and nullability of the
    persisted build's frame: every column nullable but ``deg``, ``deg``
    counting per source (a null one included), ``adj`` without null
    sources. ``adj_arrays`` is left out when a destination is null, as
    the kernel reads columns with no nulls."""
    import pyarrow.compute as pc

    s, d = edges["s"], edges["d"]
    if s.type != d.type:  # UNION widens INT and BIGINT to BIGINT
        s, d = pc.cast(s, pa.int64()), pc.cast(d, pa.int64())
    bidir = pa.table(
        {
            "s": pa.chunked_array(s.chunks + d.chunks, s.type),
            "d": pa.chunked_array(d.chunks + s.chunks, s.type),
        }
    )
    counts = bidir.group_by("s").aggregate([([], "count_all")])
    deg = pa.table({"s": counts["s"], "deg": counts["count_all"]})
    adj = bidir.join(deg, "s", join_type="inner")
    nodes = pa.table({"node": deg["s"]})
    g = {"edges": edges, "bidir": bidir, "deg": deg, "adj": adj, "nodes": nodes}
    out = {}
    for k, t in g.items():
        # a column read from parquet is nullable, a COUNT (deg) is not
        schema = pa.schema(f.with_nullable(f.name != "deg") for f in t.schema)
        out[k] = _arrow_frame(spark, t.cast(schema))
    if adj["d"].null_count == 0:
        out["adj_arrays"] = tuple(_read_only(adj[c]) for c in ("s", "d", "deg"))
    return out


def _read_only(column: pa.ChunkedArray) -> np.ndarray:
    """``column`` as a numpy array no caller can write: memo entries
    are shared across threads."""
    out = column.to_numpy()
    out.setflags(write=False)
    return out


_PR_STEP = """
pr{i} AS (
  SELECT b.d AS node,
         {base} + (85 * CAST(SUM(p.r // g.deg) AS BIGINT)) // 100 AS r
  FROM bidir b
  JOIN pr{prev} p ON p.node = b.s
  JOIN deg g ON g.node = b.s
  GROUP BY b.d
)
"""


def _pagerank_oracle() -> str:
    ctes = [_GRAPH_CTES.format(scale=SCALE)]
    for i in range(1, ITERS + 1):
        ctes.append(_PR_STEP.format(i=i, prev=i - 1, base=BASE))
    return (
        "WITH "
        + ",".join(ctes)
        + f"SELECT node AS node_id, r AS pr_rank FROM pr{ITERS}"
    )


def _pagerank_init(g: dict[str, DataFrame]) -> DataFrame:
    return g["deg"].select(
        F.col("s").alias("node"), F.lit(SCALE).cast("long").alias("r")
    )


def _pagerank_step(adj: DataFrame):
    """One damped PageRank round over ``adj`` (the :data:`_PR_STEP`
    recurrence): ``(node, r) -> (node, r)``."""

    def step(prev: DataFrame) -> DataFrame:
        return (
            adj.join(prev, adj["s"] == prev["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(
                F.expr(
                    f"CAST({BASE} + (85 * SUM(r DIV deg)) DIV 100 AS BIGINT)"
                ).alias("r")
            )
        )

    return step


def _pagerank_kernel(
    s: np.ndarray, d: np.ndarray, deg: np.ndarray, rounds: int = ITERS
) -> tuple[np.ndarray, np.ndarray]:
    """``rounds`` rounds of the :data:`_PR_STEP` recurrence over the
    adjacency ``(s, d, deg)`` on the driver, in int64: ``(node, r)``
    sorted by node. The initial nodes are the sources, each with
    ``SCALE``; each round an edge contributes ``r[s] // deg`` only when
    its source was reached in the previous round, contributions are
    summed per destination with an exact integer add, and each reached
    destination gets ``BASE + (85 * sum) // 100``."""
    nodes, ids = np.unique(np.concatenate((s, d)), return_inverse=True)
    src, dst = ids[: len(s)], ids[len(s) :]
    live = np.zeros(len(nodes), dtype=bool)
    live[src] = True
    r = np.full(len(nodes), SCALE, dtype=np.int64)
    for _ in range(rounds):
        e = live[src]
        total = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(total, dst[e], r[src[e]] // deg[e])
        live = np.zeros(len(nodes), dtype=bool)
        live[dst[e]] = True
        r = BASE + (85 * total) // 100
    return nodes[live], r[live]


@query("graph_pagerank", oracle=_pagerank_oracle(), tags=("graph", "iterative"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six damped PageRank iterations over the purchase graph in exact
    integer micro-units (see module docstring). The adjacency (src, dst,
    src-degree) comes from the SESSION-SHARED build
    (:func:`_purchase_graph` — one edge-sized shuffle amortized across
    the whole graph family). A graph held on the driver runs the six
    rounds there (:func:`_pagerank_kernel`) and returns the ranks as one
    Arrow-built local relation: a warm sf0.001 run with a noop write is
    1 job, the write. Over a persisted adjacency each round
    (:func:`_pagerank_step`) joins it to the rank vector and
    re-aggregates; all six rounds chain into one lazy plan and building
    it launches no Spark job. Rank mass ≈ conserved (modulo integer
    truncation), so high-degree suppliers surface with rank ≫ SCALE."""
    g = _purchase_graph(spark, sf_dir)
    if "adj_arrays" in g:
        node, r = _pagerank_kernel(*g["adj_arrays"])
        return _arrow_frame(spark, pa.table({"node_id": node, "pr_rank": r}))
    step = _pagerank_step(g["adj"])
    ranks = _pagerank_init(g)
    for _ in range(ITERS):
        ranks = step(ranks)
    return ranks.select(F.col("node").alias("node_id"), F.col("r").alias("pr_rank"))


# ---------------------------------------------------------------------------
# co-supply graph: triangle count + degree distribution
# ---------------------------------------------------------------------------

# Undirected simple graph: suppliers are adjacent when they co-supply at
# least one order. Both engines derive it identically.
_COSUPPLY_CTE = """
edges AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1
  JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
)
"""

# DOULION-style deterministic edge sparsification for the triangle
# count: keep edge (a,b) iff the first hex digit of md5('a:b') falls in
# the first _TRI_KEEP of 16 values — the same p = _TRI_KEEP/16 subset in
# both engines — and scale the sampled count by 1/p^3 for the unbiased
# full-graph estimate (Tsourakakis et al., KDD'09 public method; md5
# makes edge survival effectively independent, which a modular rule on
# the keys would not). The co-supply graph saturates toward a clique as
# the fact table grows (every supplier eventually shares SOME order with
# every other), and triangle counting on a near-clique is Θ(n³) no
# matter how good the orientation bound is — sparsification is the
# published answer, and determinism keeps the oracle exact.
_TRI_KEEP = 2  # of 16 -> p = 1/8, estimator scale 512
_TRI_SCALE = (16 // _TRI_KEEP) ** 3
_TRI_HEX = ", ".join(f"'{x:x}'" for x in range(_TRI_KEEP))

_TRI_ORACLE = (
    "WITH "
    + _COSUPPLY_CTE
    + f""",
sedges AS (
  SELECT a, b FROM edges
  WHERE substring(md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 1)
        IN ({_TRI_HEX})
)
SELECT CAST((SELECT COUNT(DISTINCT x) FROM (
          SELECT a AS x FROM sedges UNION SELECT b FROM sedges)) AS BIGINT)
         AS n_nodes,
       CAST((SELECT COUNT(*) FROM sedges) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*)
             FROM sedges e1
             JOIN sedges e2 ON e2.a = e1.a AND e2.b > e1.b
             JOIN sedges e3 ON e3.a = e1.b AND e3.b = e2.b) AS BIGINT)
         AS n_triangles,
       CAST((SELECT COUNT(*)
             FROM sedges e1
             JOIN sedges e2 ON e2.a = e1.a AND e2.b > e1.b
             JOIN sedges e3 ON e3.a = e1.b AND e3.b = e2.b)
            * {_TRI_SCALE} AS BIGINT) AS est_triangles_full
"""
)


@query("graph_triangle_count", oracle=_TRI_ORACLE, tags=("graph",))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the supplier co-supply graph (suppliers
    adjacent when they share an order) — the clustering-coefficient
    primitive for community detection in crawl/citation graphs.

    Scale shape, two layers:

    - **Sparsification (DOULION)**: each edge survives with p=1/8 via a
      deterministic md5 rule (effectively independent coin flips), and
      the full-graph triangle count is estimated as sampled_count / p³ —
      unbiased, variance vanishing on triangle-rich graphs. This is what
      bounds the op on DENSE graphs: co-occurrence graphs (suppliers,
      co-citations, domain links) densify toward cliques as the fact
      table grows, and no exact algorithm escapes the Θ(n³) triangle
      mass of a clique. Wedge work drops by p² (64×) while the estimate
      at sf0.1 lands within ~2% of the true count. Because the sample is
      deterministic, the sampled count (and hence the estimate) is
      bit-identical in both engines — the oracle checks it exactly.
    - **Degree orientation**: the naive id-ordered wedge join explodes
      on one high-degree hub (degree d → d²/2 wedges). Orienting every
      surviving edge from its lower-(degree, id) endpoint caps oriented
      out-degree at sqrt(2m) — wedge work O(m^1.5) REGARDLESS of skew.
      Triangles = oriented wedges (u→v, u→w) closed by (v→w), all hash
      equi-joins. The count is orientation-invariant, so the oracle's
      simple id-ordered 3-way join agrees exactly."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l2 = li.withColumnRenamed("l_suppkey", "s2")
    edges = (
        li.join(l2, "l_orderkey")
        .filter(F.col("l_suppkey") < F.col("s2"))
        .select(F.col("l_suppkey").alias("a"), F.col("s2").alias("b"))
        .filter(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("a").cast("string"), F.col("b").cast("string")
                    )
                ),
                1,
                1,
            ).isin(*[f"{x:x}" for x in range(_TRI_KEEP)])
        )
        .distinct()
        # r12: edges feeds FIVE consumers (both ends of the degree
        # union, the orientation join, the closure probe via oriented,
        # and the n_edges scalar) and no exchange reuse fires — the
        # lineitem co-supply SELF-JOIN (the dominant cost at any scale)
        # re-ran per consumer. Materialize the sampled edge set once.
        .localCheckpoint(eager=False)
    )
    # degree over the undirected graph
    ends = edges.select(F.col("a").alias("n")).union(
        edges.select(F.col("b").alias("n"))
    )
    deg = ends.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    withdeg = edges.join(da, "a").join(db, "b")
    # orient low-(deg, id) -> high-(deg, id)
    oriented = withdeg.select(
        F.when(
            (F.col("deg_a") < F.col("deg_b"))
            | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
            F.col("a"),
        )
        .otherwise(F.col("b"))
        .alias("u"),
        F.when(
            (F.col("deg_a") < F.col("deg_b"))
            | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
            F.col("b"),
        )
        .otherwise(F.col("a"))
        .alias("v"),
    ).localCheckpoint(eager=False)  # reused 3x: wedge x2 + closure probe
    # A wedge is two oriented edges u→x, u→y sharing the source; ordering
    # the endpoints (x < y) names each unordered wedge once. The closing
    # edge may be oriented either way, so the probe side is id-ordered.
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges_ord = (
        w1.join(w2, "u")
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
    )
    closed = wedges_ord.join(
        oriented.select(
            F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
        ),
        ["x", "y"],
    )
    n_tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_tri)
        .withColumn(
            "est_triangles_full",
            (F.col("n_triangles") * F.lit(_TRI_SCALE)).cast("long"),
        )
    )


_DEGSTATS_ORACLE = (
    "WITH "
    + _COSUPPLY_CTE
    + """,
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY n
)
SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(MIN(n) AS BIGINT) AS min_suppkey,
       CAST(MAX(n) AS BIGINT) AS max_suppkey
FROM deg GROUP BY deg
"""
)


@query("graph_degree_stats", oracle=_DEGSTATS_ORACLE, tags=("graph",))
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-supply graph: how many suppliers
    have each neighbor count (the power-law fingerprint you check
    before choosing skew strategies for graph joins). Two hash
    aggregates over the derived edge list — partial+final combine, no
    window, no driver data."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l2 = li.withColumnRenamed("l_suppkey", "s2")
    edges = (
        li.join(l2, "l_orderkey")
        .filter(F.col("l_suppkey") < F.col("s2"))
        .select(F.col("l_suppkey").alias("a"), F.col("s2").alias("b"))
        .distinct()
    )
    ends = edges.select(F.col("a").alias("n")).union(
        edges.select(F.col("b").alias("n"))
    )
    deg = ends.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.min("n").cast("long").alias("min_suppkey"),
        F.max("n").cast("long").alias("max_suppkey"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (membership at fixed k)
# ---------------------------------------------------------------------------

KCORE_K = 8
_KCORE_MAX_ROUNDS = 12  # oracle unroll depth; engine raises if exceeded

# One peel round: drop every node of degree < k, keep edges whose BOTH
# endpoints survive. The recurrence is pure integer set algebra, so the
# unrolled DuckDB CTE chain and the Spark loop agree exactly.
_KCORE_STEP = """
surv{i} AS MATERIALIZED (
  SELECT s FROM e{prev} GROUP BY s HAVING COUNT(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT s, d FROM e{prev}
  WHERE s IN (SELECT s FROM surv{i}) AND d IN (SELECT s FROM surv{i})
)
"""


def _kcore_oracle() -> str:
    ctes = [
        """
edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e0 AS MATERIALIZED (SELECT s, d FROM edges UNION ALL SELECT d, s FROM edges)
"""
    ]
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        ctes.append(_KCORE_STEP.format(i=i, prev=i - 1, k=KCORE_K))
    last = f"e{_KCORE_MAX_ROUNDS}"
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT s AS node_id,
       CAST(COUNT(*) AS BIGINT) AS core_degree,
       CAST(s % 2 AS INT) AS is_supplier
FROM {last}
GROUP BY s
"""
    )


def _kcore_peel(edges: DataFrame) -> DataFrame:
    """One peel round (:data:`_KCORE_STEP`) over directed ``(s, d)``."""
    survivors = (
        edges.groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= KCORE_K)
        .select("s")
    )
    return (
        edges.join(survivors, "s", "left_semi")
        .join(survivors.withColumnRenamed("s", "d"), "d", "left_semi")
        .select("s", "d")
    )


@query("graph_kcore", oracle=_kcore_oracle(), tags=("graph", "iterative"))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Members of the k-core (k=8) of the bipartite purchase graph:
    iteratively peel nodes of degree < k until fixpoint; report each
    surviving node with its within-core degree.

    The k-core is the standard "dense backbone" extraction for crawl
    and interaction graphs (spam-farm detection, community seeding).

    Scale shape: each round is one degree aggregate (partial+final,
    hash-width shuffle) plus two semi-joins of the edge list against the
    surviving-node set — no driver data beyond one scalar edge count per
    round for the convergence check; ``localCheckpoint`` truncates
    lineage so the plan stays O(1) per round. Rounds are bounded by the
    peel depth (degeneracy ordering), which on power-law graphs is
    O(log n) in practice; the loop raises if the fixpoint is not reached
    within the oracle's unroll depth instead of returning a non-fixpoint.
    The starting edge list is the session-shared build
    (:func:`_purchase_graph`)."""
    cur, _, _ = converge(
        _purchase_graph(spark, sf_dir)["bidir"],
        _kcore_peel,
        DataFrame.count,
        _KCORE_MAX_ROUNDS,
        name="k-core peel",
    )
    return cur.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("core_degree"),
    ).select(
        F.col("s").alias("node_id"),
        "core_degree",
        (F.col("s") % 2).cast("int").alias("is_supplier"),
    )


# ---------------------------------------------------------------------------
# single-source BFS levels
# ---------------------------------------------------------------------------

_BFS_MAX_ROUNDS = 10  # > graph diameter at every SF; engine raises otherwise
_BFS_SEED = 2  # customer node with custkey 1 (ids: cust*2, supp*2+1)

# One relaxation round: a node's level is the min of its current level
# and (neighbor's level + 1). Pure integer min-propagation — the same
# recurrence unrolled in the oracle and looped in the engine.
_BFS_STEP = """
lv{i} AS MATERIALIZED (
  SELECT node, MIN(lvl) AS lvl FROM (
    SELECT node, lvl FROM lv{prev}
    UNION ALL
    SELECT b.d AS node, p.lvl + 1 AS lvl
    FROM bidir b JOIN lv{prev} p ON p.node = b.s
  ) GROUP BY node
)
"""


def _bfs_oracle() -> str:
    ctes = [
        f"""
edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
bidir AS MATERIALIZED (SELECT s, d FROM edges UNION ALL SELECT d, s FROM edges),
lv0 AS MATERIALIZED (SELECT CAST({_BFS_SEED} AS BIGINT) AS node,
                            CAST(0 AS BIGINT) AS lvl)
"""
    ]
    for i in range(1, _BFS_MAX_ROUNDS + 1):
        ctes.append(_BFS_STEP.format(i=i, prev=i - 1))
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT node AS node_id, lvl AS bfs_level,
       CAST(node % 2 AS INT) AS is_supplier
FROM lv{_BFS_MAX_ROUNDS}
"""
    )


def _bfs_expand(adj: DataFrame, keys: tuple[str, ...]):
    """One delta-BFS round over ``adj`` (``s``, ``d``) on the state
    ``(seen, frontier)``: the levels found before the frontier, and the
    frontier's. Both are keyed by ``keys`` — ``("node",)`` or ``("src",
    "node")``, ``node`` last — plus ``lvl``. Only the frontier expands,
    and a left-anti join against everything found keeps re-discoveries
    out: a round's discoveries share one level, so first discovery IS
    the min level, value-identical to the oracle's unrolled union + min
    re-aggregate without re-aggregating the whole state. Per-round cost
    follows the frontier wave, not the accumulated reach. Both outputs
    read only the inputs, so checkpointing one never recomputes the
    other."""

    def step(state: tuple[DataFrame, DataFrame]) -> tuple[DataFrame, DataFrame]:
        seen = state[0].unionAll(state[1])
        found = (
            adj.join(state[1].withColumnRenamed("node", "s"), "s")
            .select(
                *keys[:-1], F.col("d").alias("node"), (F.col("lvl") + 1).alias("lvl")
            )
            .groupBy(*keys)
            .agg(F.min("lvl").alias("lvl"))
            .join(seen, list(keys), "left_anti")
        )
        return seen, found

    return step


def _bfs_converge(adj: DataFrame, seeds: DataFrame, keys: tuple[str, ...], name: str):
    """BFS levels from ``seeds`` to the empty-frontier fixpoint."""
    (levels, _), _, _ = converge(
        (seeds.limit(0), seeds),
        _bfs_expand(adj, keys),
        lambda state: state[1].count(),
        _BFS_MAX_ROUNDS,
        name=name,
        stop=lambda _prev, n_found: n_found == 0,
    )
    return levels


@query("graph_bfs_levels", oracle=_bfs_oracle(), tags=("graph", "iterative"))
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the purchase graph: hop distance from the
    seed customer to every reachable node (unweighted shortest paths —
    the crawl-frontier / influence-radius primitive).

    Delta (frontier) propagation (:func:`_bfs_expand`). Fixpoint = empty
    frontier, one count per round; the loop raises if the diameter
    exceeds the oracle's unroll depth. The edge list is the
    session-shared build (:func:`_purchase_graph`)."""
    seeds = spark.createDataFrame([(_BFS_SEED, 0)], "node long, lvl long")
    levels = _bfs_converge(
        _purchase_graph(spark, sf_dir)["bidir"], seeds, ("node",), "BFS"
    )
    return levels.select(
        F.col("node").alias("node_id"),
        F.col("lvl").alias("bfs_level"),
        (F.col("node") % 2).cast("int").alias("is_supplier"),
    )


# ---------------------------------------------------------------------------
# link prediction: capped common-neighbor / Jaccard scores
# ---------------------------------------------------------------------------

_LP_DEG_CAP = 25  # only wedge through rare parts (prefix-filter trick)

# Customer pairs sharing low-degree PARTS (the supplier side is too
# dense to be informative: every supplier serves hundreds of
# customers). Wedging through a hub is both uninformative and quadratic
# in its degree, so the wedge join is capped at degree <= 25 — the same
# df-cap bound the n-gram dedup inverted index uses: fan-out <= cap^2
# per supplier, corpus-size independent. Scores are exact integer ppm
# over FULL degrees (only the wedge enumeration is capped).
_LP_ORACLE = f"""
WITH cs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_partkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
cdeg AS MATERIALIZED (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS deg FROM cs GROUP BY c
),
sdeg AS MATERIALIZED (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM cs GROUP BY s
),
rare AS MATERIALIZED (
  SELECT s FROM sdeg WHERE deg <= {_LP_DEG_CAP}
),
wedges AS (
  SELECT a.c AS c1, b.c AS c2
  FROM cs a
  JOIN cs b ON b.s = a.s AND a.c < b.c
  WHERE a.s IN (SELECT s FROM rare)
),
common AS (
  SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM wedges GROUP BY c1, c2
  HAVING COUNT(*) >= 2
)
SELECT co.c1, co.c2, co.n_common,
       d1.deg AS deg1, d2.deg AS deg2,
       CAST(co.n_common * 1000000 // (d1.deg + d2.deg - co.n_common) AS BIGINT)
         AS jaccard_ppm
FROM common co
JOIN cdeg d1 ON d1.c = co.c1
JOIN cdeg d2 ON d2.c = co.c2
"""


@query("graph_link_prediction", oracle=_LP_ORACLE, tags=("graph",))
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the customer–part
    bipartite graph: customer pairs sharing ≥2 RARE parts, scored by
    exact-ppm Jaccard over their full part sets (co-purchase link
    prediction — "customers like you also bought").

    Scale shape: the wedge self-join runs only through parts of degree
    ≤ 25 (hub wedges are quadratic AND uninformative — the
    prefix-filtering bound from similarity self-joins), so fan-out per
    part is capped at cap² regardless of corpus size; degrees for the
    score come from full (uncapped) hash aggregates; everything
    shuffles at key width."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)  # reused 3x (wedges + 2 degree aggs)
    )
    cdeg = cs.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    rare = (
        cs.groupBy("s")
        .agg(F.count(F.lit(1)).alias("sdeg"))
        .where(F.col("sdeg") <= _LP_DEG_CAP)
        .select("s")
    )
    capped = cs.join(rare, "s", "left_semi")
    a = capped.alias("a")
    b = capped.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.c") < F.col("b.c")))
        .groupBy(F.col("a.c").alias("c1"), F.col("b.c").alias("c2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= 2)
    )
    d1 = cdeg.select(F.col("c").alias("c1"), F.col("deg").alias("deg1"))
    d2 = cdeg.select(F.col("c").alias("c2"), F.col("deg").alias("deg2"))
    return (
        common.join(d1, "c1")
        .join(d2, "c2")
        .select(
            "c1",
            "c2",
            "n_common",
            "deg1",
            "deg2",
            F.expr(
                "CAST(n_common * 1000000 DIV (deg1 + deg2 - n_common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# modularity of a labeled partition
# ---------------------------------------------------------------------------

# One SQL text for both engines: every quantity is an exact integer
# count (m, within-community edges e_c, degree sums d_c); the Newman
# modularity contribution q_c = e_c/m − (d_c/2m)² is evaluated once in
# doubles from those exact integers, floor-scaled to ppm. Headroom: the
# numerator products ride in DOUBLE (exact below 2^53 ≈ 9e15 for m up
# to ~3e7 edges; beyond that, pre-reduce by gcd or emit the integer
# numerator 4·m·e_c − d_c² and denominator 4·m² separately).
_MODULARITY_SQL = """
WITH raw AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e AS (
  SELECT cn.c_nationkey AS cnat, sn.s_nationkey AS snat
  FROM raw r
  JOIN customer cn ON cn.c_custkey = r.c
  JOIN supplier sn ON sn.s_suppkey = r.s
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
within AS (
  SELECT cnat AS nat, CAST(COUNT(*) AS BIGINT) AS e_c
  FROM e WHERE cnat = snat GROUP BY cnat
),
deg AS (
  SELECT nat, CAST(SUM(d) AS BIGINT) AS d_c
  FROM (
    SELECT cnat AS nat, COUNT(*) AS d FROM e GROUP BY cnat
    UNION ALL
    SELECT snat AS nat, COUNT(*) AS d FROM e GROUP BY snat
  ) both_ends
  GROUP BY nat
)
SELECT d.nat AS community,
       COALESCE(w.e_c, 0) AS within_edges,
       d.d_c AS degree_sum,
       m.m AS m_edges,
       CAST(floor(
         (4.0 * m.m * COALESCE(w.e_c, 0) - CAST(d.d_c AS DOUBLE) * d.d_c)
         / (4.0 * m.m * m.m) * 1000000
       ) AS BIGINT) AS q_contrib_ppm
FROM deg d CROSS JOIN m
LEFT JOIN within w ON w.nat = d.nat
"""


@query("graph_modularity", oracle=_MODULARITY_SQL, tags=("graph", "agg"))
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition over the
    customer–supplier order graph: per community, the within-community
    edge share minus the degree-based null expectation — the standard
    'is this community structure real?' score (Σ q_c > 0 means nations
    trade internally more than a random degree-preserving rewiring
    would). Evaluating a GIVEN labeling is the verification half of
    community detection, and unlike Louvain it is fully distributive:
    one edge-dedup shuffle, two hash aggregates, a broadcast scalar m.

    Scale shape: the corpus-sized stage is the DISTINCT over
    (custkey, suppkey) — one hash-width shuffle; everything after runs
    on |nations| rows. No iteration, no driver collect."""
    register_views(
        spark, sf_dir, ("orders", "lineitem", "customer", "supplier")
    )
    return spark.sql(_MODULARITY_SQL)


# ---------------------------------------------------------------------------
# label propagation: mode-label communities in K synchronous rounds
# ---------------------------------------------------------------------------

_LPA_ITERS = 3

# Each round every node adopts the most frequent label among its
# neighbors (ties -> smallest label): deterministic synchronous LPA.
# Contrast dedup_cluster_cc's MIN-label propagation (connectivity):
# mode-label finds DENSE regions, not connected components.
_LPA_STEP = """
lp{i} AS (
  SELECT node, label FROM (
    SELECT b.d AS node, p.label AS label,
           ROW_NUMBER() OVER (PARTITION BY b.d
                              ORDER BY COUNT(*) DESC, p.label) AS rn
    FROM bidir b JOIN lp{prev} p ON p.node = b.s
    GROUP BY b.d, p.label
  ) t WHERE rn = 1
)
"""


def _lpa_oracle() -> str:
    ctes = [
        _GRAPH_CTES.format(scale=SCALE),
        "lp0 AS (SELECT DISTINCT s AS node, s AS label FROM bidir)",
    ]
    for i in range(1, _LPA_ITERS + 1):
        ctes.append(_LPA_STEP.format(i=i, prev=i - 1))
    return (
        "WITH "
        + ",".join(ctes)
        + f"SELECT node AS node_id, label AS community FROM lp{_LPA_ITERS}"
    )


@query("graph_label_propagation", oracle=_lpa_oracle(), tags=("graph", "iterative"))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the purchase graph: every
    node repeatedly adopts its neighborhood's mode label (ties break to
    the smallest label), {n} rounds — the classic near-linear community
    detection whose output ``graph_modularity`` can score. Fixed
    round count keeps the result engine-independent (LPA run to
    "convergence" is famously order-dependent; synchronous fixed-K is
    the deterministic variant).

    Scale shape: per round, one equi-join of the static adjacency with
    the label vector and one (node, label) hash aggregate topped by a
    WindowGroupLimit rank — the Pregel message shape, like
    ``graph_pagerank``. The adjacency comes from the session-shared
    persisted build (:func:`_purchase_graph`); labels are
    node-sized, never edge-sized, on the shuffle. The {n} rounds chain
    into one lazy plan with no early exit; on THIS bipartite graph
    labels measurably never stabilize anyway (synchronous LPA two-colors
    it into a stable oscillation).""".replace("{n}", str(_LPA_ITERS))
    g = _purchase_graph(spark, sf_dir)
    bidir = g["bidir"]
    labels = g["nodes"].select("node", F.col("node").alias("label"))
    from pyspark.sql import Window as W

    def _round(prev: DataFrame) -> DataFrame:
        counted = (
            bidir.join(prev, bidir["s"] == prev["node"])
            .groupBy(F.col("d").alias("nd"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        rn = W.partitionBy("nd").orderBy(F.col("c").desc(), F.col("label"))
        return (
            counted.withColumn("rn", F.row_number().over(rn))
            .filter(F.col("rn") == 1)
            .select(F.col("nd").alias("node"), "label")
        )

    for _ in range(_LPA_ITERS):
        labels = _round(labels)
    return labels.select(
        F.col("node").alias("node_id"), F.col("label").alias("community")
    )


# ---------------------------------------------------------------------------
# HITS: hubs (customers) and authorities (suppliers) on the purchase graph
# ---------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_SCALE = 1000

# Each half-round max-normalizes to integer milli-units (h*1000 //
# max_h) so scores stay bounded, comparable, and exactly integer —
# the same normalize-in-integers trick as the PCA power iteration.
_HITS_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
a0 AS (SELECT DISTINCT s, CAST({_HITS_SCALE} AS BIGINT) AS a FROM edges),
h1 AS (SELECT e.c, CAST(SUM(a0.a) AS BIGINT) AS h
       FROM edges e JOIN a0 ON a0.s = e.s GROUP BY e.c),
h1n AS (SELECT c, h * {_HITS_SCALE} // (SELECT MAX(h) FROM h1) AS h FROM h1),
a1 AS (SELECT e.s, CAST(SUM(h1n.h) AS BIGINT) AS a
       FROM edges e JOIN h1n ON h1n.c = e.c GROUP BY e.s),
a1n AS (SELECT s, a * {_HITS_SCALE} // (SELECT MAX(a) FROM a1) AS a FROM a1),
h2 AS (SELECT e.c, CAST(SUM(a1n.a) AS BIGINT) AS h
       FROM edges e JOIN a1n ON a1n.s = e.s GROUP BY e.c),
h2n AS (SELECT c, h * {_HITS_SCALE} // (SELECT MAX(h) FROM h2) AS h FROM h2),
a2 AS (SELECT e.s, CAST(SUM(h2n.h) AS BIGINT) AS a
       FROM edges e JOIN h2n ON h2n.c = e.c GROUP BY e.s),
a2n AS (SELECT s, a * {_HITS_SCALE} // (SELECT MAX(a) FROM a2) AS a FROM a2)
SELECT 'hub' AS role, CAST(c AS BIGINT) AS node_id,
       CAST(h AS BIGINT) AS score_milli
FROM h2n
UNION ALL
SELECT 'authority' AS role, CAST(s AS BIGINT) AS node_id,
       CAST(a AS BIGINT) AS score_milli
FROM a2n
"""


def _hits_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed (customer, supplier) purchase edges, derived from
    the session-shared adjacency: ``bidir`` holds both orientations with
    customers even / suppliers odd, so its even-source half *is* the
    distinct original edge set — a cached-scan filter+project, not an
    edge-sized shuffle."""
    bidir = _purchase_graph(spark, sf_dir)["bidir"]
    return (
        bidir.where(F.col("s") % 2 == 0)
        .select(
            (F.col("s") / 2).cast("long").alias("c"),
            ((F.col("d") - 1) / 2).cast("long").alias("s"),
        )
        .repartition("s")
        .localCheckpoint(eager=True)
    )


def _hits_normalize(df: DataFrame, col: str) -> DataFrame:
    mx = df.agg(F.max(col).alias("mx"))
    return df.crossJoin(F.broadcast(mx)).select(
        *[c for c in df.columns if c != col],
        F.expr(f"{col} * {_HITS_SCALE} DIV mx").alias(col),
    )


def _hits_init(edges: DataFrame) -> DataFrame:
    return edges.select("s").distinct().select(
        "s", F.lit(_HITS_SCALE).cast("long").alias("a")
    )


def _hits_round(edges: DataFrame):
    """One hub→authority round over ``edges`` (``c``, ``s``): authority
    scores ``(s, a)`` -> ``(hub, auth)``, each half-round max-normalized
    to integer milli-units. The hub half is checkpointed: it is both the
    round's result and the authority half's input."""

    def step(auth: DataFrame) -> tuple[DataFrame, DataFrame]:
        hub = edges.join(auth, "s").groupBy("c").agg(F.sum("a").cast("long").alias("h"))
        hub = _hits_normalize(hub, "h").localCheckpoint(eager=False)
        auth = edges.join(hub, "c").groupBy("s").agg(F.sum("h").cast("long").alias("a"))
        return hub, _hits_normalize(auth, "a")

    return step


def _hits_rounds(edges: DataFrame, rounds: int) -> tuple[DataFrame, DataFrame]:
    """Exactly ``rounds`` HITS rounds from uniform authority scores:
    ``(hub, auth)``. Shared by :func:`graph_hits`,
    :func:`graph_hits_topk_fixed` and the :func:`graph_hits_approx`
    self-check."""
    step, auth = _hits_round(edges), _hits_init(edges)
    for _ in range(rounds):
        hub, auth = step(auth)
        auth = auth.localCheckpoint(eager=False)
    return hub, auth


@query("graph_hits", oracle=_HITS_ORACLE, tags=("graph", "iterative"))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the bipartite purchase graph: customers score as HUBS
    (they buy from authoritative suppliers), suppliers as AUTHORITIES
    (they are bought by strong hubs) — the ranking PageRank can't
    express because it conflates the two roles. Two full hub→authority
    rounds, each max-normalized into exact integer milli-units.

    Scale shape: per half-round, one equi-join of the static edge list
    with the node-sized score vector + one hash aggregate (the Pregel
    shape shared with ``graph_pagerank``); the normalizer is a scalar
    MAX broadcast back (:func:`_hits_round`). Edges come from the
    session-shared adjacency (:func:`_hits_edges`); scores are
    node-sized on every shuffle."""
    hub, auth = _hits_rounds(_hits_edges(spark, sf_dir), _HITS_ITERS)
    hubs = hub.select(
        F.lit("hub").alias("role"),
        F.col("c").cast("long").alias("node_id"),
        F.col("h").cast("long").alias("score_milli"),
    )
    auths = auth.select(
        F.lit("authority").alias("role"),
        F.col("s").cast("long").alias("node_id"),
        F.col("a").cast("long").alias("score_milli"),
    )
    return hubs.unionAll(auths)


# ---------------------------------------------------------------------------
# degree assortativity: do high-degree nodes connect to each other?
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH {_GRAPH_CTES.format(scale=SCALE)},
dd AS (
  SELECT b.s, b.d, gs.deg AS ds, gd.deg AS dt
  FROM bidir b
  JOIN deg gs ON gs.node = b.s
  JOIN deg gd ON gd.node = b.d
),
mo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(ds) AS BIGINT) AS sx,
         CAST(SUM(dt) AS BIGINT) AS sy,
         CAST(SUM(ds * dt) AS BIGINT) AS sxy,
         CAST(SUM(ds * ds) AS BIGINT) AS sx2,
         CAST(SUM(dt * dt) AS BIGINT) AS sy2
  FROM dd
)
SELECT m AS n_directed_edges,
       CAST(floor(
         (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(m AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(m AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy))
         * 1000000) AS BIGINT) AS assortativity_ppm
FROM mo
"""


@query("graph_assortativity", oracle=_ASSORT_ORACLE, tags=("graph", "stats"))
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the purchase graph: the Pearson
    correlation of endpoint degrees over directed edges — positive
    means hubs attach to hubs (social-style), negative means hubs
    serve the periphery (typical bipartite commerce). The one-number
    topology summary that tells a partitioner whether degree-based
    salting (``join_salted_skew``) will pay off.

    Scale shape: degree table joined onto the edge list twice
    (node-sized build sides), one exact int64 moment fold, constant
    output. Headroom: sum(ds*dt) <= m * dmax^2 — int64-safe through
    ~1e10 edges at dmax 1e4; widen the lane past that. Edge and degree
    tables come from the session-shared build (:func:`_purchase_graph`)."""
    g = _purchase_graph(spark, sf_dir)
    bidir, deg = g["bidir"], g["deg"]
    gs = deg.withColumnRenamed("s", "node").alias("gs")
    gd = deg.withColumnRenamed("s", "node").alias("gd")
    dd = (
        bidir.join(gs, F.col("gs.node") == bidir["s"])
        .join(gd, F.col("gd.node") == bidir["d"])
        .select(F.col("gs.deg").alias("ds"), F.col("gd.deg").alias("dt"))
    )
    mo = dd.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("ds").alias("sx"),
        F.sum("dt").alias("sy"),
        F.sum(F.col("ds") * F.col("dt")).alias("sxy"),
        F.sum(F.col("ds") * F.col("ds")).alias("sx2"),
        F.sum(F.col("dt") * F.col("dt")).alias("sy2"),
    )
    return mo.select(
        F.col("m").alias("n_directed_edges"),
        F.floor(
            (F.col("m").cast("double") * F.col("sxy")
             - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(
                    F.col("m").cast("double") * F.col("sx2")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                * F.sqrt(
                    F.col("m").cast("double") * F.col("sy2")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("assortativity_ppm"),
    )


# ---------------------------------------------------------------------------
# multi-source BFS: landmark distances (closeness estimation primitive)
# ---------------------------------------------------------------------------

_LANDMARKS = (2, 4, 6, 8)  # customer nodes custkey 1..4

_MBFS_STEP = """
ml{i} AS MATERIALIZED (
  SELECT src, node, MIN(lvl) AS lvl FROM (
    SELECT src, node, lvl FROM ml{prev}
    UNION ALL
    SELECT p.src, b.d AS node, p.lvl + 1 AS lvl
    FROM bidir b JOIN ml{prev} p ON p.node = b.s
  ) GROUP BY src, node
)
"""


def _mbfs_oracle() -> str:
    seeds = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS src, CAST({s} AS BIGINT) AS node,"
        f" CAST(0 AS BIGINT) AS lvl"
        for s in _LANDMARKS
    )
    ctes = [
        f"""
edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
bidir AS MATERIALIZED (SELECT s, d FROM edges UNION ALL SELECT d, s FROM edges),
ml0 AS MATERIALIZED ({seeds})
"""
    ]
    for i in range(1, _BFS_MAX_ROUNDS + 1):
        ctes.append(_MBFS_STEP.format(i=i, prev=i - 1))
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT node AS node_id,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(lvl) AS BIGINT) AS sum_dist,
       CAST(MIN(lvl) AS BIGINT) AS min_dist
FROM ml{_BFS_MAX_ROUNDS}
GROUP BY node
"""
    )


def _landmark_seeds(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(s, s, 0) for s in _LANDMARKS], "src long, node long, lvl long"
    )


def _landmark_distances(levels: DataFrame) -> DataFrame:
    return levels.groupBy(F.col("node").alias("node_id")).agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("lvl").alias("sum_dist"),
        F.min("lvl").alias("min_dist"),
    )


@query("graph_bfs_multisource", oracle=_mbfs_oracle(), tags=("graph", "iterative"))
def graph_bfs_multisource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simultaneous BFS from 4 landmark customers: per node, how many
    landmarks reach it, the distance sum, and the nearest landmark —
    the landmark-distance table that estimates closeness centrality at
    a fraction of all-pairs cost (Palmer et al.'s ANF idea in its
    exact small-k form).

    Scale shape: delta (frontier) BFS (:func:`_bfs_expand`). One pass
    serves ALL k sources (the frontier carries (src, node, lvl) triples
    — the multi-source trick: k BFS runs share every edge scan).
    Fixpoint = empty frontier, one count per round; the loop raises past
    the oracle's unroll depth. The edge list is the session-shared build
    (:func:`_purchase_graph`)."""
    levels = _bfs_converge(
        _purchase_graph(spark, sf_dir)["bidir"],
        _landmark_seeds(spark),
        ("src", "node"),
        "multi-source BFS",
    )
    return _landmark_distances(levels)


# ---------------------------------------------------------------------------
# reach-bounded BFS over a src-bucketed adjacency layout (r11 directive 2)
# ---------------------------------------------------------------------------
#
# SCALE.md's round-10 correction: the in-memory adjacency is ONE
# unbucketed table, so each BFS round's edge⋈frontier join SCANS all
# edges — per-round cost is edge-linear even though the frontier STATE
# is reach-bounded. The 100 TB layout fix is storage-side: write the
# adjacency ONCE range-bucketed and sorted on src (the CSR-style
# warehouse layout; cf. snk_bucketed_join / warehouse.py bucketBy
# ingest), then every round prunes the scan with the frontier's bucket
# list (directory pruning) and src range (parquet row-group min/max
# skipping on the sorted files). Per-round IO follows the frontier's
# id span, not the graph: on this testdata the seeds' component keeps
# the ORIGINAL id range while scale replicas occupy higher ranges, so
# the pruned scan is decade-invariant — the locality production graph
# systems create deliberately with vertex reordering.
#
# The per-round collects are all bounded: the bucket list (≤ dir
# count) and the frontier min/max (2 scalars). Results are
# value-identical to graph_bfs_multisource — same oracle text.

_BFS_LAYOUT_DIRS = 128  # target directory count for the bucketed layout

# frontier rows (src, node, lvl — 24 B packed) broadcast only below
# this count (~24 MB serialized); past it the expansion join falls
# back to a shuffle hash join, which degrades gracefully instead of
# collecting an arbitrarily large frontier onto the driver
_BFS_BROADCAST_MAX = 1_000_000
# (path, bucket width) per (application, sf_dir); a directory deleted
# from outside the process is written again
_BFS_LAYOUTS = Memo(valid=lambda layout: os.path.isdir(layout[0]))


def _bfs_bucketed_layout(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Write (once per session, sf_dir) the bidirectional adjacency as
    a src-range-bucketed, src-sorted parquet layout; returns its path
    and bucket width. Build cost is one edge-linear write — the
    ingest-time investment that buys reach-bounded traversals
    thereafter."""
    return _BFS_LAYOUTS.get(
        spark, os.path.abspath(sf_dir), lambda: _write_bfs_layout(spark, sf_dir)
    )


def _write_bfs_layout(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    bidir = _purchase_graph(spark, sf_dir)["bidir"]
    max_s = bidir.agg(F.max("s")).collect()[0][0] or 0
    width = max(1, (int(max_s) + _BFS_LAYOUT_DIRS) // _BFS_LAYOUT_DIRS)
    out = scratch_dir("engine_bfs_adj_")
    (
        bidir.withColumn("sb", (F.col("s") / width).cast("long"))
        .repartition("sb")
        .sortWithinPartitions("s")
        .write.mode("overwrite")
        .partitionBy("sb")
        .parquet(out)
    )
    return out, width


@query(
    "graph_bfs_multisource_bucketed",
    oracle=_mbfs_oracle(),
    tags=("graph", "iterative"),
)
def graph_bfs_multisource_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`graph_bfs_multisource` over the src-bucketed adjacency
    LAYOUT (module note above): per round, the edge scan is pruned to
    the frontier's bucket directories plus its src range (parquet
    row-group skipping on the sorted files) — reach-bounded IO instead
    of an edge-linear full scan, value-identical results (same oracle
    text). The frontier side broadcasts (bounded by reach); the round
    math (delta frontier, min-lvl first-discovery, anti-join) is
    unchanged."""
    path, width = _bfs_bucketed_layout(spark, sf_dir)
    adj = spark.read.parquet(path)
    frontier = _landmark_seeds(spark)
    seen = frontier.limit(0)
    # Not :func:`converge`: each round's stats collect both probes the
    # frontier and prunes the NEXT expansion's scan, so probe and step
    # are not independent. ONE driver job per round: the frontier's
    # bucket list, src range and row count ride a single bounded agg.
    # Rounds = expansions + the final empty-frontier probe, hence the +1
    # bound.
    for _round in range(_BFS_MAX_ROUNDS + 1):
        # bounded collect: ≤ dir-count bucket ids + 3 scalars
        fstats = frontier.agg(
            F.collect_set((F.col("node") / width).cast("long")).alias("bs"),
            F.min("node").alias("lo"),
            F.max("node").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        n_frontier = int(fstats["n"])
        if n_frontier == 0:
            break
        if _round == _BFS_MAX_ROUNDS:  # the last iteration only probes
            raise RuntimeError(
                f"bucketed multi-source BFS did not converge in"
                f" {_BFS_MAX_ROUNDS} rounds"
            )
        pruned = adj.where(
            F.col("sb").isin(sorted(fstats["bs"]))
            & F.col("s").between(int(fstats["lo"]), int(fstats["hi"]))
        )
        # broadcast the frontier only while it is provably small (the
        # count comes from the same per-round agg, so the gate is
        # free): a large seed component would OOM the driver, whereas a
        # shuffle join degrades gracefully
        if n_frontier <= _BFS_BROADCAST_MAX:
            frontier = F.broadcast(frontier)
        seen, frontier = (
            df.localCheckpoint(eager=False)
            for df in _bfs_expand(pruned, ("src", "node"))((seen, frontier))
        )
    return _landmark_distances(seen)


# ---------------------------------------------------------------------------
# personalized PageRank: teleport mass restricted to a seed set
# ---------------------------------------------------------------------------

_PPR_SEEDS = (2, 4)  # customers 1 and 2 (node ids: cust*2)
_PPR_ITERS = 6

# Same integer damping lanes as graph_pagerank, but the (1-d) teleport
# mass returns ONLY to the seeds — scores become "importance relative
# to these customers", the recommendation/similar-entities primitive.
_PPR_STEP = """
ppr{i} AS (
  SELECT n.node,
         CASE WHEN n.node IN {seeds}
              THEN {seed_base} ELSE 0 END
         + (85 * CAST(COALESCE(m.mass, 0) AS BIGINT)) // 100 AS r
  FROM (SELECT node FROM deg) n
  LEFT JOIN (
    SELECT b.d AS node, CAST(SUM(p.r // g.deg) AS BIGINT) AS mass
    FROM bidir b
    JOIN ppr{prev} p ON p.node = b.s
    JOIN deg g ON g.node = b.s
    GROUP BY b.d
  ) m ON m.node = n.node
)
"""


def _ppr_oracle() -> str:
    n_seeds = len(_PPR_SEEDS)
    seed_base = (BASE * 2) // n_seeds  # total teleport mass across seeds
    ctes = [
        _GRAPH_CTES.format(scale=SCALE),
        f"""ppr0 AS (
  SELECT node, CASE WHEN node IN {_PPR_SEEDS}
                    THEN CAST({SCALE} AS BIGINT) ELSE 0 END AS r
  FROM deg
)""",
    ]
    for i in range(1, _PPR_ITERS + 1):
        ctes.append(
            _PPR_STEP.format(
                i=i, prev=i - 1, seeds=_PPR_SEEDS, seed_base=seed_base
            )
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT node AS node_id, r AS ppr_rank
FROM ppr{_PPR_ITERS} WHERE r > 0
"""
    )


@query(
    "graph_pagerank_personalized", oracle=_ppr_oracle(), tags=("graph", "iterative")
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at two customers: damped mass flows
    through the purchase graph but teleports back ONLY to the seeds,
    so scores rank every node by relevance TO THOSE CUSTOMERS — the
    similar-suppliers/recommendation primitive that global
    ``graph_pagerank`` cannot express. Zero-mass nodes are dropped
    (unreachable from the seeds in 6 damped rounds).

    Scale shape: BETTER than graph_pagerank per round — the state is
    FRONTIER-SIZED, not graph-sized. The oracle carries every node with
    r=0 and LEFT-joins the damped mass back onto the full node set each
    round; but zero-rank non-seed nodes contribute exactly 0 mass
    (``0 DIV deg``) and the query's final projection filters ``r > 0``,
    so dropping them from the iterated state is value-identical while
    cutting the per-round node-sized join entirely: each round is ONE
    edge⋈frontier shuffle + ONE aggregate, with the two seed rows
    unioned into the aggregate's input (a sum lane, so the
    ``seed_base + (85*Σm) DIV 100`` integer math stays bit-exact).
    Round 1 touches only the seeds' out-edges — at 100 TB the cost
    grows with the seeds' damped reach, not the graph. Shares the
    session-cached adjacency (:func:`_purchase_graph`); unrolled-CTE
    oracle; all rounds chain into one lazy plan."""
    g = _purchase_graph(spark, sf_dir)
    adj, nodes = g["adj"], g["nodes"]
    seed_base = (BASE * 2) // len(_PPR_SEEDS)
    in_seeds = F.col("node").isin(*_PPR_SEEDS)
    # Seed rows come from the node set (not a literal frame) so a seed
    # id absent from the graph can never be invented; 2 rows, reused
    # by every round's union.
    seed_rows = nodes.filter(in_seeds).select(
        "node",
        F.lit(0).cast("long").alias("m"),
        F.lit(seed_base).cast("long").alias("sb"),
    )
    ranks = seed_rows.select(
        "node", F.lit(SCALE).cast("long").alias("r")
    )

    def _round(prev: DataFrame) -> DataFrame:
        contrib = (
            adj.join(
                prev.filter(F.col("r") > 0).withColumnRenamed("node", "s"),
                "s",
            )
            .select(
                F.col("d").alias("node"),
                F.expr("r DIV deg").alias("m"),
                F.lit(0).cast("long").alias("sb"),
            )
        )
        return (
            contrib.unionAll(seed_rows)
            .groupBy("node")
            .agg(
                F.expr(
                    "CAST(SUM(sb) + (85 * SUM(m)) DIV 100 AS BIGINT)"
                ).alias("r")
            )
        )

    for _ in range(_PPR_ITERS):
        ranks = _round(ranks)
    return ranks.filter(F.col("r") > 0).select(
        F.col("node").alias("node_id"), F.col("r").alias("ppr_rank")
    )


# ---------------------------------------------------------------------------
# deterministic random walks (DeepWalk/node2vec corpus generation)
# ---------------------------------------------------------------------------

# One 4-step walker per node over the co-supply graph. The next hop
# from node u at step t is neighbor-rank H(u,t) % degree(u), with
# H a multiplicative integer hash — pseudo-random exploration that is
# bit-identical across engines, partitionings, and reruns (a seeded
# RNG cannot give the last two). Walks are what a graph-embedding
# trainer (DeepWalk / node2vec) consumes as its "sentences".
_WALK_STEPS = 3

def _walk_sql() -> str:
    steps = []
    for t in range(1, _WALK_STEPS + 1):
        steps.append(f"""
s{t} AS (
  SELECT s.walker, a.d AS node
  FROM s{t - 1} s
  JOIN deg ON deg.node = s.node
  JOIN adj a
    ON a.s = s.node
   AND a.rnk = ((s.node * 2654435761 + {t} * 97531) % 999983) % deg.deg
)""")
    return (
        """
WITH pairs AS (
  SELECT DISTINCT l.l_suppkey AS a, r.l_suppkey AS b
  FROM lineitem l JOIN lineitem r ON l.l_orderkey = r.l_orderkey
  WHERE l.l_suppkey <> r.l_suppkey
),
adj AS (
  SELECT a AS s, b AS d,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) - 1 AS rnk
  FROM pairs
),
deg AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY s
),
s0 AS (SELECT node AS walker, node FROM deg),"""
        + ",".join(steps)
        + f"""
SELECT s0.walker AS start_node,
       CAST(s{_WALK_STEPS}.node AS BIGINT) AS end_node,
       CAST({_WALK_STEPS} AS INT) AS n_steps
FROM s0 JOIN s{_WALK_STEPS} ON s{_WALK_STEPS}.walker = s0.walker
"""
    )


@query("graph_random_walks", oracle=_walk_sql(), tags=("graph",))
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-step random walks from every node of the
    co-supply graph — the corpus-generation half of DeepWalk/node2vec.
    The next hop is chosen by an integer hash of (node, step) modulo
    the node's degree, so the 'random' walk is reproducible anywhere:
    no RNG state, no partition sensitivity, and the oracle can replay
    it exactly.

    Scale shape: the ranked adjacency builds once (one window over the
    edge list); each step is one equi-join of the walker frontier
    against it (frontier is node-count-sized, never edge-sized).
    Unrolled joins keep every step an AQE-visible plan stage; for
    100-step walks move the loop into iterative DataFrame code with
    localCheckpoint like ``graph_pagerank``."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_walk_sql())


# ---------------------------------------------------------------------------
# ego-network reach: 1-hop and 2-hop neighborhood sizes
# ---------------------------------------------------------------------------

# Hub cap: only each node's first _EGO_CAP neighbors (by id — a
# deterministic truncation) participate in the 2-hop expansion, so the
# join fan-out is bounded by n·cap² instead of Σ deg² — on the dense
# co-supply graph at sf0.1 the uncapped form is a 1e9-row fan-out
# (observed OOM); the capped form is the same discipline as
# dedup_ngram_jaccard's document-frequency cap.
_EGO_CAP = 50

_EGO_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT l.l_suppkey AS a, r.l_suppkey AS b
  FROM lineitem l JOIN lineitem r ON l.l_orderkey = r.l_orderkey
  WHERE l.l_suppkey <> r.l_suppkey
),
capped AS (
  SELECT a, b FROM (
    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS rn
    FROM pairs
  ) t WHERE rn <= {{cap}}
),
two_hop AS (
  SELECT DISTINCT p1.a, p2.b AS n2
  FROM capped p1 JOIN capped p2 ON p2.a = p1.b
  WHERE p2.b <> p1.a
),
reach AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS reach2
  FROM (SELECT a, b AS n FROM capped
        UNION SELECT a, n2 FROM two_hop) u
  GROUP BY a
),
deg AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS deg1 FROM capped GROUP BY a
)
SELECT d.a AS node_id, d.deg1, r.reach2,
       CAST(FLOOR(r.reach2 * 1000.0 / d.deg1) AS BIGINT)
         AS expansion_milli
FROM deg d JOIN reach r ON r.a = d.a
""".format(cap=_EGO_CAP)


@query("graph_ego_network_stats", oracle=_EGO_SQL, tags=("graph",))
def graph_ego_network_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ego-network reach per node: direct degree, distinct ≤2-hop
    neighborhood size, and the expansion ratio — the
    friend-of-a-friend audience number behind influence/virality
    estimates, and (read across nodes) a small-world diagnostic for
    the co-supply graph.

    Scale shape: the adjacency is degree-capped (first 50 neighbors
    per node, deterministic) BEFORE the 2-hop self-join, bounding
    fan-out to n·cap² — the uncapped Σ deg(v)² form OOMs on the dense
    co-supply graph at sf0.1 already. Reach is therefore "reach over
    the truncated adjacency"; for exact reach on hub-heavy graphs use
    an HLL sketch per ego instead."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_EGO_SQL)


# ---------------------------------------------------------------------------
# approximate early-exit variants (VERDICT r5 directive #6)
# ---------------------------------------------------------------------------
#
# The exact iterative queries run a FIXED round count so their unrolled
# SQL oracles stay byte-exact, and an exact-fixpoint probe measurably
# cannot fire for them at sf0.001–0.1: damped integer PageRank/PPR still
# move every rank at round 6 (deltas shrink ~0.85×/round from a 1e9
# base), and synchronous LPA two-colors the bipartite purchase graph
# into a stable oscillation.
# Production rarely needs value-exact ranks, though — it needs the
# *ranking* (or the community structure) to stop moving. These ``_approx``
# twins keep the exact variants untouched and add the production escape
# hatch: a semantic convergence probe that can fire long before the
# round cap. They are registered WITHOUT an oracle (rows-only driver
# check) because their round count is data-dependent by design;
# tests/test_graph_approx.py pins their agreement with the exact
# variants (top-k overlap / community structure) and that the exit
# actually fires.

_APPROX_TOPK = 100


def _topk_ids(ranks: DataFrame, rank_col: str, k: int = _APPROX_TOPK) -> frozenset:
    """The top-k node id SET by (rank desc, node asc) — a k-row bounded
    collect (the same size class as the per-round scalar probes).
    Membership, not order: measured on this graph the top-100
    membership freezes by round 2 while the within-set order keeps
    wiggling for all 6 rounds, and 'who is in the top k' is the
    question a ranking consumer actually asks."""
    rows = (
        ranks.orderBy(F.col(rank_col).desc(), F.col("node").asc())
        .limit(k)
        .select("node")
        .collect()
    )
    return frozenset(r["node"] for r in rows)


# ranking-churn tolerance: exit when a round changes at most this
# fraction of the top-k membership. Strict set equality cannot fire on
# dense graphs — measured at sf0.1, 5-15 of the top-100 members keep
# flickering across near-tied rank boundaries every round, while the
# ~90-member core froze after round 1 — so "churn below 10%" is the
# production convergence criterion (rank-churn thresholds, not value
# deltas, are what ranking-serving systems monitor).
_APPROX_CHURN_TOL = 0.10


def _churn_stable(k: int):
    """``converge`` stop rule: the top-k membership changed by at most
    the churn tolerance since the previous round."""

    def stop(prev: frozenset | None, top: frozenset) -> bool:
        return prev is not None and len(top - prev) <= int(k * _APPROX_CHURN_TOL)

    return stop


# --- rows-only self-check (round-12, VERDICT r11 directive 7) --------------
#
# The three approx queries are rows-only at the driver gate (round
# count data-dependent by design). To make those entries SELF-CHECKING,
# each asserts — inside the query, while building its result — that the
# churn-converged result EQUALS what the oracled sibling's kernel
# produces AT THE CONVERGED ROUND, evaluated through an INDEPENDENT
# code path:
#   pagerank: converged top-100 membership == the exact query's fixed
#     lazy rounds (the _pagerank_step kernel graph_pagerank_topk_fixed's
#     unrolled oracle certifies) run for exactly `rounds` rounds;
#   HITS: converged top-20 authority membership ==
#     _hits_rounds(edges, rounds) — the literal shared kernel the
#     oracled sibling graph_hits_topk_fixed hash-matches at its cap;
#   LPA: the returned coarse labeling is re-verified as a NO-CHANGE
#     fixpoint of the LPA vote (_lpa_vote) on the coarse graph (one
#     distributed re-vote round — the convergence claim itself); the
#     coarsen anchors are already hash-matched via graph_lpa_coarsen.
# Set EQUALITY, not an overlap band: identical integer lanes at the
# same round are deterministic, so the sibling-at-round-r membership
# must match exactly — the driver's rows-only run now fails LOUDLY on
# any loop-state drift (checkpoint corruption, off-by-one rounds,
# kernel edits that miss one twin) instead of green-lighting any
# non-empty result. (Membership at the CAP round is deliberately not
# the claim: churn accumulates over the skipped rounds — measured 50%
# top-20 drift at sf0.001 HITS — and cross-ROUND agreement is already
# test-pinned at tests/test_graph_approx.py with per-query bounds.)
# Cost: one fixed-round kernel evaluation on the session-cached
# adjacency.


def _assert_sibling_equal(
    name: str, conv: frozenset, sib: frozenset, rounds: int
) -> None:
    if conv != sib:
        raise AssertionError(
            f"{name}: converged top-k membership differs from the oracled"
            f" sibling kernel at round {rounds} —"
            f" only-approx={sorted(conv - sib)[:5]}"
            f" only-sibling={sorted(sib - conv)[:5]} —"
            f" the approx loop drifted from the hash-matched kernel"
        )


@query("graph_pagerank_approx", tags=("graph", "iterative", "approx"))
def graph_pagerank_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with a RANKING-STABILITY early exit: stop as soon as a
    round changes ≤10% of the top-100 membership (by rank, ties by id)
    — the churn criterion a ranking consumer actually waits for —
    capped at the exact variant's round count. Returns the top-100
    with their integer ranks plus ``rounds_run`` so the win is
    observable. Identical per-round plan to :func:`graph_pagerank`
    (shared cached adjacency, node-sized shuffles, O(1) lineage); the
    probe is a k-row collect per round. The per-round math and the
    top-k claim shape are hash-matched through the oracled fixed-round
    sibling :func:`graph_pagerank_topk_fixed` (round-11 directive 5);
    this variant only adds the churn exit."""
    g = _purchase_graph(spark, sf_dir)
    step = _pagerank_step(g["adj"])
    ranks, rounds, top = converge(
        _pagerank_init(g),
        step,
        lambda r: _topk_ids(r, "r"),
        ITERS,
        name="graph_pagerank_approx",
        stop=_churn_stable(_APPROX_TOPK),
        capped_ok=True,
    )
    # the kernel at the CONVERGED round as the exact query's fixed lazy
    # rounds (module self-check note)
    sib_ranks = _pagerank_init(g)
    for _ in range(rounds):
        sib_ranks = step(sib_ranks)
    _assert_sibling_equal(
        "graph_pagerank_approx", top, _topk_ids(sib_ranks, "r"), rounds
    )
    return (
        ranks.orderBy(F.col("r").desc(), F.col("node").asc())
        .limit(_APPROX_TOPK)
        .select(
            F.col("node").alias("node_id"),
            F.col("r").alias("pr_rank"),
            F.lit(rounds).cast("int").alias("rounds_run"),
        )
    )


_LPA_COARSE_K = 16  # per-customer capped supplier sample (degree cap)
# single-task gate: the coarse supplier-level graph is solved in one
# executor task only while its edge count stays below this bound —
# above it, the distributed round loop takes over. The default bounds
# the solve task's state at ~20M edges x ~48 B (pandas arrays + the
# label dict) ≈ 1 GB; when the active SizingProfile knows the per-core
# memory, the gate is DERIVED from it instead — at 1/4 of the core's
# share, not all of it: the 48 B/edge estimate is the steady-state
# arrays, while the real mapInPandas peak also holds the Arrow batch
# plus transient pandas copies, and the task must leave the executor
# room to run at all. (Round-9 ADVICE fix: the previous mem/48B gate
# let the ESTIMATED state alone equal 100% of per-core memory, so the
# true peak could OOM the very task the gate protects.)
_LPA_COARSE_MAX_EDGES = 20_000_000
_LPA_EDGE_BYTES = 48
_LPA_MEM_HEADROOM = 4  # use 1/4 of per-core memory for the solve state


def _lpa_coarse_gate() -> int:
    from udacity_data_engineer_capstone_spark.session import profile_from_env

    prof = profile_from_env()
    if prof.mem_gb_per_core:
        budget = int(prof.mem_gb_per_core * (1 << 30)) // _LPA_MEM_HEADROOM
        derived = budget // _LPA_EDGE_BYTES
        return max(1, min(_LPA_COARSE_MAX_EDGES, derived))
    return _LPA_COARSE_MAX_EDGES
_LPA_COARSE_ITER_CAP = 50
_LPA_COARSE_DIST_CAP = 8

# one textual definition of the capped-sample order, shared between the
# engine window and the DuckDB coarsen oracle
_LPA_CAP_HASH_SQL = "(s * 2654435761 + d * 40503) % 4294967296"

# capped per-customer incoming-supplier lists per (application, sf_dir),
# like the shared adjacency: the one window sort is paid once
_LPA_CAPPED = Memo(capacity=4, release=lambda entry: entry[0].unpersist())


def _lpa_capped_lists(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    return _LPA_CAPPED.get(
        spark, os.path.abspath(sf_dir), lambda: _build_lpa_capped(spark, sf_dir)
    )


def _build_lpa_capped(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    from pyspark.sql import Window as W

    bidir = _purchase_graph(spark, sf_dir)["bidir"]
    # Knuth multiplicative mix, NOT xxhash64: the sample order must be
    # portable so the coarsen stage is DuckDB-replayable
    # (graph_lpa_coarsen, the oracled sub-claim of graph_lpa_approx).
    # s ≤ ~2e6·2654435761 ≈ 5e15 and d·40503 ≤ ~2.4e12 at sf100 — the
    # mix stays far inside int64. Hash collisions (mod 2^32) break on s
    # so the capped sample is a total order in both engines.
    w = W.partitionBy("d").orderBy(F.expr(_LPA_CAP_HASH_SQL), F.col("s"))
    capped = (
        bidir.filter(F.col("d") % 2 == 0)  # edges INTO customers
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _LPA_COARSE_K)
        .drop("rn")
        # window already hash-partitioned by d; keep that layout so the
        # per-customer groupBy below needs no exchange
        .persist()
    )
    return capped, capped.count()


def _solve_coarse_lpa(pdf_iter):
    """Single size-gated executor task: run LPA to convergence on the
    supplier-level coarse graph (mode of neighbor labels, ties to the
    smallest label — the same vote as the distributed rounds)."""
    import collections

    import pandas as pd

    adj: dict = collections.defaultdict(list)
    for pdf in pdf_iter:
        for a, b in zip(pdf["a"], pdf["b"]):
            adj[a].append(b)
            adj[b].append(a)
    labels = {n: n for n in adj}
    it = 0
    for it in range(1, _LPA_COARSE_ITER_CAP + 1):
        changed = 0
        new = {}
        for n, nbrs in adj.items():
            cnt = collections.Counter(labels[x] for x in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            new[n] = best
            if best != labels[n]:
                changed += 1
        labels = new
        if changed == 0:
            break
    yield pd.DataFrame(
        {
            "node": list(labels),
            "label": [labels[n] for n in labels],
            "iters": it,
        }
    )


def _undirected(coarse: DataFrame) -> DataFrame:
    return coarse.union(coarse.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _lpa_vote(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round over the undirected edges ``und``
    (``a``, ``b``): every node takes the mode of its neighbors' labels,
    ties to the smallest label — the :func:`_solve_coarse_lpa` vote.
    ``(node, label)`` -> ``(node, label)``."""
    return (
        und.join(labels, und["a"] == labels["node"])
        .groupBy(F.col("b").alias("nd"), "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(F.col("nd").alias("node"))
        .agg(
            F.max_by(
                "label", F.struct(F.col("c"), (-F.col("label")).alias("t"))
            ).alias("label")
        )
    )


def _coarse_lpa_distributed(coarse: DataFrame) -> DataFrame:
    """Fallback when the coarse graph exceeds the single-task gate:
    synchronous :func:`_lpa_vote` rounds over the (supplier-sized)
    coarse edges to an exact fixpoint (:func:`_state_signature`);
    raises at the round cap rather than return a truncated labeling."""
    und = _undirected(coarse).localCheckpoint(eager=False)
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels, rounds, _ = converge(
        labels,
        lambda prev: _lpa_vote(und, prev),
        lambda lab: _state_signature(lab, ("node", "label")),
        _LPA_COARSE_DIST_CAP,
        name="coarse LPA",
    )
    return labels.withColumn("iters", F.lit(rounds).cast("int"))


@query("graph_lpa_approx", tags=("graph", "iterative", "approx"))
def graph_lpa_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTILEVEL approximate label propagation (coarsen → solve →
    project), the production escape hatch for community detection on
    the bipartite purchase graph.

    Why not a flat early-exit loop: synchronous LPA here oscillates
    period-2, so cycle detection needs ≥3 full-graph rounds — it can
    never undercut the 3-round exact contract query — and the
    convergent semi-synchronous variant (update one bipartition class
    per half-round; monotone potential, no oscillation) was measured
    needing 4 sweeps = slower than exact at local latency floors
    (SCALE.md r7 note). The multilevel scheme is the standard
    restructure: (1) COARSEN — cap each customer's supplier
    neighborhood at {k} by deterministic hash sample (one cached
    window, edge work O(n·K) thereafter, not O(E)) and anchor every
    customer to its smallest capped supplier; (2) SOLVE — run LPA to
    actual convergence on the supplier-level coarse graph, in a single
    executor task while the coarse edge count is under the
    {gate:,}-edge gate (`mapInPandas`, Arrow-batched), else through
    the distributed round loop (:func:`_coarse_lpa_distributed`); (3)
    PROJECT — customers inherit their anchor's converged label with one
    broadcast-sized join. Net: 2-3 actions total vs 3 full-graph
    rounds, and the labeling is CONVERGED (the flat 3-round snapshot is
    mid-oscillation). tests/test_graph_approx.py pins full coverage,
    convergence, and agreement with the converged flat semisync
    labeling; rows-only driver check (round count is data-dependent by
    design) — the deterministic COARSEN half is hash-matched through
    the oracled sibling :func:`graph_lpa_coarsen` (round-11
    directive 5).""".replace("{k}", str(_LPA_COARSE_K)).replace(
        "{gate:,}", f"{_LPA_COARSE_MAX_EDGES:,}"
    )
    g = _purchase_graph(spark, sf_dir)
    capped, n_capped = _lpa_capped_lists(spark, sf_dir)
    lists = (
        capped.groupBy(F.col("d").alias("cust"))
        .agg(F.min("s").alias("anchor"), F.collect_set("s").alias("supps"))
        .localCheckpoint(eager=False)
    )
    coarse = (
        lists.select("anchor", F.explode("supps").alias("other"))
        .filter(F.col("anchor") != F.col("other"))
        .select(F.col("anchor").alias("a"), F.col("other").alias("b"))
        .distinct()
    )
    if n_capped <= _lpa_coarse_gate():
        solved = coarse.repartition(1).mapInPandas(
            _solve_coarse_lpa, "node bigint, label bigint, iters int"
        )
    else:
        solved = _coarse_lpa_distributed(coarse)
    solved = solved.localCheckpoint(eager=False)
    head = solved.first()
    iters = head["iters"] if head is not None else 0
    supp_labels = solved.select("node", "label")
    # re-verify the convergence claim itself: one distributed re-vote
    # must change ZERO labels, i.e. the returned labeling is a true LPA
    # fixpoint of the coarse graph, not a cap-truncated snapshot
    revote = _lpa_vote(_undirected(coarse), supp_labels)
    n_changed = (
        revote.select(F.col("node").alias("rv_node"), F.col("label").alias("vote"))
        .join(supp_labels, F.col("rv_node") == supp_labels["node"])
        .filter(F.col("vote") != F.col("label"))
        .count()
    )
    if n_changed:
        raise AssertionError(
            f"graph_lpa_approx: returned labeling is NOT an LPA"
            f" fixpoint — a re-vote round changes {n_changed}"
            f" coarse labels (solver exited at iters={iters})"
        )
    cust_labels = (
        lists.select("cust", "anchor")
        .join(supp_labels.withColumnRenamed("node", "anchor"), "anchor")
        .select(F.col("cust").alias("node"), "label")
    )
    # suppliers outside every capped neighborhood keep their own label
    supp_all = (
        g["nodes"]
        .filter(F.col("node") % 2 == 1)
        .join(supp_labels, "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
    )
    return (
        cust_labels.unionByName(supp_all)
        .select(
            F.col("node").alias("node_id"),
            F.col("label").alias("community"),
            F.lit(iters).cast("int").alias("rounds_run"),
        )
    )


_HITS_APPROX_CAP = 6
_HITS_APPROX_TOPK = 20


@query("graph_hits_approx", tags=("graph", "iterative", "approx"))
def graph_hits_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS with an authority-ranking stability exit: iterate
    hub→authority rounds (same integer max-normalized lanes as
    :func:`graph_hits`) until a round changes ≤10% of the top-20
    authority membership (the same churn criterion as
    :func:`graph_pagerank_approx`), capped at {cap} rounds — more
    precision than the exact 2-round contract query when the ranking
    needs it, without a fixed high round count when it
    doesn't. The per-round math and the uncapped-claim shape are
    hash-matched through the oracled fixed-round sibling
    :func:`graph_hits_topk_fixed` (round-11 directive 5); this variant
    only adds the churn exit.""".replace("{cap}", str(_HITS_APPROX_CAP))
    edges = _hits_edges(spark, sf_dir)
    step = _hits_round(edges)

    def top_auth(auth: DataFrame) -> frozenset:
        return _topk_ids(
            auth.select(F.col("s").alias("node"), "a"), "a", _HITS_APPROX_TOPK
        )

    auth, rounds, top = converge(
        _hits_init(edges),
        lambda auth: step(auth)[1],
        top_auth,
        _HITS_APPROX_CAP,
        name="graph_hits_approx",
        stop=_churn_stable(_HITS_APPROX_TOPK),
        capped_ok=True,
    )
    # sibling kernel at the CONVERGED round — _hits_rounds is the literal
    # shared kernel the oracled fixed-round sibling hash-matches at its
    # cap (module self-check note)
    sib_auth = _hits_rounds(edges, rounds)[1]
    _assert_sibling_equal("graph_hits_approx", top, top_auth(sib_auth), rounds)
    return (
        auth.orderBy(F.col("a").desc(), F.col("s").asc())
        .limit(_HITS_APPROX_TOPK)
        .select(
            F.col("s").cast("long").alias("node_id"),
            F.col("a").cast("long").alias("authority_milli"),
            F.lit(rounds).cast("int").alias("rounds_run"),
        )
    )


# ---------------------------------------------------------------------------
# fixed-round oracled siblings of the approx evals (round-11 directive 5)
# ---------------------------------------------------------------------------
#
# The three ``_approx`` queries above are rows-only BY DESIGN (their
# round counts are data-dependent). Each cites a sibling here whose
# claim IS deterministic and DuckDB-replayable: the same top-k /
# coarsen artifact at a FIXED round count, hash-matched through the
# oracle gate. Together: the oracled sibling proves the per-round math
# and the claim shape; the approx variant only adds the (measured,
# test-pinned) early exit on top.


def _pagerank_topk_oracle() -> str:
    ctes = [_GRAPH_CTES.format(scale=SCALE)]
    for i in range(1, ITERS + 1):
        ctes.append(_PR_STEP.format(i=i, prev=i - 1, base=BASE))
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT node_id, pr_rank FROM (
  SELECT node AS node_id, r AS pr_rank,
         ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rn
  FROM pr{ITERS}
) t WHERE rn <= {_APPROX_TOPK}
"""
    )


@query(
    "graph_pagerank_topk_fixed",
    oracle=_pagerank_topk_oracle(),
    tags=("graph", "iterative", "approx"),
)
def graph_pagerank_topk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-{k} PageRank membership at EXACTLY {iters} rounds — the
    oracled fixed-round sub-claim that :func:`graph_pagerank_approx`
    cites: identical per-round integer lanes (the unrolled-SQL oracle
    replays all {iters} rounds), identical top-k ordering (rank desc,
    node asc), no early exit. Top-k extraction is a TakeOrdered (k rows
    per partition pre-reduced), never a global sort.""".replace(
        "{k}", str(_APPROX_TOPK)
    ).replace("{iters}", str(ITERS))
    pr = graph_pagerank(spark, sf_dir)
    return pr.orderBy(F.col("pr_rank").desc(), F.col("node_id")).limit(
        _APPROX_TOPK
    )


def _hits_fixed_oracle(rounds: int, topk: int) -> str:
    # MATERIALIZED: the edge CTE is referenced 2·rounds+1 times; DuckDB
    # would otherwise inline (re-scan + re-join) it per reference and
    # run out of file handles on the unrolled 6-round chain
    ctes = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
)""",
        f"a0n AS (SELECT DISTINCT s, CAST({_HITS_SCALE} AS BIGINT) AS a"
        " FROM edges)",
    ]
    # every round CTE is MATERIALIZED: each normalization references
    # its input twice (scalar MAX + projection), so inlining doubles
    # the plan per level — 2^(4·rounds) blowup on the unrolled chain
    # (measured: the 6-round chain never finishes planning un-hinted)
    for i in range(1, rounds + 1):
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT e.c, CAST(SUM(an.a) AS BIGINT) AS h"
            f" FROM edges e JOIN a{i - 1}n an ON an.s = e.s GROUP BY e.c)"
        )
        ctes.append(
            f"h{i}n AS MATERIALIZED (SELECT c, h * {_HITS_SCALE} //"
            f" (SELECT MAX(h) FROM h{i}) AS h FROM h{i})"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT e.s, CAST(SUM(hn.h) AS BIGINT) AS a"
            f" FROM edges e JOIN h{i}n hn ON hn.c = e.c GROUP BY e.s)"
        )
        ctes.append(
            f"a{i}n AS MATERIALIZED (SELECT s, a * {_HITS_SCALE} //"
            f" (SELECT MAX(a) FROM a{i}) AS a FROM a{i})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node_id, authority_milli FROM (
  SELECT CAST(s AS BIGINT) AS node_id, CAST(a AS BIGINT) AS authority_milli,
         ROW_NUMBER() OVER (ORDER BY a DESC, s) AS rn
  FROM a{rounds}n
) t WHERE rn <= {topk}
"""
    )


@query(
    "graph_hits_topk_fixed",
    oracle=_hits_fixed_oracle(_HITS_APPROX_CAP, _HITS_APPROX_TOPK),
    tags=("graph", "iterative", "approx"),
)
def graph_hits_topk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} HITS authorities at EXACTLY {r} rounds (the approx
    variant's cap) — the oracled fixed-round sub-claim that
    :func:`graph_hits_approx` cites. Same integer max-normalized
    half-rounds (the generated oracle unrolls all {r}), same
    (authority desc, node asc) top-k, no churn exit.""".replace(
        "{k}", str(_HITS_APPROX_TOPK)
    ).replace("{r}", str(_HITS_APPROX_CAP))
    _, auth = _hits_rounds(_hits_edges(spark, sf_dir), _HITS_APPROX_CAP)
    return (
        auth.orderBy(F.col("a").desc(), F.col("s").asc())
        .limit(_HITS_APPROX_TOPK)
        .select(
            F.col("s").cast("long").alias("node_id"),
            F.col("a").cast("long").alias("authority_milli"),
        )
    )


_LPA_COARSEN_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
rev AS (SELECT d AS s, s AS d FROM edges),
capped AS (
  SELECT cust, supp FROM (
    SELECT d AS cust, s AS supp,
           ROW_NUMBER() OVER (PARTITION BY d
             ORDER BY {_LPA_CAP_HASH_SQL}, s) AS rn
    FROM rev
  ) t WHERE rn <= {{k}}
)
SELECT CAST(cust AS BIGINT) AS cust_node,
       CAST(MIN(supp) AS BIGINT) AS anchor_node,
       CAST(COUNT(*) AS BIGINT) AS n_capped
FROM capped GROUP BY cust
""".replace("{k}", str(_LPA_COARSE_K))


@query(
    "graph_lpa_coarsen",
    oracle=_LPA_COARSEN_ORACLE,
    tags=("graph", "approx"),
)
def graph_lpa_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COARSEN stage of :func:`graph_lpa_approx` as its oracled
    deterministic sub-claim: every customer's hash-capped supplier
    sample (the portable Knuth-mix order, k={k}) and its anchor — the
    entire data-shaping half of the multilevel scheme, hash-matched
    row-for-row in DuckDB. What remains rows-only in the approx
    variant is exactly the converge loop, whose round count is
    data-dependent by design.""".replace("{k}", str(_LPA_COARSE_K))
    capped, _n = _lpa_capped_lists(spark, sf_dir)
    return capped.groupBy(F.col("d").alias("cust_node")).agg(
        F.min("s").alias("anchor_node"),
        F.count(F.lit(1)).cast("long").alias("n_capped"),
    )


# ---------------------------------------------------------------------------
# SCC of a functional graph via pointer doubling (parallel prefix)
# ---------------------------------------------------------------------------

# Every node has exactly ONE out-edge: succ(u) = (u * 48271 + 7) % n
# over the customer key space (c_custkey is 0..n-1 in this testdata) — a functional graph, i.e. "rho" shapes:
# trees draining into cycles. Its strongly connected components are
# exactly the cycles, and finding them exercises the one parallel-graph
# primitive the rest of the family doesn't: POINTER DOUBLING (pointer
# jumping / parallel prefix), which resolves any chain in O(log n)
# self-join rounds instead of O(n) label-propagation steps. This is the
# workhorse for list ranking, tree rooting, and permutation cycle
# detection at scale (e.g. validating a pseudorandom shard permutation).

_SCC_MULT = 48271  # Lehmer/Park-Miller multiplier
_SCC_ADD = 7
_SCC_ORACLE_DOUBLINGS = 12  # 2^12 = 4096 >= n at every oracle gate scale


def _scc_oracle() -> str:
    """Unrolled pointer-doubling CTE chain: p{k} maps every node to
    f^(2^k)(node) with mn = min over the 2^k-node path window. Any
    doubling count with 2^t >= n yields the same output (the window
    min stabilizes once it covers tail+cycle; the cycle set is the
    f^N image for every N >= n), so the oracle's fixed unroll and the
    engine's dynamic ceil(log2(n)) rounds agree."""
    steps = []
    for k in range(1, _SCC_ORACLE_DOUBLINGS + 1):
        steps.append(
            f"p{k} AS MATERIALIZED (\n"
            f"  SELECT a.node, b.ptr, LEAST(a.mn, b.mn) AS mn\n"
            f"  FROM p{k-1} a JOIN p{k-1} b ON b.node = a.ptr\n)"
        )
    last = f"p{_SCC_ORACLE_DOUBLINGS}"
    return (
        f"""
WITH nn AS (SELECT COUNT(*) AS n FROM customer),
p0 AS MATERIALIZED (
  SELECT CAST(c_custkey AS BIGINT) AS node,
         (CAST(c_custkey AS BIGINT) * {_SCC_MULT} + {_SCC_ADD})
            % nn.n AS ptr,
         CAST(c_custkey AS BIGINT) AS mn
  FROM customer, nn
),
"""
        + ",\n".join(steps)
        + f""",
cyc AS (SELECT DISTINCT ptr FROM {last}),
guard AS (
  -- self-explanatory failure instead of a confusing value mismatch if
  -- a future parity gate outgrows the fixed unroll (engine right,
  -- oracle wrong past this bound)
  SELECT CASE WHEN n > {2 ** _SCC_ORACLE_DOUBLINGS}
              THEN error('SCC oracle unroll ({_SCC_ORACLE_DOUBLINGS} '
                         'doublings) only valid for n <= '
                         '{2 ** _SCC_ORACLE_DOUBLINGS}; raise '
                         '_SCC_ORACLE_DOUBLINGS')
              ELSE 1 END AS ok
  FROM nn
)
SELECT a.node AS node_id,
       (c.ptr IS NOT NULL) AS on_cycle,
       CAST(m.mn AS BIGINT) AS cycle_id
FROM {last} a
LEFT JOIN cyc c ON c.ptr = a.node
JOIN {last} m ON m.node = a.ptr
CROSS JOIN guard
"""
    )


def _pointer_double(state: DataFrame) -> DataFrame:
    """One doubling round: ``(node, ptr, mn)`` -> ``(node, ptr∘ptr,
    min(mn, mn(ptr)))``, a self-equi-join on ``b.node = a.ptr``."""
    nxt = state.select(
        F.col("node").alias("b_node"),
        F.col("ptr").alias("b_ptr"),
        F.col("mn").alias("b_mn"),
    )
    return state.join(nxt, state.ptr == nxt.b_node).select(
        "node", F.col("b_ptr").alias("ptr"), F.least("mn", "b_mn").alias("mn")
    )


@query("graph_scc_functional", oracle=_scc_oracle(), tags=("graph", "iterative"))
def graph_scc_functional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cycle (= SCC) detection over a functional graph by pointer
    doubling: state is one row per node ``(node, ptr, mn)`` where after
    round k ``ptr = f^(2^k)(node)`` and ``mn`` is the min node id on
    the 2^k-long path window starting at ``node``. Each round is ONE
    self-equi-join (``b.node = a.ptr``) — after ceil(log2(n)) rounds
    every window covers its whole tail+cycle, so for cycle nodes ``mn``
    IS the cycle's canonical id, the f^(2^t) image IS the cycle set,
    and every node's component id is ``mn(ptr)`` (one more join).

    Scale shape: O(log n) rounds of node-sized hash joins on the same
    key — 18 rounds at 150 billion nodes, each shuffle-partitionable
    and AQE-planned, vs the O(cycle length) rounds a min-label
    propagation (graph_cluster_cc's shape) would need on a long cycle.
    State never exceeds one row per node; lineage is truncated per
    round (localCheckpoint) exactly like the family's other loops.
    Oracle: the same doubling unrolled as CTEs — value-identical for
    any doubling count with 2^t >= n (see _scc_oracle docstring)."""
    import math

    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()
    t = max(1, math.ceil(math.log2(max(2, n))))
    state = cust.select(
        F.col("c_custkey").cast("long").alias("node"),
        (
            (F.col("c_custkey").cast("long") * _SCC_MULT + _SCC_ADD) % n
        ).alias("ptr"),
        F.col("c_custkey").cast("long").alias("mn"),
    ).localCheckpoint(eager=False)
    # a fixed ceil(log2 n) rounds, so no convergence probe; each round's
    # self-join is checkpointed so the next one starts from O(1) lineage
    for _ in range(t):
        state = _pointer_double(state).localCheckpoint(eager=False)
    cyc = state.select(F.col("ptr").alias("cyc_node")).distinct()
    mn_of = state.select(
        F.col("node").alias("m_node"), F.col("mn").alias("m_mn")
    )
    return (
        state.join(cyc, state.node == cyc.cyc_node, "left")
        .join(mn_of, state.ptr == F.col("m_node"))
        .select(
            F.col("node").alias("node_id"),
            F.col("cyc_node").isNotNull().alias("on_cycle"),
            F.col("m_mn").alias("cycle_id"),
        )
    )
