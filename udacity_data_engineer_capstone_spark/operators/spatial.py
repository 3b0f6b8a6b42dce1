"""Spatial neighbor join via grid bucketing.

Extension surface (the reference — ``/root/reference/etl.py`` — has no
spatial operators): the standard "all pairs within radius r" join done
the scalable way — hash every point to an r-sized grid cell, stamp one
side onto its 3×3 cell neighborhood, equi-join on cell, then verify the
exact distance. Unlike LSH this bucketing is COMPLETE (a pair within r
always shares a stamped cell), so the result equals the brute-force
answer exactly while the shuffle stays linear in points × 9.

Coordinates are synthesized deterministically from user ids in integer
micro-units, and the distance kernel is pure int64 arithmetic — both
engines agree bit-for-bit.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.catalog import load_table, register_views
from udacity_data_engineer_capstone_spark.registry import query

# bounded eviction ring for the per-invocation persisted candidate
# frame (same device as operators/graph.py's adjacency cache): repeated
# invocations (bench median-of-N, registry-wide plan sweeps) would
# otherwise accumulate cached blocks for the session lifetime. persist
# (not localCheckpoint) keeps eviction recompute-safe — lineage
# survives unpersist, so a still-referenced result silently recomputes.
# Queries on several driver threads share it, so it mutates under a lock.
_PERSIST_RING: list[DataFrame] = []
_PERSIST_RING_MAX = 4
_PERSIST_LOCK = threading.Lock()

# populated by spatial_knn_join with its lazy cert/unproven frames —
# test introspection only (see the hook comment in the operator)
_LAST_PARTS: dict[str, DataFrame] = {}


def _ring_persist(df: DataFrame) -> DataFrame:
    df.persist()
    with _PERSIST_LOCK:
        _PERSIST_RING.append(df)
        while len(_PERSIST_RING) > _PERSIST_RING_MAX:
            try:
                _PERSIST_RING.pop(0).unpersist()
            except Exception:
                pass
    return df


_SPAN = 1_000_000  # coordinate space [0, 1e6)^2, micro-units
_RADIUS = 100_000  # neighbor radius (10% of span)
_MULT_X = 2_654_435_761  # Knuth multiplicative-hash constants
_MULT_Y = 40_503

# Sequential user ids under a plain multiplicative hash mod SPAN form a
# lattice whose nearest-neighbor spacing can exceed any radius (zero
# result rows = vacuous operator); squaring the mixed value first breaks
# the constant-increment structure. h ≤ 2^31-1 so h*h fits int64.
_POINTS_CTE = f"""
points AS MATERIALIZED (
  SELECT user_id,
         ((user_id * {_MULT_X}) % 2147483647)
           * ((user_id * {_MULT_X}) % 2147483647) % {_SPAN} AS x,
         ((user_id * {_MULT_Y} + 7919) % 2147483647)
           * ((user_id * {_MULT_Y} + 7919) % 2147483647) % {_SPAN} AS y
  FROM (SELECT DISTINCT user_id FROM events)
)
"""

_SPATIAL_ORACLE = f"""
WITH {_POINTS_CTE}
SELECT a.user_id AS a_id, b.user_id AS b_id,
       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT)
         AS dist2
FROM points a JOIN points b ON a.user_id < b.user_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {_RADIUS * _RADIUS}
"""


@query("join_spatial_grid", oracle=_SPATIAL_ORACLE, tags=("join", "spatial"))
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within radius r, via grid-cell bucketing.

    Each point lands in cell (x//r, y//r); the left side is stamped onto
    its 9-cell neighborhood, so any pair within r shares a join key by
    construction (cells are r-sized ⇒ a neighbor is at most one cell
    away in each axis) — completeness is geometric, not probabilistic.
    The oracle brute-forces the quadratic pair space; the engine's
    shuffle carries 9 narrow rows per point and the per-cell join is
    bounded by local density, not corpus size. Exact int64 distances —
    no floating point anywhere."""
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                ((F.col("user_id") * _MULT_X) % 2147483647)
                * ((F.col("user_id") * _MULT_X) % 2147483647)
                % _SPAN
            ).alias("x"),
            (
                ((F.col("user_id") * _MULT_Y + 7919) % 2147483647)
                * ((F.col("user_id") * _MULT_Y + 7919) % 2147483647)
                % _SPAN
            ).alias("y"),
        )
    )
    # integer cell index (coords are non-negative, so DIV == floor)
    cell = lambda c: F.expr(f"{c} DIV {_RADIUS}")  # noqa: E731
    # left side stamped onto 3x3 neighborhood
    offsets = F.expr("explode(sequence(-1, 1))")
    a = (
        pts.select(
            F.col("user_id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (cell("x")).alias("cx"),
            (cell("y")).alias("cy"),
        )
        .withColumn("dx", F.expr("explode(sequence(-1, 1))"))
        .withColumn("dy", offsets)
        .select(
            "a_id",
            "ax",
            "ay",
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    b = pts.select(
        F.col("user_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["cx", "cy"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", d2.cast("bigint").alias("dist2"))
        .where(F.col("dist2") <= _RADIUS * _RADIUS)
    )


# ---------------------------------------------------------------------------
# geohash-style cell encoding (bit interleave -> base32 string)
# ---------------------------------------------------------------------------

# Same deterministic point cloud as join_spatial_grid; each point's
# (x, y) micro-coordinates quantize to 15 bits per axis, interleave to a
# 30-bit cell id (x on the odd/high bit of each pair, geohash-style), and
# render as 6 base32 characters. Everything is integer arithmetic over
# non-negative operands, so truncating division is identical in Spark
# (DIV) and DuckDB (//); the bit extraction is an unrolled 30-term sum —
# verbose SQL, but one codegen'd projection with no Python and no joins.
_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_GEOHASH_BITS = 15


def _interleave_sql(div: str) -> str:
    terms = []
    for i in range(_GEOHASH_BITS):
        terms.append(f"((xb {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((yb {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def _geohash_chars_sql(div: str) -> str:
    parts = []
    for j in range(6):
        shift = 1 << (25 - 5 * j)
        parts.append(
            f"substr('{_GEOHASH_B32}', CAST((cell {div} {shift}) % 32 AS INT)"
            " + 1, 1)"
        )
    return "concat(" + ", ".join(parts) + ")"


def _geohash_sql(div: str) -> str:
    return f"""
WITH {_POINTS_CTE},
quant AS (
  SELECT user_id, x, y,
         (x * {1 << _GEOHASH_BITS}) {div} {_SPAN} AS xb,
         (y * {1 << _GEOHASH_BITS}) {div} {_SPAN} AS yb
  FROM points
),
cells AS (
  SELECT user_id, x, y, CAST({_interleave_sql(div)} AS BIGINT) AS cell
  FROM quant
)
SELECT user_id, x, y, cell,
       {_geohash_chars_sql(div)} AS geohash6,
       substr({_geohash_chars_sql(div)}, 1, 4) AS cell4
FROM cells
"""


@query(
    "fn_geohash_encode",
    oracle=_geohash_sql("//"),
    tags=("function", "spatial"),
)
def fn_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-style cell encoding of the deterministic point cloud:
    15-bit quantization per axis, bit interleave to a 30-bit Morton
    cell (cf. ``fn_zorder_curve``, which uses the same curve for file
    LAYOUT; this renders it as the prefix-searchable base32 STRING that
    geo APIs expose). Truncating a geohash string right-to-left widens
    the cell — the property radius queries and cache keys rely on.

    Map-only projection: no shuffle, no Python, one whole-stage-codegen
    span at any scale."""
    register_views(spark, sf_dir, ("events",))
    # _POINTS_CTE carries DuckDB's MATERIALIZED hint; Spark's parser
    # doesn't take it (and Spark has no equivalent inline hint to need)
    return spark.sql(_geohash_sql("DIV").replace("AS MATERIALIZED (", "AS ("))


# ---------------------------------------------------------------------------
# grid-accelerated DBSCAN (density clustering without a cartesian pass)
# ---------------------------------------------------------------------------

_DBSCAN_EPS = 30_000   # eps: 3% of the span — sparse at sf0.001, mixed
_DBSCAN_MINPTS = 8     # |N_eps(p)| including p itself

_DBSCAN_ORACLE = f"""
WITH RECURSIVE {_POINTS_CTE.strip()},
pairs AS MATERIALIZED (
  SELECT a.user_id AS a_id, b.user_id AS b_id
  FROM points a JOIN points b ON a.user_id < b.user_id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {_DBSCAN_EPS * _DBSCAN_EPS}
),
nbr AS MATERIALIZED (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM pairs
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n FROM nbr GROUP BY u),
core AS MATERIALIZED (
  SELECT u FROM deg WHERE n + 1 >= {_DBSCAN_MINPTS}
),
cedges AS MATERIALIZED (
  SELECT n.u AS s, n.v AS d
  FROM nbr n
  JOIN core c1 ON c1.u = n.u
  JOIN core c2 ON c2.u = n.v
),
reach(src, dst) AS (
  SELECT s, d FROM cedges
  UNION
  SELECT r.src, e.d
  FROM reach r JOIN cedges e ON r.dst = e.s
  WHERE e.d <> r.src
),
core_label AS MATERIALIZED (
  SELECT c.u, LEAST(c.u, COALESCE(MIN(r.dst), c.u)) AS cluster
  FROM core c LEFT JOIN reach r ON r.src = c.u
  GROUP BY c.u
),
border AS (
  SELECT n.u, CAST(MIN(cl.cluster) AS BIGINT) AS cluster
  FROM nbr n
  JOIN core_label cl ON cl.u = n.v
  WHERE n.u NOT IN (SELECT u FROM core)
  GROUP BY n.u
)
SELECT p.user_id,
       CASE WHEN cl.u IS NOT NULL THEN 'core'
            WHEN b.u IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cl.cluster, b.cluster) AS BIGINT) AS cluster
FROM points p
LEFT JOIN core_label cl ON cl.u = p.user_id
LEFT JOIN border b ON b.u = p.user_id
"""


@query("spatial_dbscan_grid", oracle=_DBSCAN_ORACLE, tags=("spatial", "iterative"))
def spatial_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the deterministic point cloud, grid-accelerated:
    eps-neighbor pairs come from the COMPLETE 3×3 cell bucketing (the
    ``join_spatial_grid`` construction at eps cell size — geometric,
    not probabilistic), core points have ≥ minPts neighbors including
    self, clusters are connected components of the core-core graph
    (large-star/small-star rounds — O(log n), deep-chain safe), and
    border points take the MINIMUM adjacent core cluster (plain DBSCAN
    is insertion-order-dependent there; min is the deterministic
    refinement both engines share). Everything integer: coordinates,
    distances, labels.

    Scale shape: pair generation shuffles 9 narrow rows per point;
    degree/core are one hash aggregate; the CC runs on the CORE
    subgraph only; border assignment is one more equi-join. Nothing is
    quadratic except per-cell local density — the same bound as the
    radius join. The oracle brute-forces pairs and closes the core
    graph with a recursive CTE."""
    from udacity_data_engineer_capstone_spark.operators.clustering import (
        star_components,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                ((F.col("user_id") * _MULT_X) % 2147483647)
                * ((F.col("user_id") * _MULT_X) % 2147483647)
                % _SPAN
            ).alias("x"),
            (
                ((F.col("user_id") * _MULT_Y + 7919) % 2147483647)
                * ((F.col("user_id") * _MULT_Y + 7919) % 2147483647)
                % _SPAN
            ).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    cell = lambda c: F.expr(f"{c} DIV {_DBSCAN_EPS}")  # noqa: E731
    a = (
        pts.select(
            F.col("user_id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            cell("x").alias("cx"),
            cell("y").alias("cy"),
        )
        .withColumn("dx", F.expr("explode(sequence(-1, 1))"))
        .withColumn("dy", F.expr("explode(sequence(-1, 1))"))
        .select(
            "a_id",
            "ax",
            "ay",
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    b = pts.select(
        F.col("user_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = (
        a.join(b, ["cx", "cy"])
        .where(F.col("a_id") < F.col("b_id"))
        .where(d2 <= _DBSCAN_EPS * _DBSCAN_EPS)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    nbr = pairs.select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    ).unionAll(pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
    deg = nbr.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    core = deg.where(F.col("n") + 1 >= _DBSCAN_MINPTS).select("u")
    core = core.localCheckpoint(eager=False)
    cedges = (
        nbr.join(core, "u", "left_semi")
        .join(core.withColumnRenamed("u", "v"), "v", "left_semi")
        .where(F.col("u") < F.col("v"))
        .select(F.col("u").alias("a_id"), F.col("v").alias("b_id"))
    )
    labels, _rounds = star_components(cedges)
    core_label = (
        core.join(labels, core["u"] == labels["u"], "left")
        .select(
            core["u"],
            F.coalesce(labels["label"], core["u"]).cast("long").alias("cluster"),
        )
        .localCheckpoint(eager=False)
    )
    border = (
        nbr.join(core, "u", "left_anti")  # non-core side
        .join(
            core_label.select(
                F.col("u").alias("v"), F.col("cluster").alias("vc")
            ),
            "v",
        )
        .groupBy("u")
        .agg(F.min("vc").cast("long").alias("cluster"))
    )
    return (
        pts.select("user_id")
        .join(
            core_label.select(
                F.col("u").alias("user_id"),
                F.col("cluster").alias("core_cluster"),
            ),
            "user_id",
            "left",
        )
        .join(
            border.select(
                F.col("u").alias("user_id"),
                F.col("cluster").alias("border_cluster"),
            ),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.when(F.col("core_cluster").isNotNull(), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("core_cluster", "border_cluster")
            .cast("long")
            .alias("cluster"),
        )
    )


# ---------------------------------------------------------------------------
# point-in-region join (containment via the same grid pruning)
# ---------------------------------------------------------------------------

# Five deterministic rectangular regions tile interesting parts of the
# coordinate space (integer bounds, half-open [lo, hi)); a point can
# fall in several (regions 0 and 4 overlap). Containment is exact
# integer comparison — the polygon case reduces to this after a
# bounding-box prune, which is the part that needs the grid.
_REGIONS = [
    # (region_id, x_lo, x_hi, y_lo, y_hi)
    (0, 0, 400_000, 0, 400_000),
    (1, 600_000, 1_000_000, 0, 300_000),
    (2, 0, 250_000, 700_000, 1_000_000),
    (3, 500_000, 900_000, 550_000, 950_000),
    (4, 300_000, 700_000, 300_000, 700_000),
]

_REGION_VALUES = ", ".join(f"({r}, {a}, {b}, {c}, {d})" for r, a, b, c, d in _REGIONS)

_PIR_ORACLE = f"""
WITH {_POINTS_CTE.strip()},
regions(region_id, x_lo, x_hi, y_lo, y_hi) AS (VALUES {_REGION_VALUES})
SELECT r.region_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(p.user_id) AS BIGINT) AS min_user,
       CAST(SUM(p.user_id) AS BIGINT) AS sum_users
FROM points p JOIN regions r
  ON p.x >= r.x_lo AND p.x < r.x_hi AND p.y >= r.y_lo AND p.y < r.y_hi
GROUP BY r.region_id
"""


@query("spatial_point_in_region", oracle=_PIR_ORACLE, tags=("spatial", "join"))
def spatial_point_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-region containment join — the second classic spatial
    shape after the radius join: every point against a small region
    table (overlapping regions included), broadcast + range predicates
    evaluated map-side, rolled up per region. With a polygon table the
    same plan applies after a bounding-box prune; with a REGION table
    too large to broadcast, the grid-stamp trick from
    ``join_spatial_grid`` turns it into an equi-join (each region
    stamped onto the cells its box covers).

    Scale shape: regions broadcast (map-side containment, no shuffle
    of points beyond the rollup); exact integer bounds — no float
    geometry."""
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                ((F.col("user_id") * _MULT_X) % 2147483647)
                * ((F.col("user_id") * _MULT_X) % 2147483647)
                % _SPAN
            ).alias("x"),
            (
                ((F.col("user_id") * _MULT_Y + 7919) % 2147483647)
                * ((F.col("user_id") * _MULT_Y + 7919) % 2147483647)
                % _SPAN
            ).alias("y"),
        )
    )
    regions = spark.createDataFrame(
        _REGIONS, "region_id int, x_lo long, x_hi long, y_lo long, y_hi long"
    )
    cond = (
        (F.col("x") >= F.col("x_lo"))
        & (F.col("x") < F.col("x_hi"))
        & (F.col("y") >= F.col("y_lo"))
        & (F.col("y") < F.col("y_hi"))
    )
    return (
        pts.join(F.broadcast(regions), cond)
        .groupBy("region_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min("user_id").cast("long").alias("min_user"),
            F.sum("user_id").cast("long").alias("sum_users"),
        )
    )


# ---------------------------------------------------------------------------
# grid-bucketed exact k-nearest-neighbor join
# ---------------------------------------------------------------------------

# sim_knn_join (operators/similarity.py) is the documented small-n
# exact tool — a deliberate O(n^2) crossJoin. This is its SCALE-PATH
# spatial twin: exact k-NN whose shuffle stays linear in points, with a
# geometric completeness proof instead of brute force.

_KNN_K = 5
_KNN_QMOD = 37  # every 37th customer is a query point
_KNN_TARGET_PER_CELL = 24  # adaptive grid density target

_KNN_POINTS_SQL = f"""
  SELECT c_custkey AS id,
         ((c_custkey * {_MULT_X}) % 2147483647)
           * ((c_custkey * {_MULT_X}) % 2147483647) % {_SPAN} AS x,
         ((c_custkey * {_MULT_Y} + 7919) % 2147483647)
           * ((c_custkey * {_MULT_Y} + 7919) % 2147483647) % {_SPAN} AS y
  FROM customer
"""

_KNN_ORACLE = f"""
WITH pts AS MATERIALIZED ({_KNN_POINTS_SQL}),
q AS (SELECT * FROM pts WHERE id % {_KNN_QMOD} = 0)
SELECT a_id, b_id, dist2, CAST(rn AS INT) AS knn_rank
FROM (
  SELECT q.id AS a_id, p.id AS b_id,
         CAST((q.x - p.x) * (q.x - p.x)
              + (q.y - p.y) * (q.y - p.y) AS BIGINT) AS dist2,
         ROW_NUMBER() OVER (
           PARTITION BY q.id
           ORDER BY (q.x - p.x) * (q.x - p.x)
                    + (q.y - p.y) * (q.y - p.y), p.id) AS rn
  FROM q JOIN pts p ON p.id <> q.id
)
WHERE rn <= {_KNN_K}
"""


@query("spatial_knn_join", oracle=_KNN_ORACLE, tags=("spatial", "join"))
def spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor join via adaptive grid bucketing with a
    per-query optimality PROOF and an exact fallback for the rare
    queries the proof rejects.

    The point cloud (one deterministic point per customer) hashes into
    square cells of side G, sized so a cell holds ~{_KNN_TARGET_PER_CELL}
    points regardless of scale (G shrinks as sqrt(1/n) — the one
    driver-side action is a count). Each QUERY point (the smaller side,
    1/{_KNN_QMOD} of the cloud) is stamped onto its 5x5 cell
    neighborhood; candidates are gathered by cell equi-join and ranked
    by exact integer distance. Any point OUTSIDE the stamped block is
    farther than 2G in some axis, so when a query's k-th ranked
    candidate has dist2 <= (2G)^2 the block's top-k is provably the
    GLOBAL top-k — a geometric certificate, not a probabilistic one.
    Queries whose certificate fails (sparse corners: fewer than k
    candidates in the block, or a k-th neighbor beyond 2G) fall back to
    an exact broadcast scan — their count is bounded by the density
    target, so the fallback is a thin tail, never the plan.

    Scale shape: shuffle volume is queries x 25 narrow stamp rows plus
    points x 1; the per-cell join is bounded by local density; the
    ranking window partitions by query id (never global). At 100 TB the
    same plan holds — only G changes. The oracle brute-forces the
    quadratic pair space, so completeness of the block + fallback union
    is hash-verified, tie-break (dist2, then id) and all."""
    import math

    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()  # the single driver-side scalar (grid sizing)
    m = max(5, math.isqrt(max(1, n // _KNN_TARGET_PER_CELL)))
    g = max(1, _SPAN // m)
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (
            ((F.col("c_custkey") * _MULT_X) % 2147483647)
            * ((F.col("c_custkey") * _MULT_X) % 2147483647)
            % _SPAN
        ).alias("x"),
        (
            ((F.col("c_custkey") * _MULT_Y + 7919) % 2147483647)
            * ((F.col("c_custkey") * _MULT_Y + 7919) % 2147483647)
            % _SPAN
        ).alias("y"),
    )
    queries = pts.filter(F.col("id") % _KNN_QMOD == 0)

    # queries stamped onto their 5x5 cell neighborhood
    qa = (
        queries.select(
            F.col("id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            F.expr(f"x DIV {g}").alias("cx"),
            F.expr(f"y DIV {g}").alias("cy"),
        )
        .withColumn("dx", F.explode(F.sequence(F.lit(-2), F.lit(2))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-2), F.lit(2))))
        .select(
            "a_id",
            "ax",
            "ay",
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    pb = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr(f"x DIV {g}").alias("cx"),
        F.expr(f"y DIV {g}").alias("cy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    from pyspark.sql import Window

    w = Window.partitionBy("a_id").orderBy("dist2", "b_id")
    # persisted (k rows per query after the rank filter): the candidate
    # join + window feeds the fast path, the certificate, AND the
    # fallback's anti-join — uncached it would run 3x. Rides the
    # bounded eviction ring so repeated invocations don't accumulate
    # storage blocks (recompute-safe, see _ring_persist).
    ranked = _ring_persist(
        qa.join(pb, ["cx", "cy"])
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", d2.cast("bigint").alias("dist2"))
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= _KNN_K)
    )
    # geometric certificate: k candidates found AND the k-th is within
    # 2G (everything outside the stamped block is farther than that)
    cert = ranked.groupBy("a_id").agg(
        (
            (F.count(F.lit(1)) == _KNN_K)
            & (F.max("dist2") <= F.lit(4 * g * g))
        ).alias("proven")
    )
    fast = ranked.join(
        cert.where(F.col("proven")).select("a_id"), "a_id"
    )
    # exact fallback for the thin unproven tail: broadcast those query
    # points against the cloud (bounded by the density target — at the
    # chosen G almost every block holds >> k points). LEFT-ANTI against
    # the proven set, not a filter on cert — a query with an EMPTY
    # stamped block never reaches cert at all and must still fall back.
    unproven = queries.join(
        cert.where(F.col("proven")).withColumnRenamed("a_id", "id"),
        "id",
        "left_anti",
    ).select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    )
    fallback = (
        pb.drop("cx", "cy")
        .join(F.broadcast(unproven))
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", d2.cast("bigint").alias("dist2"))
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= _KNN_K)
    )
    # introspection hook (lazy frames, no action): lets tests count how
    # many queries actually took the fallback path, so "fallback is not
    # dead code" is asserted, not assumed (grid constants are baked into
    # these plans at construction, so late evaluation is stable)
    _LAST_PARTS.clear()
    _LAST_PARTS.update(cert=cert, unproven=unproven)
    return fast.select("a_id", "b_id", "dist2", "knn_rank").unionAll(
        fallback
    )
