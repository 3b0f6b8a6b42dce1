"""Duplicate-cluster assignment: connected components over near-dup pairs.

Pair detection (``dedup_minhash_lsh``) emits *edges*; a corpus-curation
pipeline needs *clusters* — every document labeled with a canonical
representative so one keeper per cluster survives. That is connected
components, an inherently iterative algorithm: Spark runs min-label
propagation (a bounded driver loop over DataFrame joins, the standard
Pregel-style shape), while the DuckDB oracle computes the same fixpoint
declaratively with a recursive CTE — so even the iterative operator is
hash-verified end-to-end.

Scale posture (100 TB):
- Each iteration is one equi-join (edges ⋈ labels on a long key) + one
  partial+final min aggregate + one left join — all hash-width shuffles,
  no document payloads.
- Both loops run through :func:`~.fixpoint.converge`: each round's
  state is checkpointed lazily (O(1) lineage per round) and a scalar
  probe — the label sum for min-label propagation, an edge-set checksum
  for large-star/small-star — is the round's one action, never a data
  collect.
- Iterations needed = component diameter. Near-dup clusters in web
  corpora are shallow (copies of copies, diameter ≲ 10); the loop stops
  at the fixpoint and raises if ``MAX_ITERS`` rounds do not reach it. For
  adversarially deep graphs the alternating large-star/small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond") drops rounds to O(log n).

Reference parity: the reference (``/root/reference/etl.py``) has no
clustering stage — this is part of the north-star training-data surface
(SURVEY §6), layered on the same corpus as the other dedup operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.operators.dedup import (
    _MINHASH_ORACLE,
    CORPUS_CTE,
    corpus,
    dedup_minhash_lsh,
)
from udacity_data_engineer_capstone_spark.operators.fixpoint import converge
from udacity_data_engineer_capstone_spark.registry import query

MAX_ITERS = 15

# The oracle's recursive CTE computes, for every vertex, the set of
# reachable vertices; the cluster id is then the least reachable doc_id
# (matching Spark's min-label fixpoint exactly). The pair query is the
# full minhash oracle nested as a CTE — both engines derive edges from
# the *same* verified pair semantics.
_CC_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_MINHASH_ORACLE}
),
edges AS (
  SELECT a_id AS s, b_id AS d FROM pairs
  UNION
  SELECT b_id AS s, a_id AS d FROM pairs
),
reach(src, dst) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.src, e.d
  FROM reach r JOIN edges e ON r.dst = e.s
  WHERE e.d <> r.src
),
{CORPUS_CTE}
SELECT c.doc_id,
       LEAST(c.doc_id, COALESCE(MIN(r.dst), c.doc_id)) AS cluster_id
FROM corpus c
LEFT JOIN reach r ON r.src = c.doc_id
GROUP BY c.doc_id
"""


@query("dedup_cluster_cc", oracle=_CC_ORACLE, tags=("dedup", "iterative"))
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every corpus document to a duplicate cluster: connected
    components over the MinHash-LSH near-dup pairs, cluster id = least
    doc_id in the component (deterministic canonical representative).

    Min-label propagation: ``label(v) ← min(label(v), min over neighbors
    u of label(u))`` iterated to fixpoint. Each round is pure DataFrame
    joins/aggregates (distributed); the driver only sees one scalar per
    round, the label sum: labels never increase, so an equal sum means
    the fixpoint."""
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))

    labels = (
        corpus(spark, sf_dir)
        .select("doc_id")
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )

    def _round(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        return labels.join(
            nbr_min, labels["doc_id"] == nbr_min["dst"], "left"
        ).select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )

    labels, _, _ = converge(
        labels,
        _round,
        lambda lab: lab.agg(F.sum("label")).collect()[0][0],
        MAX_ITERS,
        name="dedup_cluster_cc",
    )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# alternating large-star/small-star (the deep-graph escape hatch)
# ---------------------------------------------------------------------------

STAR_MAX_ROUNDS = 12


def _star_round(oriented: DataFrame) -> DataFrame:
    """One large-star then small-star round over the larger->smaller
    edges ``(u, v)``."""
    # large-star over the symmetric neighbor view
    sym = oriented.select(F.col("u").alias("s"), F.col("v").alias("d")).union(
        oriented.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )
    nbhd_min = sym.groupBy("s").agg(F.least(F.col("s"), F.min("d")).alias("m"))
    large = (
        sym.join(nbhd_min, "s")
        .where(F.col("d") > F.col("s"))
        .select(F.greatest("d", "m").alias("u"), F.least("d", "m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # small-star on the larger->smaller orientation
    small_min = large.groupBy("u").agg(F.min("v").alias("m"))
    return (
        large.join(small_min, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .union(small_min.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )


def _edge_checksum(oriented: DataFrame) -> tuple:
    return tuple(
        oriented.agg(
            F.count(F.lit(1)),
            F.sum("u"),
            F.sum("v"),
            F.sum(F.col("u") * F.lit(1000003) + F.col("v")),
        ).collect()[0]
    )


def star_components(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star rounds over an undirected pair
    set (columns ``a_id``, ``b_id``); returns (labels, rounds_used)
    where labels has (``u``, ``label``) = node → least node of its
    component, one row per non-root node. Raises if the edge set still
    changes after ``STAR_MAX_ROUNDS`` rounds. See
    :func:`dedup_cluster_cc_star` for the algorithm account."""
    # canonical orientation: u = larger endpoint, v = smaller
    oriented = (
        pairs.select(
            F.greatest("a_id", "b_id").alias("u"),
            F.least("a_id", "b_id").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    oriented, rounds, _ = converge(
        oriented, _star_round, _edge_checksum, STAR_MAX_ROUNDS, name="star_components"
    )
    return oriented.groupBy("u").agg(F.min("v").alias("label")), rounds


@query("dedup_cluster_cc_star", oracle=_CC_ORACLE, tags=("dedup", "iterative"))
def dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round algorithm min-label propagation falls back to on
    adversarially deep graphs (a chain of n near-dup docs takes n rounds
    of label propagation but ~log n star rounds, because each round
    *rewires* edges toward the component minimum instead of walking one
    hop).

    large-star: every node connects its larger neighbors to the least
    member of its neighborhood; small-star does the same for smaller
    neighbors on the larger->smaller orientation. The fixpoint is a star
    per component, rooted at the component minimum — so labels fall out
    of a single group-by. Each half-round is an aggregate + equi-join
    (hash-width shuffles only); `localCheckpoint` truncates lineage and
    the convergence witness is a four-scalar checksum, never a data
    collect. Output is identical to ``dedup_cluster_cc`` (same oracle):
    doc_id -> least doc_id of its near-dup component."""
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    labels, _ = star_components(pairs)
    return (
        corpus(spark, sf_dir)
        .select("doc_id")
        .join(labels, F.col("doc_id") == F.col("u"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# soft dedup: downweight duplicate clusters instead of dropping them
# ---------------------------------------------------------------------------

_SOFT_DEDUP_ORACLE = f"""
WITH cc AS (
  SELECT * FROM ({_CC_ORACLE}) _c
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM cc GROUP BY cluster_id
)
SELECT cc.doc_id, cc.cluster_id,
       s.n AS cluster_size,
       CAST(1000000 // s.n AS BIGINT) AS weight_ppm
FROM cc JOIN sizes s USING (cluster_id)
"""


@query(
    "curate_soft_dedup_weights",
    oracle=_SOFT_DEDUP_ORACLE,
    tags=("pipeline", "dedup"),
)
def curate_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: every document KEEPS its place in the corpus but
    carries sampling weight 1/cluster_size, so a near-dup cluster
    contributes one document's worth of expected mass — the
    downweighting alternative to hard dropping (keeps paraphrase
    diversity, still kills memorization pressure), as used by several
    published pretraining recipes. Reuses :func:`dedup_cluster_cc`
    verbatim for the clusters.

    Scale shape: the CC machinery's own audited shape plus one
    cluster-keyed count and an id-width join; weights are exact ppm
    integers (truncating division on positive sizes)."""
    cc = dedup_cluster_cc(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return cc.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.expr("1000000 DIV cluster_size").cast("long").alias("weight_ppm"),
    )
