"""Similarity search over the ``embeddings`` table (north-star extension).

Two paths:

- ``sim_topk_bruteforce`` — the exact baseline: broadcast the (small)
  query set against every vector, score cosine, keep top-k per query via
  a ranking window. At 100 TB the data side stays fully distributed; the
  only shuffle is the per-query top-k (k rows per partition reach the
  final window thanks to partial top-k pushdown via rank filter + AQE).
- ``sim_ann_lsh`` — the scale path: random-hyperplane LSH buckets both
  sides, scores only within matching buckets (multi-probe over H tables),
  then exact-reranks candidates. Approximate by construction, so there is
  no SQL oracle; tests/test_similarity.py asserts recall ≥ 0.8 against
  the brute-force baseline.

All cosine math is widened float→double *before* multiplying, with a
linear left-fold, so Spark and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_data_engineer_capstone_spark.catalog import load_table, load_table_scaled
from udacity_data_engineer_capstone_spark.memo import Memo
from udacity_data_engineer_capstone_spark.registry import query

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors

_DOT = "list_sum(list_transform(range(1, 65), i -> q.v[i] * e.v[i]))"
_NORM = "sqrt(list_sum(list_transform({s}.v, x -> x * x)))"

_TOPK_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_DOT} / ({_NORM.format(s='q')} * {_NORM.format(s='e')}) AS cos_sim
  FROM emb q JOIN emb e ON e.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) <= {TOP_K}
"""


def _as_double(df: DataFrame) -> DataFrame:
    """Widen float32→double once; callers pass a *scaled* scan so the
    vector math above parallelizes regardless of input file layout."""
    return df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )


@query("sim_topk_bruteforce", oracle=_TOPK_ORACLE, tags=("similarity",))
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast queries × all vectors → ranking
    window per query. Deterministic tie-break on neighbor_id.

    The per-query window does NOT funnel all n·q scored rows into one
    partition per query: Spark's window-group-limit optimization plans a
    *Partial* WindowGroupLimit below the exchange, so each map task
    pre-reduces to ≤ k rows per query and only k·partitions rows cross
    the shuffle (pinned in tests/test_plans.py)."""
    emb = _as_double(load_table_scaled(spark, sf_dir, "embeddings"))
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).alias("q")
    data = emb.alias("e")
    dot = F.expr("aggregate(zip_with(q.v, e.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    norm_q = F.sqrt(F.expr("aggregate(transform(q.v, x -> x * x), 0D, (acc, x) -> acc + x)"))
    norm_e = F.sqrt(F.expr("aggregate(transform(e.v, x -> x * x), 0D, (acc, x) -> acc + x)"))
    scored = (
        data.join(F.broadcast(queries_df), F.col("e.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("e.vec_id").alias("neighbor_id"),
            (dot / (norm_q * norm_e)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed approximate nearest neighbor
# ---------------------------------------------------------------------------

# Tuned for near-orthogonal neighbors (random embeddings have top-k cosine
# ≈ 0.3-0.5, i.e. ~65° — each hyperplane agrees with only p≈0.64): 4 planes
# per table keeps per-table collision probability ≈ p^4 ≈ 0.17, and 16
# OR-ed tables lift recall to 1-(1-p^4)^16 ≈ 0.95. On real (clustered)
# embeddings, raise N_PLANES to shrink candidate sets.
N_TABLES = 16
N_PLANES = 4
_LSH_SEED = 7

# trained IVF coarse quantizers per (application, table, k, iters) —
# the index-train-once/serve-many shape (see ann_ivf_topk). Entries are
# k×d floats; the oldest of more than eight is dropped.
_IVF_CENTROIDS = Memo(capacity=8)


def _plane_matrix(
    dim: int = 64, n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> np.ndarray:
    """Deterministic random hyperplanes, seeded — same planes every call,
    so ANN results are reproducible run-to-run."""
    rng = np.random.default_rng(_LSH_SEED)
    return rng.standard_normal((n_tables, n_planes, dim))


def _bucket_udf(n_tables: int = N_TABLES, n_planes: int = N_PLANES) -> F.Column:
    """All-tables bucket assignment as ONE vectorized pandas UDF: an
    Arrow batch of vectors → numpy matmul against the (dim, T·P) plane
    matrix → per-table sign-bit strings.

    Why not pure column expressions: 16 tables × 4 planes × 64 dims of
    literal-weighted sums blows janino's 64 KB method limit, so Spark
    silently falls back to interpreted eval — ~4k Expression.eval calls
    per row. The batched matmul is the sanctioned Arrow shape (SCALE.md)
    and is a narrow map: fully distributed, no shuffle, no driver."""
    planes = _plane_matrix(n_tables=n_tables, n_planes=n_planes)
    mat = planes.reshape(n_tables * n_planes, -1).T  # (dim, T*P)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # empty Arrow batch: (0,)-shaped asarray breaks matmul
            return pd.Series([], dtype=object)
        V = np.asarray(vs.tolist(), dtype=np.float64)  # (batch, dim)
        signs = (V @ mat) >= 0  # (batch, T*P)
        out = []
        for row in signs:
            bits = row.reshape(n_tables, n_planes)
            out.append(
                ["".join("1" if b else "0" for b in t) for t in bits]
            )
        return pd.Series(out)

    return buckets


def with_lsh_buckets(
    df: DataFrame, n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> DataFrame:
    """(vec_id, v) → (vec_id, v, t, bucket), one row per hash table."""
    b = _bucket_udf(n_tables=n_tables, n_planes=n_planes)
    return df.select(
        "vec_id", "v", F.posexplode(b(F.col("v"))).alias("t", "bucket")
    )


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame | None = None,
    fit_cache_token: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) coarse
    quantization: k-means cells + nprobe search.

    - Centroids: the DISTRIBUTED Lloyd fit shared with
      ``emb_kmeans_lloyd`` (:func:`..embeddings.lloyd_fit`) — every
      assignment pass is a narrow Arrow-batched map over the full
      table, updates are (cell, dim) hash aggregates, and the driver
      only ever holds the k×d centroid coordinates (no data sample at
      any embedding width — the FAISS-style sampled train was the one
      byte-unbounded driver residency here).
    - Assignment: data × broadcast(centroids) → nearest cell per vector
      (small-side broadcast join + ranking window — no giant literal
      expressions, stays in codegen).
    - Search: each query probes its nprobe nearest cells; candidates are
      the vectors in those cells; exact cosine reranks.

    Shuffle ∝ n (one cell id per vector); the candidate join is an
    equi-join on cell id. Recall is pinned vs the exact baseline in
    tests/test_similarity.py.
    """
    n_cells, nprobe, iters = 16, 4, 5
    if emb is None:
        emb = _as_double(load_table_scaled(spark, sf_dir, "embeddings"))
        fit_cache_token = fit_cache_token or "default"
    # a production ANN deployment trains the coarse quantizer ONCE and
    # serves many queries against it, so the k×d centroids are memoized
    # per (session, table, params). Callers passing a DERIVED emb frame
    # opt in with a token proving the derivation is deterministic per
    # (session, sf_dir); the abspath makes relative and absolute
    # spellings of one sf_dir share one fit.
    from udacity_data_engineer_capstone_spark.operators.embeddings import (
        lloyd_fit,
    )

    fit = functools.partial(lloyd_fit, emb, k=n_cells, iters=iters)
    key = (os.path.abspath(sf_dir), n_cells, iters, fit_cache_token)
    centroids = _IVF_CENTROIDS.get(spark, key, fit) if fit_cache_token else fit()
    cent_rows = [(c, [float(x) for x in centroids[c]]) for c in range(n_cells)]
    cent_df = spark.createDataFrame(cent_rows, "cell int, cv array<double>")

    dist2 = F.expr(
        "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
    )

    def assign_cells(df: DataFrame, keep: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cent_df)).withColumn("d2", dist2)
        if keep == 1:
            # nearest cell via partial+final min_by aggregate —
            # map-side combine, no per-vector window shuffle of the
            # n_cells-times-expanded table. The ordering struct holds
            # only (d2, cell): putting the 64-dim vector inside the
            # compared struct forced slow interpreted array comparisons
            # (~2× the assign stage); v is constant per vec_id, so
            # first(v) recovers it for free.
            return (
                scored.groupBy("vec_id")
                .agg(
                    F.min_by("cell", F.struct("d2", "cell")).alias("cell"),
                    F.first("v").alias("v"),
                )
                .select("vec_id", "v", "cell")
            )
        w = Window.partitionBy("vec_id").orderBy(F.col("d2"), F.col("cell"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= keep)
            .select("vec_id", "v", "cell")
        )

    data_cells = assign_cells(emb, keep=1)
    query_cells = assign_cells(
        emb.filter(F.col("vec_id") < N_QUERIES), keep=nprobe
    ).select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "cell")

    cand = (
        data_cells.join(F.broadcast(query_cells), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            "qv",
            F.col("v").alias("ev"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = F.expr("aggregate(zip_with(qv, ev, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    nq = F.sqrt(F.expr("aggregate(transform(qv, x -> x * x), 0D, (acc, x) -> acc + x)"))
    ne = F.sqrt(F.expr("aggregate(transform(ev, x -> x * x), 0D, (acc, x) -> acc + x)"))
    scored = cand.select("query_id", "neighbor_id", (dot / (nq * ne)).alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


def ann_lsh_topk(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Both sides get N_TABLES bucket ids; candidates are vectors sharing a
    bucket with a query in ANY table (union of tables = multi-probe);
    exact cosine reranks candidates and keeps top-k. No oracle: the op
    is approximate by design — recall vs brute force is asserted in
    tests/test_similarity.py.

    Scale: bucketing is a narrow map (one Arrow-batched matmul); the
    candidate join is an equi-join on (table, bucket) — shuffle ∝
    n·N_TABLES, never n². Bucket skew (dense regions) is handled by AQE
    skew-join splitting."""
    if emb is None:
        emb = _as_double(load_table_scaled(spark, sf_dir, "embeddings"))

    queries_b = with_lsh_buckets(emb.filter(F.col("vec_id") < N_QUERIES)).alias("q")
    data_b = with_lsh_buckets(emb).alias("e")

    cand = (
        data_b.join(
            F.broadcast(queries_b),
            (F.col("q.t") == F.col("e.t"))
            & (F.col("q.bucket") == F.col("e.bucket"))
            & (F.col("q.vec_id") != F.col("e.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("e.vec_id").alias("neighbor_id"),
            F.col("q.v").alias("qv"),
            F.col("e.v").alias("ev"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = F.expr("aggregate(zip_with(qv, ev, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    nq = F.sqrt(F.expr("aggregate(transform(qv, x -> x * x), 0D, (acc, x) -> acc + x)"))
    ne = F.sqrt(F.expr("aggregate(transform(ev, x -> x * x), 0D, (acc, x) -> acc + x)"))
    scored = cand.select(
        "query_id", "neighbor_id", (dot / (nq * ne)).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# product-quantization ANN (ADC + exact rerank)
# ---------------------------------------------------------------------------

PQ_M = 16       # subspaces (64 dims → 16 × 4-dim subvectors)
PQ_K = 16       # codes per subspace → 4 bits/subspace, 8 B/vector total
PQ_SHORTLIST = 100  # ADC shortlist size before exact rerank
PQ_FIT_BYTES = 64 * 1024 * 1024  # driver budget for the codebook sample


def ann_pq_topk(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    """Approximate cosine top-k via product quantization with asymmetric
    distance computation (ADC), then exact rerank — the memory-bound ANN
    design for 100 TB: vectors are stored as M=16 4-bit codes (8 bytes vs
    256 B float32, a 32× shrink), and query scoring reads only the codes
    plus an M×K lookup table per query.

    - **Codebooks**: per-subspace k-means on a BYTE-bounded seeded
      sample (capped at ``PQ_FIT_BYTES`` regardless of embedding
      width — at 4096 dims the row cap alone would be ~3 GB on the
      driver; never a full collect).
    - **Encoding**: one Arrow-batched pandas UDF — numpy distance to the
      broadcast codebooks, argmin per subspace. Narrow map, no shuffle.
    - **ADC scoring**: per query, an (M, K) table of subvector dot
      products and a code-norm table are computed driver-side (tiny) and
      closed over by a vectorized UDF that scores every encoded vector
      with M table lookups — no float vector is read at scan time.
    - **Rerank**: the ADC top-``PQ_SHORTLIST`` per query join back their
      exact vectors for true cosine; final top-k is exact over the
      shortlist (the standard PQ + rerank recipe, Jégou et al. 2011).

    Approximate by design → rows-only driver check; recall vs the exact
    baseline is pinned in tests/test_similarity.py."""
    if emb is None:
        emb = _as_double(load_table_scaled(spark, sf_dir, "embeddings"))
    dim, sub = 64, 64 // PQ_M

    # --- codebook training on a BYTE-bounded sample: the row cap is
    # derived from a driver-memory budget so a wider embedding column
    # shrinks the sample instead of growing the driver (100k rows of
    # 4096-dim doubles would be ~3 GB; 64-dim stays at 100k rows).
    n_rows = emb.count()
    max_fit_rows = min(100_000, max(PQ_K * 64, PQ_FIT_BYTES // (8 * dim)))
    fraction = min(1.0, (2.0 * max_fit_rows) / max(n_rows, 1))
    sample = np.array(
        [
            r.v
            for r in emb.sample(fraction=fraction, seed=_LSH_SEED)
            .limit(max_fit_rows)
            .collect()
        ]
    )
    rng = np.random.default_rng(_LSH_SEED)
    codebooks = np.empty((PQ_M, PQ_K, sub))
    for m in range(PQ_M):
        X = sample[:, m * sub : (m + 1) * sub]
        cents = X[rng.choice(len(X), size=PQ_K, replace=False)].copy()
        for _ in range(5):
            d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(PQ_K):
                members = X[assign == k]
                if len(members):
                    cents[k] = members.mean(axis=0)
        codebooks[m] = cents

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray(vs.tolist(), dtype=np.float64).reshape(-1, PQ_M, sub)
        codes = np.empty((len(V), PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            d2 = ((V[:, m, None, :] - codebooks[None, m]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series([list(map(int, c)) for c in codes])

    encoded = emb.select("vec_id", encode("v").alias("codes"))

    # --- per-query ADC lookup tables (M×K dots + code norms), tiny
    qrows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    Q = np.array([r.v for r in qrows])                      # (q, 64)
    qnorm = np.sqrt((Q**2).sum(axis=1))                     # (q,)
    lut_dot = np.einsum("qms,mks->qmk", Q.reshape(len(Q), PQ_M, sub), codebooks)
    code_n2 = (codebooks**2).sum(axis=2)                    # (M, K)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def adc_scores(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        C = np.asarray(codes.tolist(), dtype=np.int64)      # (batch, M)
        rows = np.arange(PQ_M)
        recon_n = np.sqrt(code_n2[rows, C].sum(axis=1))     # (batch,)
        out = np.empty((len(C), len(Q)))
        for qi in range(len(Q)):
            dots = lut_dot[qi][rows, C].sum(axis=1)         # (batch,)
            out[:, qi] = dots / (qnorm[qi] * np.maximum(recon_n, 1e-12))
        return pd.Series([list(map(float, r)) for r in out])

    scored = encoded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode(adc_scores("codes")).alias("query_id", "adc_sim"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )

    # --- exact rerank over the shortlist only
    qdf = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cand = (
        shortlist.join(emb, shortlist["neighbor_id"] == emb["vec_id"])
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", "qv", F.col("v").alias("ev"))
    )
    dot = F.expr("aggregate(zip_with(qv, ev, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    nq = F.sqrt(F.expr("aggregate(transform(qv, x -> x * x), 0D, (acc, x) -> acc + x)"))
    ne = F.sqrt(F.expr("aggregate(transform(ev, x -> x * x), 0D, (acc, x) -> acc + x)"))
    rescored = cand.select(
        "query_id", "neighbor_id", (dot / (nq * ne)).alias("cos_sim")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# driver-checkable ANN correctness: planted-neighbor retrieval
# ---------------------------------------------------------------------------

# ANN output is approximate by design, so the registered queries verify a
# property that IS deterministic: union an exact clone of every query
# vector into the data side (vec_id + PLANT_OFFSET) and assert the ANN
# retrieves it. A clone hashes into identical LSH buckets in every
# table, lands in the query's own IVF cell, and encodes to the query's
# own PQ codes — and its exact-rerank cosine is exactly 1.0 (identical
# double arrays, identical fold) — so top-k must contain it at any
# scale. The oracle is the exact query list with TRUE literals, which
# gives each ANN op a real driver hash row instead of rows-only. The
# raw top-k kernels stay available as ``ann_{lsh,ivf,pq}_topk`` (bench
# and recall tests use those).

PLANT_OFFSET = 1_000_000

_PLANTED_ORACLE = f"""
SELECT vec_id AS query_id, TRUE AS planted_in_topk
FROM embeddings
WHERE vec_id < {N_QUERIES}
"""


def _planted_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _as_double(load_table_scaled(spark, sf_dir, "embeddings"))
    planted = emb.filter(F.col("vec_id") < N_QUERIES).select(
        (F.col("vec_id") + F.lit(PLANT_OFFSET)).cast("long").alias("vec_id"), "v"
    )
    return emb.select(F.col("vec_id").cast("long").alias("vec_id"), "v").unionByName(
        planted
    )


def _planted_check(topk: DataFrame) -> DataFrame:
    # pq's query_id is a posexplode position (int) — normalize to the
    # vec_id scan type (bigint) so the oracle types line up
    topk = topk.withColumn("query_id", F.col("query_id").cast("long"))
    return topk.groupBy("query_id").agg(
        F.max(
            F.col("neighbor_id") == F.col("query_id") + F.lit(PLANT_OFFSET)
        ).alias("planted_in_topk")
    )


@query("sim_ann_lsh", oracle=_PLANTED_ORACLE, tags=("similarity", "lsh"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with the planted-neighbor correctness contract (see
    module note above); the kernel is :func:`ann_lsh_topk`."""
    return _planted_check(ann_lsh_topk(spark, sf_dir, _planted_emb(spark, sf_dir)))


@query("sim_ann_ivf", oracle=_PLANTED_ORACLE, tags=("similarity", "ivf"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the planted-neighbor correctness contract; the
    kernel is :func:`ann_ivf_topk`. The planted frame is a
    deterministic function of (sf_dir), so the coarse-quantizer fit is
    session-cached under the 'planted' token (train once, serve
    many)."""
    return _planted_check(
        ann_ivf_topk(
            spark, sf_dir, _planted_emb(spark, sf_dir),
            fit_cache_token="planted",
        )
    )


@query("sim_ann_pq", oracle=_PLANTED_ORACLE, tags=("similarity", "pq"))
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ+ADC ANN with the planted-neighbor correctness contract; the
    kernel is :func:`ann_pq_topk`."""
    return _planted_check(ann_pq_topk(spark, sf_dir, _planted_emb(spark, sf_dir)))


# ---------------------------------------------------------------------------
# exact kNN join (block nested-loop with vectorized kernels)
# ---------------------------------------------------------------------------

KNN_K = 5
_KNN_BLOCKS = 4
_KNN_SLACK = 4  # per-block-pair candidates kept beyond K (absorbs any
# last-ulp ranking wobble between the numpy kernel and the exact rerank)

_KNN_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_DOT} / ({_NORM.format(s='q')} * {_NORM.format(s='e')}) AS cos_sim
  FROM emb q JOIN emb e ON e.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_sim
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) <= {KNN_K}
"""


@query("sim_knn_join", oracle=_KNN_ORACLE, tags=("similarity", "join"))
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor JOIN: every vector finds its top-k
    cosine neighbors among all others (vs ``sim_topk_bruteforce``'s
    bounded query set — here *both* sides are the full table).

    Distributed block nested-loop: vectors hash into ``_KNN_BLOCKS``
    blocks; each of the B² block pairs becomes one ``applyInPandas``
    group whose kernel is a single numpy matmul emitting the pair's
    top-(k+slack) candidates — O(n²/B²) work per task, Arrow-batched,
    never a driver collect. Global winners come from an exact rerank of
    the ≤ (k+slack)·B candidates per query using the same widened
    left-fold dot product as the oracle, so the emitted cos_sim is
    bit-identical to DuckDB's and ranking is deterministic (tie-break on
    neighbor_id). The n² cost is intrinsic to *exact* kNN — this
    operator is the ground-truth the ANN operators are measured against.

    **Exact→ANN cutover**: the matmul does n²·d multiply-adds, so at
    d=64 a 1M-vector corpus is ~6.4e13 FLOPs (minutes across a big
    cluster, already marginal) and 10M vectors is ~6.4e15 (hours —
    unaffordable as a routine job). Treat **~1M vectors as the ceiling**
    for this exact path; beyond it, callers must switch to
    ``sim_ann_{{lsh,ivf,pq}}`` (sub-quadratic candidate generation,
    recall ≥ 0.8 pinned in tests) and reserve this operator for sampled
    ground-truth evaluation — e.g. rerank a 10-100k query sample, never
    all-pairs.
    """
    emb = _as_double(load_table_scaled(spark, sf_dir, "embeddings"))
    nb = _KNN_BLOCKS
    pairs = spark.createDataFrame(
        [(i, j) for i in range(nb) for j in range(nb)], "b1 int, b2 int"
    )
    blocked = emb.withColumn("blk", (F.col("vec_id") % nb).cast("int"))
    lhs = blocked.join(F.broadcast(pairs), F.col("blk") == F.col("b1")).select(
        "b1", "b2", "vec_id", "v", F.lit("q").alias("role")
    )
    rhs = blocked.join(F.broadcast(pairs), F.col("blk") == F.col("b2")).select(
        "b1", "b2", "vec_id", "v", F.lit("e").alias("role")
    )

    keep = KNN_K + _KNN_SLACK

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["role"] == "q"]
        e = pdf[pdf["role"] == "e"]
        if q.empty or e.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": []}).astype(
                {"query_id": "int64", "neighbor_id": "int64"}
            )
        qm = np.stack(q["v"].to_numpy())
        em = np.stack(e["v"].to_numpy())
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        en = em / np.linalg.norm(em, axis=1, keepdims=True)
        sims = qn @ en.T
        qid = q["vec_id"].to_numpy()
        eid = e["vec_id"].to_numpy()
        sims[qid[:, None] == eid[None, :]] = -np.inf  # exclude self
        k = min(keep, sims.shape[1])
        idx = np.argpartition(-sims, k - 1, axis=1)[:, :k]
        rows_q = np.repeat(qid, k)
        rows_e = eid[idx.ravel()]
        valid = sims[np.arange(len(qid))[:, None], idx].ravel() > -np.inf
        return pd.DataFrame(
            {"query_id": rows_q[valid], "neighbor_id": rows_e[valid]}
        )

    cand = (
        lhs.union(rhs)
        .groupBy("b1", "b2")
        .applyInPandas(block_topk, "query_id long, neighbor_id long")
    )
    # exact rerank with the oracle's own arithmetic (widened left-fold)
    qv = emb.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    ev = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("ev"))
    dot = F.expr(
        "aggregate(zip_with(qv, ev, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )
    nq = F.sqrt(F.expr("aggregate(transform(qv, x -> x * x), 0D, (acc, x) -> acc + x)"))
    ne = F.sqrt(F.expr("aggregate(transform(ev, x -> x * x), 0D, (acc, x) -> acc + x)"))
    scored = (
        cand.join(qv, "query_id")
        .join(ev, "neighbor_id")
        .select("query_id", "neighbor_id", (dot / (nq * ne)).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# late-interaction (ColBERT-style MaxSim) multi-vector retrieval
# ---------------------------------------------------------------------------
#
# Modern neural retrieval increasingly keeps ONE VECTOR PER TOKEN instead
# of one per document (ColBERT; Khattab & Zaharia, SIGIR 2020) and scores
# score(q, d) = Σ_{t∈q} max_{v∈d} cos(t, v) — "late interaction". The
# engine models multi-vector documents by grouping the flat embeddings
# table into pseudo-documents of TOKS_PER_DOC consecutive vectors
# (doc = vec_id DIV 8, token = vec_id MOD 8), exactly reproducible in SQL.
#
# Cross-engine determinism: each (q-token, d-token) cosine is the same
# widened double left-fold both engines use everywhere; MAX over doubles
# is selection (exact); the per-token max is then floor-quantized to
# integer MICRO-units BEFORE the per-document sum, so the final score is
# an exact BIGINT sum (fold-order-free) — the house pattern for summing
# double contributions (cf. queries/stats.py module docstring).

TOKS_PER_DOC = 8
N_QDOCS = 2  # doc_id < 2 are the multi-vector "queries" (16 token vectors)
MAXSIM_K = 10

_MAXSIM_ORACLE = f"""
WITH tok AS (
  SELECT vec_id // {TOKS_PER_DOC} AS doc_id,
         vec_id % {TOKS_PER_DOC} AS tok,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
qtok AS (SELECT * FROM tok WHERE doc_id < {N_QDOCS}),
dtok AS (SELECT * FROM tok WHERE doc_id >= {N_QDOCS}),
scored AS (
  SELECT q.doc_id AS query_doc, d.doc_id AS cand_doc, q.tok AS qt,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * d.v[i]))
         / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
            * sqrt(list_sum(list_transform(d.v, x -> x * x)))) AS c
  FROM qtok q, dtok d
),
best AS (
  SELECT query_doc, cand_doc, qt,
         CAST(FLOOR(1000000 * MAX(c)) AS BIGINT) AS best_e6
  FROM scored GROUP BY 1, 2, 3
),
sums AS (
  SELECT query_doc, cand_doc,
         CAST(SUM(best_e6) AS BIGINT) AS maxsim_e6
  FROM best GROUP BY 1, 2
)
SELECT CAST(query_doc AS BIGINT) AS query_doc,
       CAST(cand_doc AS BIGINT) AS cand_doc,
       maxsim_e6
FROM sums
QUALIFY row_number() OVER (PARTITION BY query_doc
                           ORDER BY maxsim_e6 DESC, cand_doc) <= {MAXSIM_K}
"""


@query("sim_maxsim_multivector", oracle=_MAXSIM_ORACLE, tags=("similarity", "retrieval"))
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: multi-vector documents
    scored by MaxSim — for every query token, the best-matching document
    token's cosine, summed over the query's tokens; top-k candidate
    documents per query by that score.

    Scale shape: the query side is a handful of token vectors —
    broadcast — so the doc side NEVER shuffles for the scoring join (a
    narrow map over the corpus). The two aggregations (per-query-token
    max, then per-document sum) group by keys that extend the scoring
    rows' natural grouping, so both run as partial+final hash aggregates;
    the final top-k window benefits from partial WindowGroupLimit
    pushdown like the other top-k operators. At production scale the
    all-candidates scoring pass is the exact re-rank stage; candidate
    generation for the full corpus belongs to ``sim_ann_*`` over pooled
    per-document centroids (PLAID's strategy) — same composition, same
    operators."""
    emb = _as_double(load_table_scaled(spark, sf_dir, "embeddings"))
    tok = emb.select(
        F.expr(f"vec_id DIV {TOKS_PER_DOC}").alias("doc_id"),
        F.expr(f"vec_id % {TOKS_PER_DOC}").alias("tok"),
        "v",
    )
    qtok = tok.filter(F.col("doc_id") < N_QDOCS).alias("q")
    dtok = tok.filter(F.col("doc_id") >= N_QDOCS).alias("d")
    dot = F.expr("aggregate(zip_with(q.v, d.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    nq = F.sqrt(F.expr("aggregate(transform(q.v, x -> x * x), 0D, (acc, x) -> acc + x)"))
    nd = F.sqrt(F.expr("aggregate(transform(d.v, x -> x * x), 0D, (acc, x) -> acc + x)"))
    best = (
        dtok.join(F.broadcast(qtok))
        .select(
            F.col("q.doc_id").alias("query_doc"),
            F.col("d.doc_id").alias("cand_doc"),
            F.col("q.tok").alias("qt"),
            (dot / (nq * nd)).alias("c"),
        )
        .groupBy("query_doc", "cand_doc", "qt")
        .agg(F.floor(F.lit(1000000) * F.max("c")).cast("long").alias("best_e6"))
    )
    sums = best.groupBy("query_doc", "cand_doc").agg(
        F.sum("best_e6").alias("maxsim_e6")
    )
    w = Window.partitionBy("query_doc").orderBy(
        F.col("maxsim_e6").desc(), F.col("cand_doc")
    )
    return (
        sums.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAXSIM_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# range query: all vectors within a cosine threshold of an anchor
# ---------------------------------------------------------------------------

# The dual of top-k: "everything at least this similar", the shape a
# near-dup or policy screen runs against one probe vector. The cosine
# gate is EXACT integer arithmetic — dot^2 * 10000 >= tau2_bp * |a|^2
# * |b|^2 on a DECIMAL(38,0)/HUGEINT lane (dot ~ 1.4e8 squares past
# int64) — so no float comparison decides membership. tau = 0.25 is
# calibrated to this corpus's cosine spread (max anchor cosine ~0.4).
_RANGE_TAU2_BP = 625  # tau^2 in basis points: 0.25^2 = 0.0625

_RANGE_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))
           AS BIGINT) AS n2
  FROM q
),
a AS (SELECT v AS av, n2 AS an2 FROM n WHERE vec_id = 0),
dots AS (
  SELECT n.vec_id,
         CAST(list_sum(list_transform(range(1, 65), i -> n.v[i] * a.av[i]))
           AS BIGINT) AS dot,
         n.n2, a.an2
  FROM n CROSS JOIN a
  WHERE n.vec_id <> 0
)
SELECT vec_id, dot AS dot_milli2
FROM dots
WHERE dot > 0
  AND CAST(dot AS HUGEINT) * dot * 10000
      >= {_RANGE_TAU2_BP} * CAST(n2 AS HUGEINT) * an2
"""


@query("sim_range_query", oracle=_RANGE_ORACLE, tags=("similarity",))
def sim_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vectors with cosine >= 0.25 to the anchor (vec 0) — range
    search, the similarity shape dedup/policy screens want when "how
    many" is unknown (contrast ``sim_topk_bruteforce``'s fixed k).

    Scale shape: one broadcast of the single probe row onto the vector
    scan, a map-only integer dot product per vector, and the exact
    wide-lane gate — no shuffle at all; the output is threshold-bounded.
    For probe BATCHES, the same plan broadcasts the probe table and the
    LSH-bucketed ``sim_ann_lsh`` path replaces the full scan."""
    emb = load_table_scaled(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
        ).alias("v"),
    ).select(
        "vec_id",
        "v",
        F.expr(
            "CAST(aggregate(zip_with(v, v, (a, b) -> a * b),"
            " 0L, (acc, x) -> acc + x) AS BIGINT)"
        ).alias("n2"),
    )
    anchor = q.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("av"), F.col("n2").alias("an2")
    )
    dots = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(anchor))
        .select(
            "vec_id",
            F.expr(
                "CAST(aggregate(zip_with(v, av, (a, b) -> a * b),"
                " 0L, (acc, x) -> acc + x) AS BIGINT)"
            ).alias("dot"),
            "n2",
            "an2",
        )
    )
    return dots.filter(
        (F.col("dot") > 0)
        & (
            F.expr(
                f"CAST(dot AS DECIMAL(38,0)) * dot * 10000"
                f" >= {_RANGE_TAU2_BP} * CAST(n2 AS DECIMAL(38,0)) * an2"
            )
        )
    ).select("vec_id", F.col("dot").alias("dot_milli2"))


# ---------------------------------------------------------------------------
# dimension-truncation recall (Matryoshka evaluation)
# ---------------------------------------------------------------------------

# For each of 8 fixed query vectors: exact top-10 by full 64-dim integer
# dot product vs top-10 using only the first 16 dims; recall@10 is the
# overlap. The eval a team runs before adopting truncated embeddings
# (cf. emb_matryoshka_energy for the energy view of the same question).
_TRUNC_DIMS = 16
_TRUNC_K = 10
_TRUNC_QUERIES = 8


def _trunc_recall_oracle() -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
probes AS (SELECT vec_id AS qid, v AS qv FROM q WHERE vec_id < {_TRUNC_QUERIES}),
scored AS (
  SELECT p.qid, q.vec_id,
         CAST(list_sum(list_transform(range(1, 65),
                i -> q.v[i] * p.qv[i])) AS BIGINT) AS dot_full,
         CAST(list_sum(list_transform(range(1, {_TRUNC_DIMS + 1}),
                i -> q.v[i] * p.qv[i])) AS BIGINT) AS dot_trunc
  FROM q CROSS JOIN probes p
  WHERE q.vec_id <> p.qid
),
rk AS (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY dot_full DESC, vec_id) AS r_full,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY dot_trunc DESC, vec_id) AS r_trunc
  FROM scored
)
SELECT qid,
       CAST(SUM(CASE WHEN r_full <= {_TRUNC_K} AND r_trunc <= {_TRUNC_K}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN r_full <= {_TRUNC_K} AND r_trunc <= {_TRUNC_K}
                     THEN 1 ELSE 0 END) * 1000000 // {_TRUNC_K} AS BIGINT)
         AS recall_ppm
FROM rk
GROUP BY qid
"""


@query(
    "sim_dim_truncation_recall",
    oracle=_trunc_recall_oracle(),
    tags=("similarity", "embedding"),
)
def sim_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 16-dim-truncated retrieval against the full 64-dim
    exact ranking, for 8 fixed probes — the Matryoshka adoption eval:
    how much ranking quality does 4x less vector IO cost on THIS
    corpus? Exact integer dot products with total-order tie-breaks, so
    the recall numbers are bit-stable.

    Scale shape: the probe set broadcasts onto one vector scan (8
    narrow rows per vector), rankings are per-probe windows with
    WindowGroupLimit-eligible top-k filters. For probe sets beyond a
    broadcast, the ``sim_ann_lsh`` bucketed path replaces the scan."""
    emb = load_table_scaled(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
        ).alias("v"),
    )
    probes = q.filter(F.col("vec_id") < _TRUNC_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        q.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(
                "CAST(aggregate(zip_with(v, qv, (a, b) -> a * b),"
                " 0L, (acc, x) -> acc + x) AS BIGINT)"
            ).alias("dot_full"),
            F.expr(
                f"CAST(aggregate(zip_with(slice(v, 1, {_TRUNC_DIMS}),"
                f" slice(qv, 1, {_TRUNC_DIMS}), (a, b) -> a * b),"
                " 0L, (acc, x) -> acc + x) AS BIGINT)"
            ).alias("dot_trunc"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("dot_full").desc(), F.col("vec_id")
    )
    wt = Window.partitionBy("qid").orderBy(
        F.col("dot_trunc").desc(), F.col("vec_id")
    )
    rk = scored.select(
        "qid",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wt).alias("r_trunc"),
    )
    hit = F.when(
        (F.col("r_full") <= _TRUNC_K) & (F.col("r_trunc") <= _TRUNC_K), 1
    ).otherwise(0)
    return rk.groupBy("qid").agg(
        F.sum(hit).alias("n_overlap"),
        F.expr(
            f"CAST(SUM(CASE WHEN r_full <= {_TRUNC_K} AND r_trunc <= {_TRUNC_K}"
            f" THEN 1 ELSE 0 END) * 1000000 DIV {_TRUNC_K} AS BIGINT)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# vector-index CDC maintenance: upserts + tombstones -> live index
# ---------------------------------------------------------------------------

# Synthetic change feed derived deterministically from the base table:
# vec_id % 7 == 0 receives an updated vector (the reversed embedding,
# version 1); vec_id % 11 == 3 receives a delete tombstone (version 2,
# so a vector that is both updated and deleted resolves to DELETED —
# the CDC total order). Last-writer-wins by version; tombstones drop.
_INDEX_UPSERT_ORACLE = """
WITH base AS (
  SELECT vec_id, embedding, label,
         CAST(0 AS BIGINT) AS version, FALSE AS tombstone
  FROM embeddings
),
updates AS (
  SELECT vec_id, list_reverse(embedding) AS embedding, label,
         CAST(1 AS BIGINT) AS version, FALSE AS tombstone
  FROM embeddings WHERE vec_id % 7 = 0
),
deletes AS (
  SELECT vec_id, embedding, label,
         CAST(2 AS BIGINT) AS version, TRUE AS tombstone
  FROM embeddings WHERE vec_id % 11 = 3
),
log AS (
  SELECT * FROM base UNION ALL SELECT * FROM updates
  UNION ALL SELECT * FROM deletes
),
live AS (
  SELECT vec_id, embedding, label, version FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY version DESC) AS rn
    FROM log
  ) t WHERE rn = 1 AND NOT tombstone
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(CASE WHEN version = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updated,
       CAST(SUM(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
                     AS BIGINT)) AS BIGINT) AS sum_dim0_micro
FROM live
GROUP BY label
"""


@query(
    "sim_index_upsert",
    oracle=_INDEX_UPSERT_ORACLE,
    tags=("similarity", "cdc"),
)
def sim_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index CDC maintenance — the operation a production ANN
    deployment runs continuously: a change feed of embedding UPSERTS
    and DELETE tombstones folds into the base index last-writer-wins
    (by change version; a row both updated and deleted resolves to
    deleted), and only live vectors remain indexable. The per-label
    rollup checksums the surviving vector content (micro-quantized
    first coordinate) so the oracle pins WHICH version of each vector
    survived, not just how many.

    Scale shape: the merge is one id-width shuffle (window by vec_id
    over base ∪ delta — at 100 TB the delta is log-sized and the
    window becomes a MERGE INTO / incremental compaction, same
    semantics); no vector ever moves except grouped by its own id.
    Downstream re-bucketing (LSH/IVF assignment of changed ids only)
    is the ``dedup_incremental_minhash`` pattern applied to vectors."""
    emb = load_table_scaled(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "embedding",
        "label",
        F.lit(0).cast("long").alias("version"),
        F.lit(False).alias("tombstone"),
    )
    updates = (
        emb.filter(F.col("vec_id") % 7 == 0)
        .select(
            "vec_id",
            F.reverse("embedding").alias("embedding"),
            "label",
            F.lit(1).cast("long").alias("version"),
            F.lit(False).alias("tombstone"),
        )
    )
    deletes = (
        emb.filter(F.col("vec_id") % 11 == 3)
        .select(
            "vec_id",
            "embedding",
            "label",
            F.lit(2).cast("long").alias("version"),
            F.lit(True).alias("tombstone"),
        )
    )
    log = base.unionAll(updates).unionAll(deletes)
    w = Window.partitionBy("vec_id").orderBy(F.col("version").desc())
    live = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.col("tombstone")))
    )
    return live.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        F.sum(F.when(F.col("version") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_updated"),
        F.sum(
            F.floor(F.element_at("embedding", 1).cast("double") * 1000000)
            .cast("long")
        )
        .cast("long")
        .alias("sum_dim0_micro"),
    )


# ---------------------------------------------------------------------------
# 1-bit (binary) quantization + Hamming retrieval
# ---------------------------------------------------------------------------

_BQ_TOPK = 10


def _bq_pack_duck(lo: int, hi: int) -> str:
    return (
        f"list_sum(list_transform(range({lo + 1}, {hi + 1}), i ->"
        f" CASE WHEN embedding[i] >= 0"
        f" THEN (CAST(1 AS BIGINT) << CAST(i - {lo + 1} AS INT))"
        f" ELSE CAST(0 AS BIGINT) END))"
    )


def _bq_pack_spark(lo: int, hi: int) -> str:
    return (
        f"aggregate(transform(sequence({lo}, {hi - 1}), i ->"
        f" CASE WHEN element_at(embedding, CAST(i + 1 AS INT)) >= 0"
        f" THEN shiftleft(CAST(1 AS BIGINT), CAST(i - {lo} AS INT))"
        f" ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, b) -> a + b)"
    )


_BQ_INNER = """
WITH packed AS (
  SELECT vec_id, {PACK_LO} AS w0, {PACK_HI} AS w1
  FROM embeddings
)
SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       CAST(bit_count({XOR0}) + bit_count({XOR1}) AS BIGINT) AS hamming
FROM packed q JOIN packed e ON e.vec_id <> q.vec_id
WHERE q.vec_id < {NQ}
"""

_BQ_ORACLE = (
    _BQ_INNER.format(
        PACK_LO=_bq_pack_duck(0, 32),
        PACK_HI=_bq_pack_duck(32, 64),
        XOR0="xor(q.w0, e.w0)",
        XOR1="xor(q.w1, e.w1)",
        NQ=N_QUERIES,
    )
    + f"""QUALIFY row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY hamming, e.vec_id) <= {_BQ_TOPK}
"""
)

_BQ_SPARK = (
    "SELECT query_id, neighbor_id, hamming FROM (\n"
    "SELECT query_id, neighbor_id, hamming,\n"
    "       row_number() OVER (PARTITION BY query_id\n"
    "                          ORDER BY hamming, neighbor_id) AS rn\n"
    "FROM (\n"
    + _BQ_INNER.format(
        PACK_LO=_bq_pack_spark(0, 32),
        PACK_HI=_bq_pack_spark(32, 64),
        XOR0="(q.w0 ^ e.w0)",
        XOR1="(q.w1 ^ e.w1)",
        NQ=N_QUERIES,
    )
    + f") t ) w WHERE rn <= {_BQ_TOPK}"
)


@query("sim_binary_hamming", oracle=_BQ_ORACLE, tags=("similarity", "sketch"))
def sim_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit embedding quantization + Hamming top-k — the cheapest
    retrieval tier: each 64-dim vector collapses to its sign bits in
    TWO int64 words (32×/16× smaller than float32/int8), and distance
    is two XOR+popcounts — the shape behind binary-embedding serving
    (and the coarse pass ahead of int8/float rerank). Sign-bit Hamming
    is a monotone proxy for angular distance (Goemans–Williamson:
    P[sign flip] = θ/π per random direction); retrieval quality vs the
    exact baseline is property-tested, exact values oracle-checked.

    Scale shape: packing is one codegen'd array fold (narrow map); the
    5-query probe broadcasts; the per-query top-k is a
    WindowGroupLimit. Words-per-vector grows as dims/64 — the same
    plan at 4096 dims carries 64 words."""
    from udacity_data_engineer_capstone_spark.catalog import register_views

    register_views(spark, sf_dir, ("embeddings",))
    return spark.sql(_BQ_SPARK)


# ---------------------------------------------------------------------------
# ANN recall evaluation table (the index-quality artifact)
# ---------------------------------------------------------------------------
#
# A production vector index ships with an eval table — recall@k of each
# index variant against the exact baseline on a fixed query set — so
# regressions in quantization/bucketing parameters surface as numbers,
# not anecdotes. This registers that artifact as a query. No SQL oracle
# (the index structures are not SQL-expressible); the driver records a
# rows-only check and tests/test_similarity.py pins the recall floors.

def _recall_vs_exact(spark: SparkSession, sf_dir: str, variant_df: DataFrame,
                     variant: str) -> DataFrame:
    exact = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = variant_df.select("query_id", "neighbor_id").join(
        exact, ["query_id", "neighbor_id"], "left_semi"
    )
    # anchor on the exact query list: a variant scoring ZERO hits for a
    # query must average in as 0, not vanish from the denominator
    per_q = (
        exact.select("query_id")
        .distinct()
        .join(
            hits.groupBy("query_id").agg(
                F.count(F.lit(1)).cast("long").alias("hit")
            ),
            "query_id",
            "left",
        )
        .select("query_id", F.coalesce("hit", F.lit(0)).alias("n_hit"))
    )
    return per_q.agg(
        F.lit(variant).alias("variant"),
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.expr(f"CAST(SUM(n_hit) * 1000000 DIV (COUNT(*) * {TOP_K}) AS BIGINT)")
        .alias("recall_ppm"),
    )


def _recall_perq_cte(variant_cte: str) -> str:
    """Per-query hit counts of ``variant_cte``'s (query_id, neighbor_id)
    top-k against the exact baseline — zero-hit queries average in as 0
    via the LEFT join from the exact query list (same anchoring as the
    engine's ``_recall_vs_exact``)."""
    return f"""(
  SELECT eq.query_id, CAST(COUNT(x.neighbor_id) AS BIGINT) AS n_hit
  FROM eq LEFT JOIN (
    SELECT v.query_id, v.neighbor_id FROM {variant_cte} v
    JOIN exact ON exact.query_id = v.query_id
              AND exact.neighbor_id = v.neighbor_id
  ) x ON x.query_id = eq.query_id
  GROUP BY eq.query_id
)"""


def _lsh_hamming_recall_oracle() -> str:
    """Generated DuckDB oracle for the SQL-expressible recall tiers.

    The LSH tier is fully reproducible outside Spark: the hyperplanes
    are seeded numpy constants, INLINED here at full float64 precision
    (``repr`` is the shortest round-tripping decimal, and DuckDB's
    decimal→double conversion is correctly rounded, so the literal
    array restores the exact planes); bucketing is the sign of the
    plane dot; candidates are bucket equi-matches over any of the 16
    tables; the rerank is the same widened-double linear-fold cosine
    the brute-force oracle uses.  The 1-bit Hamming tier reuses the
    ``sim_binary_hamming`` packing.  Numerical note: the engine signs
    come from a numpy matmul (pairwise summation) while the oracle
    folds sequentially — they could only disagree on a dot within one
    ulp of zero, which the N(0,8)-distributed dots of this data never
    approach; parity is asserted end-to-end at three scale factors.
    """
    planes = _plane_matrix()  # (T, P, dim), seeded — import-deterministic
    rows = []
    for t in range(N_TABLES):
        for p in range(N_PLANES):
            vals = ", ".join(repr(float(x)) for x in planes[t, p])
            rows.append(f"({t}, {p}, CAST([{vals}] AS DOUBLE[]))")
    values = ",\n    ".join(rows)
    dot_cos = f"{_DOT} / ({_NORM.format(s='q')} * {_NORM.format(s='e')})"
    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           {dot_cos} AS cos_sim
    FROM emb q JOIN emb e ON e.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {TOP_K}
),
eq AS (SELECT DISTINCT query_id FROM exact),
planes(t, p, w) AS (VALUES
    {values}),
bits AS (
  SELECT emb.vec_id, pl.t, pl.p,
         CASE WHEN list_sum(list_transform(range(1, 65),
                            i -> emb.v[i] * pl.w[i])) >= 0
              THEN '1' ELSE '0' END AS bit
  FROM emb CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id, t, string_agg(bit, '' ORDER BY p) AS bucket
  FROM bits GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, eb.vec_id AS neighbor_id
  FROM buckets qb JOIN buckets eb
    ON eb.t = qb.t AND eb.bucket = qb.bucket AND eb.vec_id <> qb.vec_id
  WHERE qb.vec_id < {N_QUERIES}
),
lsh_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id, {dot_cos} AS cos_sim
    FROM cand c
    JOIN emb q ON q.vec_id = c.query_id
    JOIN emb e ON e.vec_id = c.neighbor_id
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {TOP_K}
),
bq AS (
  SELECT vec_id, {_bq_pack_duck(0, 32)} AS w0, {_bq_pack_duck(32, 64)} AS w1
  FROM embeddings
),
ham_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           CAST(bit_count(xor(q.w0, e.w0))
                + bit_count(xor(q.w1, e.w1)) AS BIGINT) AS hamming
    FROM bq q JOIN bq e ON e.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, neighbor_id) <= {_BQ_TOPK}
),
lsh_perq AS {_recall_perq_cte('lsh_topk')},
ham_perq AS {_recall_perq_cte('ham_topk')}
SELECT 'lsh' AS variant, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(n_hit) * 1000000 // (COUNT(*) * {TOP_K}) AS BIGINT)
         AS recall_ppm
FROM lsh_perq
UNION ALL
SELECT 'hamming', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_hit) * 1000000 // (COUNT(*) * {TOP_K}) AS BIGINT)
FROM ham_perq
"""


@query(
    "sim_ann_recall_eval",
    oracle=_lsh_hamming_recall_oracle,
    tags=("similarity", "eval"),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the DETERMINISTICALLY-REPRODUCIBLE ANN tiers
    (hyperplane-LSH, 1-bit Hamming) against the exact brute-force
    baseline on the fixed query set — one row per variant, now with a
    full hash-matching DuckDB oracle (round-9 directive 5: the seeded
    hyperplanes inline as literals and the sign/bucket/rerank chain is
    pure SQL, so this eval is no longer rows-only).  The trained tiers
    (IVF, PQ) live in ``sim_ann_recall_eval_trained`` — their fits are
    genuinely execution-engine artifacts (see its docstring) and
    cannot be reproduced by an independent SQL engine.

    Cost: each variant's candidate path + one id-width semi-join per
    variant against the exact top-k; all sides are id-width, the
    embedding table is scanned by the variants
    themselves.""".replace("{k}", str(TOP_K))
    variants = [
        ("lsh", ann_lsh_topk(spark, sf_dir)),
        ("hamming", sim_binary_hamming(spark, sf_dir)),
    ]
    out = None
    for name, df in variants:
        r = _recall_vs_exact(spark, sf_dir, df, name)
        out = r if out is None else out.unionAll(r)
    return out


# --- deterministic-trained tiers (round-11 directive 4) --------------------
#
# The float serving-path fits (ann_ivf_topk's float64 Lloyd,
# ann_pq_topk's Bernoulli-sampled codebooks) are execution-engine
# artifacts no independent SQL engine can reproduce (layout-dependent
# sampling; ulp-order-dependent float sums). The TRAINED-tier recall
# eval therefore evaluates deterministic-training twins of the same
# index families — still genuinely trained on the data, but through
# the exact-integer Lloyd machinery that emb_kmeans_lloyd already
# proved SQL-replayable:
#
#   IVF tier: coarse cells = the exact-integer Lloyd clustering
#     (milli-quantized vectors, first-k seeding, smallest-id
#     tie-break), nprobe nearest cells per query by the same integer
#     distance, exact widened-fold cosine rerank.
#   PQ tier: 16 subspaces x 4 dims, codebooks from the same integer
#     Lloyd per subspace (in lockstep), ADC scores as EXACT int64
#     dot products of milli-quantized query subvectors against
#     codewords — the score sum is integer, so no float fold-order
#     can diverge anywhere in the tier.
#
# The float serving paths keep their recall floors pinned in
# tests/test_similarity.py; the planted-neighbor contract
# (sim_ann_ivf / sim_ann_pq) covers their correctness.

_DET_NPROBE = 2  # of the emb_kmeans_lloyd k=8 cells
_PQ_SUBS = 16
_PQ_SUBDIM = 4
_PQ_CODES = 16  # 4-bit codes, the float tier's width
_PQ_ITERS = 2
_PQ_SHORTLIST = 4 * TOP_K  # ADC shortlist reranked by exact cosine

_FOLD_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " 0L, (acc, x) -> acc + x)"
)


def _ivf_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the deterministic exact-integer coarse quantizer: the
    cells ARE emb_kmeans_lloyd's clustering (same k, iters, seeding,
    tie-break); probing and assignment use the same exact int64
    distance; the rerank is the widened-fold cosine shared with the
    brute-force baseline."""
    from udacity_data_engineer_capstone_spark.operators.embeddings import (
        _KM_ITERS,
        _KM_K,
        int_lloyd,
        int_lloyd_assign,
        milli_quantize,
    )

    raw = load_table_scaled(spark, sf_dir, "embeddings")
    emb = _as_double(raw)
    q = milli_quantize(raw).localCheckpoint()
    cents, _upd = int_lloyd(q, _KM_K, _KM_ITERS)
    cents = cents.localCheckpoint()
    cells = int_lloyd_assign(q, cents)

    qq = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qm")
    )
    d2 = F.expr(_FOLD_D2.format(a="qm", b="c"))
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("cid"))
    probes = (
        qq.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DET_NPROBE)
        .select("qid", "cid")
    )
    # a vector lives in exactly one cell and a query probes distinct
    # cells, so (query, neighbor) pairs are already unique
    cand = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
        )
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    ev = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("ev")
    )
    dot = F.expr(
        "aggregate(zip_with(qv, ev, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )
    nq = F.sqrt(
        F.expr("aggregate(transform(qv, x -> x * x), 0D, (acc, x) -> acc + x)")
    )
    ne = F.sqrt(
        F.expr("aggregate(transform(ev, x -> x * x), 0D, (acc, x) -> acc + x)")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(ev, "neighbor_id")
        .select("query_id", "neighbor_id", (dot / (nq * ne)).alias("cos_sim"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


def _pq_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ+ADC with deterministic exact-integer codebooks: per-subspace
    integer Lloyd (first-k seeding, smallest-code tie-break), ADC
    scores as exact int64 dots of milli-quantized query subvectors
    against codewords — integer everywhere, so the tier is
    bit-reproducible by construction."""
    from udacity_data_engineer_capstone_spark.operators.embeddings import (
        milli_quantize,
    )

    raw = load_table_scaled(spark, sf_dir, "embeddings")
    q = milli_quantize(raw)
    qsub = q.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_PQ_SUBS - 1}),"
                f" s -> slice(q, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}))"
            )
        ).alias("s", "qs"),
    ).localCheckpoint()

    cb = qsub.filter(F.col("vec_id") < _PQ_CODES).select(
        "s", F.col("vec_id").alias("code"), F.col("qs").alias("c")
    )
    d2 = F.expr(_FOLD_D2.format(a="qs", b="c"))

    def _assign_codes(codebook: DataFrame) -> DataFrame:
        return (
            qsub.join(F.broadcast(codebook), "s")
            .withColumn("d2", d2)
            .groupBy("vec_id", "s")
            .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
        )

    for _ in range(_PQ_ITERS):
        assigned = _assign_codes(cb)
        upd = (
            assigned.join(qsub, ["vec_id", "s"])
            .select("s", "code", F.posexplode("qs").alias("j0", "qv"))
            .groupBy("s", "code", (F.col("j0") + 1).alias("j"))
            .agg(
                F.floor(F.sum("qv").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("c_milli")
            )
        )
        cb = (
            upd.groupBy("s", "code")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(j, c_milli))),"
                    " t -> t.c_milli)"
                ).alias("c")
            )
            .localCheckpoint()
        )

    codes = _assign_codes(cb)
    qpart = (
        qsub.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "s", "qs")
        .join(F.broadcast(cb), "s")
        .select(
            "query_id",
            "s",
            "code",
            F.expr(
                "aggregate(zip_with(qs, c, (x, y) -> x * y),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("p"),
        )
    )
    scored = (
        codes.join(F.broadcast(qpart), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("p").alias("score"))
    )
    # ADC shortlist, then the exact widened-fold cosine rerank the
    # float tier also does — ADC ranks with quantization noise; the
    # true neighbors only need to LAND in the shortlist
    wk = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    emb = _as_double(raw)
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    ev = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("ev")
    )
    dot = F.expr(
        "aggregate(zip_with(qv, ev, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )
    nq = F.sqrt(
        F.expr("aggregate(transform(qv, x -> x * x), 0D, (acc, x) -> acc + x)")
    )
    ne = F.sqrt(
        F.expr("aggregate(transform(ev, x -> x * x), 0D, (acc, x) -> acc + x)")
    )
    rer = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(ev, "neighbor_id")
        .select("query_id", "neighbor_id", (dot / (nq * ne)).alias("cos_sim"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def _trained_recall_oracle() -> str:
    """Generated DuckDB oracle for the deterministic-trained tiers:
    the IVF chain reuses emb_kmeans_lloyd's unrolled Lloyd CTEs
    (km_ctes — the engine and oracle share one textual definition of
    the fit), adds a final assignment + nprobe probing + the widened
    cosine rerank; the PQ chain unrolls the per-subspace integer Lloyd
    the same way and scores candidates with exact integer ADC sums."""
    from udacity_data_engineer_capstone_spark.operators.embeddings import (
        _KM_ITERS,
        _KM_K,
        km_ctes,
    )

    dot_cos = f"{_DOT} / ({_NORM.format(s='q')} * {_NORM.format(s='e')})"
    d2_64 = (
        "list_sum(list_transform(range(1, 65),"
        " j -> (q.q[j] - c.c[j]) * (q.q[j] - c.c[j])))"
    )
    d2_sub = (
        f"list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),"
        " j -> (q.qs[j] - c.c[j]) * (q.qs[j] - c.c[j])))"
    )
    ctes = [
        """emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)""",
        f"""exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           {dot_cos} AS cos_sim
    FROM emb q JOIN emb e ON e.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {TOP_K}
)""",
        "eq AS (SELECT DISTINCT query_id FROM exact)",
    ]
    ctes += km_ctes(_KM_K, _KM_ITERS, p="kv")
    ctes += [
        f"""kvafin AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {d2_64}, c.cid) AS rn
    FROM kvq q CROSS JOIN kvc{_KM_ITERS} c
  ) t WHERE rn = 1
)""",
        f"""probe AS (
  SELECT vec_id AS qid, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {d2_64}, c.cid) AS rn
    FROM kvq q CROSS JOIN kvc{_KM_ITERS} c
    WHERE q.vec_id < {N_QUERIES}
  ) t WHERE rn <= {_DET_NPROBE}
)""",
        f"""ivf_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.qid AS query_id, a.vec_id AS neighbor_id, {dot_cos} AS cos_sim
    FROM probe p
    JOIN kvafin a ON a.cid = p.cid AND a.vec_id <> p.qid
    JOIN emb q ON q.vec_id = p.qid
    JOIN emb e ON e.vec_id = a.vec_id
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {TOP_K}
)""",
        f"""sub AS (
  SELECT vec_id, u.s,
         q[u.s * {_PQ_SUBDIM} + 1 : u.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS qs
  FROM kvq, LATERAL (SELECT unnest(range(0, {_PQ_SUBS})) AS s) u
)""",
        f"pcb0 AS (SELECT s, vec_id AS code, qs AS c FROM sub"
        f" WHERE vec_id < {_PQ_CODES})",
    ]
    for i in range(1, _PQ_ITERS + 1):
        ctes.append(
            f"""pa{i} AS (
  SELECT vec_id, s, code FROM (
    SELECT q.vec_id, q.s, c.code,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id, q.s
             ORDER BY {d2_sub}, c.code) AS rn
    FROM sub q JOIN pcb{i - 1} c ON c.s = q.s
  ) t WHERE rn = 1
)""")
        ctes.append(
            f"""pe{i} AS (
  SELECT a.s, a.code, u.j,
         CAST(floor(CAST(SUM(q.qs[u.j]) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS c_milli
  FROM pa{i} a JOIN sub q ON q.vec_id = a.vec_id AND q.s = a.s,
       LATERAL (SELECT unnest(range(1, {_PQ_SUBDIM + 1})) AS j) u
  GROUP BY a.s, a.code, u.j
)""")
        ctes.append(
            f"pcb{i} AS (SELECT s, code, list(c_milli ORDER BY j) AS c"
            f" FROM pe{i} GROUP BY s, code)"
        )
    ctes += [
        f"""codes AS (
  SELECT vec_id, s, code FROM (
    SELECT q.vec_id, q.s, c.code,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id, q.s
             ORDER BY {d2_sub}, c.code) AS rn
    FROM sub q JOIN pcb{_PQ_ITERS} c ON c.s = q.s
  ) t WHERE rn = 1
)""",
        f"""qpart AS (
  SELECT q.vec_id AS query_id, q.s, c.code,
         list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                  j -> q.qs[j] * c.c[j])) AS p
  FROM sub q JOIN pcb{_PQ_ITERS} c ON c.s = q.s
  WHERE q.vec_id < {N_QUERIES}
)""",
        f"""pq_short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, cd.vec_id AS neighbor_id,
           SUM(p.p) AS score
    FROM codes cd JOIN qpart p ON p.s = cd.s AND p.code = cd.code
    WHERE cd.vec_id <> p.query_id
    GROUP BY p.query_id, cd.vec_id
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id)
      <= {_PQ_SHORTLIST}
)""",
        f"""pq_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT sl.query_id, sl.neighbor_id, {dot_cos} AS cos_sim
    FROM pq_short sl
    JOIN emb q ON q.vec_id = sl.query_id
    JOIN emb e ON e.vec_id = sl.neighbor_id
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {TOP_K}
)""",
        f"ivf_perq AS {_recall_perq_cte('ivf_topk')}",
        f"pq_perq AS {_recall_perq_cte('pq_topk')}",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT 'ivf' AS variant, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(n_hit) * 1000000 // (COUNT(*) * {TOP_K}) AS BIGINT)
         AS recall_ppm
FROM ivf_perq
UNION ALL
SELECT 'pq', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_hit) * 1000000 // (COUNT(*) * {TOP_K}) AS BIGINT)
FROM pq_perq
"""
    )


@query(
    "sim_ann_recall_eval_trained",
    oracle=_trained_recall_oracle,
    tags=("similarity", "eval"),
)
def sim_ann_recall_eval_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the TRAINED ANN tiers against the exact
    brute-force baseline, now with a full hash-matching DuckDB oracle
    (round-11 directive 4). The evaluated tiers are the
    deterministic-training twins of IVF and PQ (module note above):
    exact-integer Lloyd cells / codebooks, integer probing distances,
    integer ADC — trained on the data, reproducible by construction,
    so the entire fit→index→search→recall chain replays in SQL. The
    float serving-path fits (ann_ivf_topk, ann_pq_topk) remain
    evaluated by the planted-neighbor contract (sim_ann_ivf,
    sim_ann_pq) and the recall floors in tests/test_similarity.py —
    their Bernoulli sample / float-sum fits are execution-engine
    artifacts no independent SQL engine can reproduce.

    Cost: the Lloyd fits are constant-size driver fetches + narrow
    Arrow maps (emb_kmeans_lloyd's scale shape); candidate generation
    is cell-bounded (IVF) / codes-table-bounded (PQ, the point of
    ADC); rerank joins are id-width.""".replace("{k}", str(TOP_K))
    variants = [
        ("ivf", _ivf_det_topk(spark, sf_dir)),
        ("pq", _pq_det_topk(spark, sf_dir)),
    ]
    out = None
    for name, df in variants:
        r = _recall_vs_exact(spark, sf_dir, df, name)
        out = r if out is None else out.unionAll(r)
    return out
