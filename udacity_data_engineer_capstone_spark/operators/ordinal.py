"""Two-phase exact global ordinal — the pattern that replaces the
single-partition global-window trap.

``row_number().over(Window.orderBy(...))`` with no partition columns
forces Spark to funnel the ENTIRE frame through one task (the plan
shows ``Exchange SinglePartition`` feeding the Window).  Fine for a
bounded frame; a scale-killer for a corpus- or user-sized one.  This
module provides the exact replacement, extracted from
``curate_shuffle_epoch`` (operators/curation.py), generalized to any
deterministic total order:

1. **Bucket** every row by a *monotone* function of its sort key
   (range buckets from an approximate-quantile histogram — the same
   device as external sorting's histogram pass).  Monotone means: if
   row a sorts before row b, bucket(a) <= bucket(b).  The bucket
   boundaries come from ``percentile_approx``; their QUALITY only
   affects bucket balance, never correctness, because phase 2 is exact
   within each bucket and the offsets are exact counts.
2. **Count** rows per bucket (one hash aggregate, output bounded by
   the constant bucket count), cumulative-sum the counts on the driver
   (a loop over <= ``n_buckets`` rows), and broadcast the offsets back.
3. **Rank within bucket** with ``row_number`` over
   ``Window.partitionBy(bucket).orderBy(exact keys)`` — corpus-sized
   work at bucket-level parallelism — and add the bucket's offset.

The result is the IDENTICAL rank a global window would produce for a
deterministic tie-broken ordering, so DuckDB oracle hashes are
preserved byte-for-byte, while the plan has no SinglePartition
exchange under any Window.

Sizing (the mm_phash lesson — constants must be derived, not frozen):
``n_buckets`` defaults to the session's ``spark.sql.shuffle.partitions``
clamped to [64, 1024].  The bucket count needs to be >= cluster
parallelism for the phase-3 window to use every core; bucket
assignment is a BALANCED binary-search expression tree over the
boundary literals (O(log n_buckets) comparisons per row — 10 at the
1024 cap), so widening the cap at 100 TB (65k buckets = a 65k-row
driver loop and 16 comparisons per row) changes nothing else.

Ties: the bucket key is a function of the sort key, so rows that tie
on it land in the SAME bucket and the within-bucket sort breaks the
tie exactly.  A heavily-tied key (few distinct values) therefore
degrades toward one task per distinct value — still |distinct|-way
parallel, vastly better than the 1-way global window, and the caller
can fold a high-cardinality tiebreak INTO the bucket key (see
``composite_bucket_key``) to restore full parallelism.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MIN_BUCKETS = 64
_MAX_BUCKETS = 1024

# Bounded eviction ring for the helpers' lazy localCheckpoints (the
# spatial._PERSIST_RING concern, applied here): every global_* call
# materializes up to two checkpointed frames, and repeated invocations
# (bench median-of-N, the registry-wide plan sweep, the 1200-test
# oracle gate) would otherwise accumulate executor storage blocks for
# the session lifetime.  Unlike persist(), an evicted localCheckpoint
# CANNOT recompute (lineage is truncated — a later action fails LOUDLY
# with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never silently wrong), so
# the ring is sized WAY above any single query's checkpoint count
# (max observed: 8 for the composed pipelines): eviction only ever
# reaches frames from invocations that are at least several queries
# old, i.e. already consumed.  Callers that must hold a ranked frame
# across many later queries can pass checkpoint=False and manage their
# own persistence.
#
# The ring is bounded on TWO axes (round-9 verdict: a handle count
# alone leaves the BYTE footprint unbounded — 64 handles of
# sf-proportional frames is still O(64·sf) storage under a long bench
# loop): at most _CKPT_RING_MAX handles, and at most
# _CKPT_RING_MAX_BYTES (8 GiB) of MATERIALIZED block bytes, measured
# from the JVM storage registry on every new checkpoint.  Byte
# eviction is oldest-first and never touches the newest _CKPT_RING_KEEP
# entries (the ones the CURRENT query may still be executing against),
# so a single query whose own checkpoints exceed the budget degrades
# to the count bound instead of self-evicting. _CKPT_LOCK guards every
# mutation of the ring, which queries on several driver threads share.
_CKPT_RING: list = []  # (rdd_id, JVM RDD handle), oldest first
_CKPT_RING_MAX = 64
_CKPT_RING_KEEP = 8
_CKPT_RING_MAX_BYTES = 8 << 30
_CKPT_LOCK = threading.Lock()


def _ring_checkpoint(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` routed through the bounded eviction
    ring: the checkpointed frame's underlying RDD handle is tracked and
    the oldest entries beyond ``_CKPT_RING_MAX`` handles or the
    ``_CKPT_RING_MAX_BYTES`` byte budget (materialized block bytes,
    from the JVM storage registry) are unpersisted."""
    ck = df.localCheckpoint(eager=False)
    try:
        # the analyzed plan of a checkpointed Dataset is a LogicalRDD
        # wrapping the (to-be-)checkpointed RDD — the handle unpersist
        # must target to actually free the blocks
        jrdd = ck._jdf.queryExecution().analyzed().rdd()
        with _CKPT_LOCK:
            _CKPT_RING.append((jrdd.id(), jrdd))
            while len(_CKPT_RING) > _CKPT_RING_MAX:
                _CKPT_RING.pop(0)[1].unpersist(False)
            sizes = _storage_bytes_by_id(df.sparkSession)
            total = sum(sizes.get(rid, 0) for rid, _ in _CKPT_RING)
            while total > _CKPT_RING_MAX_BYTES and len(_CKPT_RING) > _CKPT_RING_KEEP:
                rid, h = _CKPT_RING.pop(0)
                h.unpersist(False)
                total -= sizes.get(rid, 0)
    except Exception:
        pass  # introspection failure = no eviction, never a query failure
    return ck


def _storage_bytes_by_id(spark) -> dict[int, int]:
    """rdd_id -> materialized bytes (mem + disk) from the JVM storage
    registry — only MATERIALIZED blocks appear; a lazy checkpoint that
    never executed reports nothing (and holds nothing to evict)."""
    return {
        info.id(): int(info.memSize()) + int(info.diskSize())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def ring_storage_bytes(spark) -> int:
    """Materialized bytes currently held by ring-tracked checkpoints —
    the bench/test assertion surface for the byte bound."""
    sizes = _storage_bytes_by_id(spark)
    return sum(sizes.get(rid, 0) for rid, _ in _CKPT_RING)


def evict_checkpoints() -> None:
    """Unpersist every ring-tracked ordinal checkpoint (test/bench
    hygiene hook — do not call while a returned frame is still
    pending execution)."""
    with _CKPT_LOCK:
        while _CKPT_RING:
            try:
                _CKPT_RING.pop()[1].unpersist(False)
            except Exception:
                pass


def _bucket_expr(bounds: list[float], col: Column) -> Column:
    """Bucket id = number of (strictly sorted) boundaries <= ``col``,
    as a BALANCED binary-search tree of nested ``when`` expressions —
    O(log n_buckets) comparisons per row instead of the O(n_buckets)
    linear fold (10 comparisons at the 1024-bucket cap vs 1023), and
    no higher-order function for Catalyst to trip over."""

    def build(lo: int, hi: int) -> Column:
        if lo >= hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            col >= F.lit(float(bounds[mid])), build(mid + 1, hi)
        ).otherwise(build(lo, mid))

    return build(0, len(bounds))


def composite_bucket_key(
    key_asc: Column, tiebreak: Column, tiebreak_scale: float = 1e-12
) -> Column:
    """Fold a high-cardinality ascending tiebreak into the bucket key.

    ``key + tiebreak * scale`` is monotone along the (key, tiebreak)
    lexicographic order as long as ``tiebreak * scale`` stays below the
    smallest gap between distinct key values (integer keys: gap >= 1,
    so any ``tiebreak * scale < 1`` works).  Floating-point rounding
    can only COLLAPSE neighbors (same bucket), never reorder them, so
    exactness is preserved; the payoff is that ties on ``key`` spread
    across buckets instead of piling into one.

    Contract (ENFORCED per row below — a violating row fails the
    histogram job loudly instead of silently producing non-monotone
    buckets and hence wrong global ranks):

    - ``tiebreak`` must be non-negative and < ``1/tiebreak_scale``
      (default: < 1e12), so ``tiebreak * scale`` lands in [0, 1);
    - ``key_asc`` must have gaps >= 1 between DISTINCT values (any
      integer-valued key qualifies) — this half is a pairwise property
      a per-row check cannot see, so it stays a documented
      precondition; keys with sub-1 gaps must use the plain key as the
      bucket key (ties collapse into one bucket, still correct).
    """
    limit = 1.0 / tiebreak_scale
    tb = tiebreak.cast("double")
    guarded = F.when((tb >= 0) & (tb < F.lit(limit)), tb).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "composite_bucket_key: tiebreak out of [0, "
                    f"{limit:g}): "
                ),
                tb.cast("string"),
            )
        )
    )
    return key_asc.cast("double") + guarded * F.lit(tiebreak_scale)


def default_n_buckets(spark) -> int:
    """shuffle.partitions clamped to [64, 1024] — see module docstring."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(_MIN_BUCKETS, min(_MAX_BUCKETS, parts))


def _hist_accuracy(n_buckets: int) -> int:
    """``percentile_approx`` accuracy DERIVED from the bucket count
    (the mm_phash lesson again — this was a frozen 10,000 through round
    9).  The sketch's relative rank error is 1/accuracy, and the ONLY
    thing the boundaries influence is bucket BALANCE (phase 2/3 are
    exact regardless — ranks never depend on where the bounds land),
    so the error just needs to be small against the bucket width
    1/n_buckets: ``accuracy = max(2048, 4·n_buckets)`` keeps boundary
    error ≤ 1/4 of a bucket at every bucket count up to the 1024 cap.
    Why it matters: the sketch-merge cost of the frozen constant
    DOMINATED the histogram pass at scale — measured on a 1.5M-row
    3-spec aggregate: accuracy 10,000 → 1.69 s/call, 2,048 → ~0.6 s —
    and the histogram is the ordinal family's single most expensive
    job (the round-10 pipe_event_360 stage profile)."""
    return max(2048, 4 * n_buckets)


def _bad_key_count(col: str) -> Column:
    """NULL-or-NaN count of a (double) bucket-key column — folded into
    the histogram aggregate each helper already runs, so enforcing the
    non-null contract costs one agg column, not one extra job.  A NULL
    or NaN bucket key would silently land in an arbitrary bucket (every
    comparison in the search tree is false), i.e. an ill-defined rank;
    better to fail the call."""
    c = F.col(col)
    return F.sum(F.when(c.isNull() | F.isnan(c), 1).otherwise(0))


def _require_clean_keys(bad: int, who: str) -> None:
    if bad:
        raise ValueError(
            f"{who}: {bad} row(s) have a NULL or NaN bucket key — the "
            "sort/bucket keys must be non-null (filter or coalesce "
            "them before ranking)"
        )


_SORT_ORDER_SUFFIXES = (
    " ASC NULLS FIRST'>",
    " ASC NULLS LAST'>",
    " DESC NULLS FIRST'>",
    " DESC NULLS LAST'>",
)


def _reject_sort_orders(order_by: Sequence[Column], who: str) -> None:
    """Fail fast (naming the actual contract) when an ``order_by``
    element is a sort-ordered Column (``col.desc()`` etc.).  The
    helpers that enforce the unique-order-key contract wrap
    ``order_by`` in ``F.struct`` for the adjacency guard, and a
    SortOrder inside a struct fails ANALYSIS with an unrelated error —
    this check surfaces the real restriction instead (the helpers take
    plain columns; orientation belongs in the bucket key)."""
    for i, c in enumerate(order_by):
        if str(c).endswith(_SORT_ORDER_SUFFIXES):
            raise ValueError(
                f"{who}: order_by[{i}] is a sort-ordered Column "
                f"({str(c)}) — pass plain (un-oriented) columns; "
                "express direction through the monotone bucket_key "
                "instead (e.g. -score for descending)"
            )


def _dup_guard(prev_eq_cur: Column, who: str) -> Column:
    """Unique-order-key contract as a ZERO-COST per-row guard: a
    duplicated order key would make the result silently ill-defined
    (ROWS vs RANGE frames diverge / the boundary row is ambiguous), so
    the helpers must fail loudly — but an exact global
    ``count_distinct`` check is NOT one free agg column: Spark plans
    it as an Expand plus a distinct-key-width SHUFFLE, turning the
    otherwise shuffle-free histogram scan into the most expensive pass
    (measured: stat_mann_whitney 1.3 s → 5.5 s at sf0.1).  Instead the
    check rides the within-bucket WINDOW pass each helper already
    runs: equal keys always land in the SAME bucket (bucketing is a
    monotone function of the key), so every duplicate pair is ADJACENT
    in that pass's (bucket, key) sort and ``lag(key) == key`` detects
    ALL of them — complete enforcement, no extra shuffle, no extra
    job.  The guard column is folded into the output expression so
    column pruning can never drop it; the raise surfaces at the
    consumer's first action (Spark ``raise_error``), naming the
    violated contract."""
    return (
        F.when(
            prev_eq_cur,
            F.raise_error(
                F.lit(
                    f"{who}: duplicate order key — this helper requires "
                    "a unique order key (run it on a distinct-value "
                    "frame or add a unique tiebreak)"
                )
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    bucket_key: Column,
    *,
    out: str = "rk",
    n_buckets: int | None = None,
    checkpoint: bool = True,
) -> tuple[DataFrame, int]:
    """Attach an exact 1-based global ``row_number`` (column ``out``,
    long) ordered by ``order_by``, without a single-partition window.

    ``order_by``: the exact, deterministic total order (already
    oriented — pass ``F.col("score").desc(), F.col("id")``).  Must be
    a total order (include a unique tiebreak) for the result to be
    well-defined; keys must be non-null.

    ``bucket_key``: a numeric column ASCENDING-monotone along that
    order (for a descending score, pass ``-score``; to spread heavy
    ties, use :func:`composite_bucket_key`).  Only monotonicity
    matters — any monotone function yields identical ranks.

    ``checkpoint``: lazily ``localCheckpoint`` the input so the three
    passes (boundary histogram, bucket counts, final rank) scan the
    upstream lineage once — the histogram pass materializes it.  Pass a PRUNED frame (ids + keys, not
    payloads); at cluster scale the checkpoint is executor-local
    disk-backed storage sized by the pruned frame, far below the
    corpus it ranks.  Checkpoints live in a bounded eviction ring
    (``_CKPT_RING_MAX`` = 64 handles AND a ``_CKPT_RING_MAX_BYTES``
    byte budget of 8 GiB); an evicted localCheckpoint cannot recompute,
    so a caller that lazily holds a returned frame across many LATER
    ``global_*`` calls must pass ``checkpoint=False`` (or act on the
    frame before issuing them) — a stale handle fails loudly at its first action,
    never silently wrong.

    Returns ``(df_with_rank, total_rows)`` — the exact total row count
    falls out of the histogram pass for free, so callers needing
    "rank vs n" cuts (median, tertile, ntile) take it as a driver
    literal instead of a second single-partition ``COUNT(*) OVER ()``.
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)
    kdf = df.withColumn("__obk", bucket_key.cast("double"))
    if checkpoint:
        # lazy: the histogram pass below materializes it (one job does
        # both), and every later pass reuses the checkpointed blocks
        kdf = _ring_checkpoint(kdf)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    hist = kdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("__obk", probs, _hist_accuracy(n_buckets)).alias("bounds"),
        _bad_key_count("__obk").alias("bad"),
    ).first()
    total = int(hist["n"] or 0)
    _require_clean_keys(int(hist["bad"] or 0), "global_row_number")
    if total == 0:
        return kdf.drop("__obk").withColumn(out, F.lit(None).cast("long")), 0
    # dedupe: equal boundaries produce empty buckets, not wrong ranks —
    # dropping them just keeps the search tree short
    bounds = sorted(set(hist["bounds"] or []))
    bucket = _bucket_expr(bounds, F.col("__obk")) if bounds else F.lit(0)
    # lazy checkpoint: the counts pass below materializes the bucketed
    # frame once and the final rank pass reuses it (instead of
    # re-running the search tree), and the lineage truncation keeps the
    # bucket expression out of downstream constraint propagation
    kdf = _ring_checkpoint(kdf.withColumn("__bkt", bucket))
    counts = kdf.groupBy("__bkt").agg(F.count(F.lit(1)).alias("n")).collect()
    # offsets attach as a DENSE driver-built literal array indexed by
    # bucket id (bounded by the constant bucket count) — a pure
    # projection, no join, no broadcast
    by_bkt = {int(r["__bkt"]): int(r["n"]) for r in counts}
    off, dense = 0, []
    for b in range(len(bounds) + 1):
        dense.append(off)
        off += by_bkt.get(b, 0)
    off_col = F.get(
        F.array(*[F.lit(o).cast("long") for o in dense]), F.col("__bkt")
    )
    w = Window.partitionBy("__bkt").orderBy(*order_by)
    ranked = kdf.withColumn(
        out, (off_col + F.row_number().over(w)).cast("long")
    ).drop("__obk", "__bkt")
    return ranked, total


def global_row_numbers(
    df: DataFrame,
    specs: Sequence[tuple[Sequence[Column], Column, str]],
    *,
    n_buckets: int | None = None,
    checkpoint: bool = True,
) -> tuple[DataFrame, int]:
    """Several exact global row_numbers over the SAME frame in one
    machinery pass — the RFM shape (3 independent ntile orders over one
    per-user table), where calling :func:`global_row_number` k times
    pays k histogram jobs + k count jobs. Here: ONE aggregate computes
    the row count and every spec's boundary histogram, ONE
    grouping-sets pass counts every spec's buckets, and the k
    within-bucket windows ride a single final job.

    ``specs``: (order_by, bucket_key, out) per rank — same contracts
    (incl. the bounded checkpoint ring and its hold-across-later-calls
    caveat) as :func:`global_row_number`. Returns (frame with all out
    columns, exact row count).
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)
    k = len(specs)
    kdf = df
    for i, (_, bk, _) in enumerate(specs):
        kdf = kdf.withColumn(f"__obk{i}", bk.cast("double"))
    if checkpoint:
        kdf = _ring_checkpoint(kdf)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    hist = kdf.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.percentile_approx(f"__obk{i}", probs, _hist_accuracy(n_buckets)).alias(f"b{i}")
            for i in range(k)
        ],
        *[_bad_key_count(f"__obk{i}").alias(f"bad{i}") for i in range(k)],
    ).first()
    total = int(hist["n"] or 0)
    for i in range(k):
        _require_clean_keys(
            int(hist[f"bad{i}"] or 0), f"global_row_numbers[spec {i}]"
        )
    if total == 0:
        out_df = kdf.drop(*[f"__obk{i}" for i in range(k)])
        for _, _, out in specs:
            out_df = out_df.withColumn(out, F.lit(None).cast("long"))
        return out_df, 0
    bounds_all: list[list[float]] = []
    for i in range(k):
        bounds = sorted(set(hist[f"b{i}"] or []))
        bounds_all.append(bounds)
        bucket = (
            _bucket_expr(bounds, F.col(f"__obk{i}")) if bounds else F.lit(0)
        )
        kdf = kdf.withColumn(f"__bkt{i}", bucket)
    kdf = _ring_checkpoint(kdf)  # see global_row_number
    gcols = [f"__bkt{i}" for i in range(k)]
    # k == 1 needs no grouping-sets Expand — a plain groupBy is the
    # same rows without the extra projection pass
    if k == 1:
        rows = (
            kdf.groupBy(gcols[0])
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    else:
        rows = (
            kdf.groupingSets([[c] for c in gcols], *gcols)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    # in a grouping-set row, exactly one __bkt{i} is non-NULL
    per_spec: list[dict[int, int]] = [dict() for _ in range(k)]
    for r in rows:
        for i, c in enumerate(gcols):
            if r[c] is not None:
                per_spec[i][int(r[c])] = int(r["n"])
                break
    result = kdf
    for i, (order_by, _, out) in enumerate(specs):
        off, dense = 0, []
        for b in range(len(bounds_all[i]) + 1):
            dense.append(off)
            off += per_spec[i].get(b, 0)
        off_col = F.get(
            F.array(*[F.lit(o).cast("long") for o in dense]),
            F.col(f"__bkt{i}"),
        )
        w = Window.partitionBy(f"__bkt{i}").orderBy(*order_by)
        result = result.withColumn(
            out, (off_col + F.row_number().over(w)).cast("long")
        )
    return result.drop(
        *[f"__obk{i}" for i in range(k)], *gcols
    ), total


def global_cum(
    df: DataFrame,
    order_by: Sequence[Column],
    bucket_key: Column,
    value: Column,
    *,
    agg: str = "sum",
    out: str = "cum",
    inclusive: bool = True,
    n_buckets: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact global running SUM/MAX of ``value`` along ``order_by``,
    without a single-partition window — the cumulative companion of
    :func:`global_row_number` (same histogram-bucket skeleton: range
    buckets, per-bucket totals, driver prefix-combine over <=
    ``n_buckets`` rows, within-bucket window + bucket base).

    ``inclusive=False`` gives the ``ROWS BETWEEN UNBOUNDED PRECEDING
    AND 1 PRECEDING`` frame (NULL on an empty prefix, matching SQL).
    The order key must be UNIQUE per row (callers run this on
    distinct-value frames; ENFORCED by a zero-cost adjacency guard in
    the within-bucket window pass — see :func:`_dup_guard` — raising
    at the consumer's first action), so ROWS
    and RANGE frames coincide and the result is engine-exact.
    ``order_by`` must therefore be plain (un-oriented) columns
    (VALIDATED up front — a sort-ordered Column raises a ValueError
    naming this contract instead of a struct analysis error).
    ``value`` must be integral (LONG) — the driver-side prefix combine
    is exact Python int arithmetic.  Checkpoints ride the same bounded
    eviction ring as :func:`global_row_number` (64 handles / 8 GiB
    default — see its docstring for the hold-across-later-calls
    caveat).
    """
    if agg not in ("sum", "max"):
        raise ValueError(f"agg must be 'sum' or 'max', got {agg!r}")
    _reject_sort_orders(order_by, "global_cum")
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)
    kdf = df.withColumn("__obk", bucket_key.cast("double")).withColumn(
        "__val", value.cast("long")
    )
    if checkpoint:
        # lazy: the histogram pass below materializes it (one job does
        # both), and every later pass reuses the checkpointed blocks
        kdf = _ring_checkpoint(kdf)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    hist = kdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("__obk", probs, _hist_accuracy(n_buckets)).alias("bounds"),
        _bad_key_count("__obk").alias("bad"),
    ).first()
    _require_clean_keys(int(hist["bad"] or 0), "global_cum")
    if int(hist["n"] or 0) == 0:
        return kdf.drop("__obk", "__val").withColumn(
            out, F.lit(None).cast("long")
        )
    bounds = sorted(set(hist["bounds"] or []))
    bucket = _bucket_expr(bounds, F.col("__obk")) if bounds else F.lit(0)
    # lazy checkpoint + dense literal bases — see global_row_number
    kdf = _ring_checkpoint(kdf.withColumn("__bkt", bucket))
    fold = F.sum if agg == "sum" else F.max
    totals = (
        kdf.groupBy("__bkt").agg(fold("__val").alias("t")).collect()
    )
    # exclusive prefix-combine of bucket totals on the driver (exact
    # Python ints; None base = no prior rows exist), dense by bucket id
    by_bkt = {int(r["__bkt"]): int(r["t"]) for r in totals}
    base: int | None = None
    dense: list[int | None] = []
    for b in range(len(bounds) + 1):
        dense.append(base)
        if b in by_bkt:
            t = by_bkt[b]
            if base is None:
                base = t
            else:
                base = base + t if agg == "sum" else max(base, t)
    base_col = F.get(
        F.array(*[F.lit(v).cast("long") for v in dense]), F.col("__bkt")
    )
    end = 0 if inclusive else -1
    w = (
        Window.partitionBy("__bkt")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    within = fold("__val").over(w)
    if agg == "sum":
        combined = F.when(base_col.isNull(), within).otherwise(
            F.coalesce(within, F.lit(0)) + base_col
        )
    else:
        combined = F.greatest(within, base_col)
    # duplicate-order-key guard riding the SAME window spec (one
    # Window exec, no extra shuffle/sort) — see _dup_guard.
    # eqNullSafe, not ==: struct equality with a NULL field inside is
    # three-valued NULL under ==, so duplicate pairs containing a NULL
    # in a non-bucket-key order_by column would silently escape the
    # guard (the NULL/NaN histogram check only covers the bucket key).
    wrow = Window.partitionBy("__bkt").orderBy(*order_by)
    guard = _dup_guard(
        F.lag(F.struct(*order_by)).over(wrow).eqNullSafe(F.struct(*order_by)),
        "global_cum",
    )
    return (
        kdf.withColumn(out, (combined + guard).cast("long"))
        .drop("__obk", "__val", "__bkt")
    )


def global_lag(
    df: DataFrame,
    order_col: Column,
    bucket_key: Column,
    *,
    out: str = "prev",
    n_buckets: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact global ``LAG(order_col) OVER (ORDER BY order_col)``
    without a single-partition window: within-bucket lag + the
    previous nonempty bucket's MAX as the lag of each bucket's first
    row (driver-computed over <= ``n_buckets`` rows). The global first
    row keeps NULL, matching SQL. ``order_col`` must be a unique LONG
    per row (the sequence-audit shape: lag over a distinct key set;
    ENFORCED by a zero-cost adjacency guard on the lag the final pass
    already computes — see :func:`_dup_guard` — raising at the
    consumer's first action).  Checkpoints ride the bounded eviction
    ring (64 handles / 8 GiB default — see :func:`global_row_number`).
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)
    kdf = df.withColumn("__ok", order_col.cast("long")).withColumn(
        "__obk", bucket_key.cast("double")
    )
    if checkpoint:
        # lazy: the histogram pass below materializes it (one job does
        # both), and every later pass reuses the checkpointed blocks
        kdf = _ring_checkpoint(kdf)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    hist = kdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("__obk", probs, _hist_accuracy(n_buckets)).alias("bounds"),
        _bad_key_count("__obk").alias("bad"),
    ).first()
    _require_clean_keys(int(hist["bad"] or 0), "global_lag")
    if int(hist["n"] or 0) == 0:
        return kdf.drop("__ok", "__obk").withColumn(
            out, F.lit(None).cast("long")
        )
    bounds = sorted(set(hist["bounds"] or []))
    bucket = _bucket_expr(bounds, F.col("__obk")) if bounds else F.lit(0)
    # lazy checkpoint + dense literal bases — see global_row_number
    kdf = _ring_checkpoint(kdf.withColumn("__bkt", bucket))
    maxima = kdf.groupBy("__bkt").agg(F.max("__ok").alias("m")).collect()
    by_bkt = {int(r["__bkt"]): int(r["m"]) for r in maxima}
    prev_max: int | None = None
    dense: list[int | None] = []
    for b in range(len(bounds) + 1):
        dense.append(prev_max)
        if b in by_bkt:
            prev_max = by_bkt[b]
    base_col = F.get(
        F.array(*[F.lit(v).cast("long") for v in dense]), F.col("__bkt")
    )
    w = Window.partitionBy("__bkt").orderBy("__ok")
    prev = F.lag("__ok").over(w)
    # duplicate-key guard on the lag already computed — see _dup_guard
    # (eqNullSafe so adjacent NULL keys read as duplicates, not NULL)
    guard = _dup_guard(prev.eqNullSafe(F.col("__ok")), "global_lag")
    return (
        kdf.withColumn(
            out, (F.coalesce(prev, base_col) + guard).cast("long")
        )
        .drop("__ok", "__obk", "__bkt")
    )


def global_lag_dense(
    df: DataFrame,
    order_col: Column,
    *,
    out: str = "prev",
    n_buckets: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`global_lag` for integer keys that are approximately DENSE
    in their [min, max] span — the surrogate-key-audit shape (round-9
    directive: ``act_sequence_gaps`` was the only smoke row named
    key-cardinality-linear two rounds running; its cost was dominated
    by machinery the shape doesn't need).

    Adjacency is LOCAL: a row's lag depends only on its immediate
    predecessor, so no global ordinal is required — ARITHMETIC range
    buckets ``(key - min) DIV width`` replace the histogram pass
    entirely (one MIN/MAX/COUNT hash aggregate instead of a
    ``percentile_approx`` sketch merge), each bucket lags
    independently in parallel, and the per-bucket maxima (<= n_buckets
    driver rows) splice the boundaries exactly as in
    :func:`global_lag`.  Identical output values; strictly fewer and
    cheaper jobs (no sketch, one checkpoint instead of two).

    Balance tradeoff (why this is not the default): arithmetic buckets
    are only as balanced as the keys are uniform over their span — a
    pathologically CLUSTERED sequence concentrates work in few buckets
    where the histogram variant would rebalance.  For a surrogate-key
    audit that degeneracy coincides with a catastrophically broken
    sequence, which is precisely what the caller is measuring; callers
    that cannot assume near-density must use :func:`global_lag`.

    Same contracts as :func:`global_lag`: unique non-null LONG keys
    (NULLs rejected from the stats pass; duplicates caught by the
    zero-cost adjacency guard), checkpoint routed through the bounded
    eviction ring (64 handles / 8 GiB default).
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)
    kdf = df.withColumn("__ok", order_col.cast("long"))
    if checkpoint:
        # lazy: the stats pass below materializes it; the maxima and
        # final lag passes reuse the checkpointed blocks
        kdf = _ring_checkpoint(kdf)
    stats = kdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__ok").alias("lo"),
        F.max("__ok").alias("hi"),
        F.sum(
            F.when(F.col("__ok").isNull(), 1).otherwise(0)
        ).alias("bad"),
    ).first()
    if int(stats["bad"] or 0):
        raise ValueError(
            f"global_lag_dense: {stats['bad']} row(s) have a NULL key — "
            "the order key must be non-null"
        )
    if int(stats["n"] or 0) == 0:
        return kdf.drop("__ok").withColumn(out, F.lit(None).cast("long"))
    lo, hi = int(stats["lo"]), int(stats["hi"])
    span = hi - lo + 1
    width = max(1, -(-span // n_buckets))  # ceil div
    n_bkts = (span - 1) // width + 1
    kdf = kdf.withColumn(
        "__bkt", F.expr(f"CAST((__ok - {lo}) DIV {width} AS INT)")
    )
    maxima = kdf.groupBy("__bkt").agg(F.max("__ok").alias("m")).collect()
    by_bkt = {int(r["__bkt"]): int(r["m"]) for r in maxima}
    prev_max: int | None = None
    dense: list[int | None] = []
    for b in range(n_bkts):
        dense.append(prev_max)
        if b in by_bkt:
            prev_max = by_bkt[b]
    base_col = F.get(
        F.array(*[F.lit(v).cast("long") for v in dense]), F.col("__bkt")
    )
    w = Window.partitionBy("__bkt").orderBy("__ok")
    prev = F.lag("__ok").over(w)
    guard = _dup_guard(prev.eqNullSafe(F.col("__ok")), "global_lag_dense")
    return (
        kdf.withColumn(
            out, (F.coalesce(prev, base_col) + guard).cast("long")
        )
        .drop("__ok", "__bkt")
    )


def ntile_cuts(n: int, k: int) -> list[int]:
    """The k-1 cumulative cut RANKS of standard SQL ``NTILE(k)`` over
    ``n`` rows (the first ``n % k`` tiles get ``n // k + 1`` rows):
    tile(row) = 1 + #{j : rank > cut_j}.  Feeds
    :func:`global_rank_segments_multi` so an ntile consumed only as a
    per-row code needs BOUNDARIES, not a full global rank."""
    q, r = divmod(n, k)
    cuts, c = [], 0
    for j in range(k - 1):
        c += (q + 1) if j < r else q
        cuts.append(c)
    return cuts


def global_rank_segments_multi(
    df: DataFrame,
    specs: Sequence[
        tuple[Column, Column, bool, Callable[[int], Sequence[int]], str]
    ],
    *,
    n_buckets: int | None = None,
    checkpoint: bool = True,
) -> tuple[DataFrame, int]:
    """Exact global rank SEGMENTS by boundary lookup — the cut-only
    sibling of :func:`global_row_numbers` for consumers that never emit
    the rank itself (median cuts, tertile/quartile/decile codes).

    For each spec ``(key, tiebreak, descending, ks_fn, out)`` the
    total order is (key asc|desc, tiebreak asc); ``ks_fn(total)``
    names the cut ranks k_1..k_m, and the output column ``out`` is the
    0-based segment index ``#{j : global_rank(row) > k_j}`` — exactly
    what a ``rank <= n//2`` filter or an ``ntile`` code (via
    :func:`ntile_cuts`, tile = segment + 1) consumes.

    Why this beats ranking: a full :func:`global_row_number` pays a
    corpus-wide within-bucket WINDOW SORT in the final job.  Here the
    k-th row itself is located instead — histogram pass (shared across
    specs), per-bucket counts (one grouping-sets pass), then ONE small
    job that sorts only the few buckets containing cut ranks (<=
    sum(|ks|) buckets of ~1/n_buckets of the frame each) to fetch the
    boundary rows.  The segment columns are then pure literal
    comparisons — the consumer's plan has NO window and NO exchange at
    all for the segment step, so the frame never shuffles on the way
    out.  Identical values to ``ntile()``/``row_number()``-based cuts
    (driver-gate hash-verified); strictly less work at every scale.

    Contracts: ``key`` numeric and non-null (NaN rejected) and
    ``tiebreak`` non-null — both enforced as expand-free columns in
    the shared histogram aggregate; ``(key, tiebreak)`` pairs must be
    DISTINCT (what makes the order total and the boundary row
    well-defined) — enforced by an adjacency check inside the
    boundary job, which scans exactly the buckets where a duplicate
    could corrupt a cut (duplicates elsewhere cannot change any
    segment value, since every row's segment is an independent
    comparison against the boundary literals).  Returns ``(frame with
    the out columns, exact total row count)``.
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)
    k = len(specs)
    kdf = df
    for i, (key, tie, desc, _, _) in enumerate(specs):
        okey = (-key) if desc else key  # oriented: ascending == global order
        kdf = (
            kdf.withColumn(f"__k{i}", key)
            .withColumn(f"__t{i}", tie)
            .withColumn(f"__obk{i}", okey.cast("double"))
        )
    if checkpoint:
        kdf = _ring_checkpoint(kdf)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    hist = kdf.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.percentile_approx(f"__obk{i}", probs, _hist_accuracy(n_buckets)).alias(f"b{i}")
            for i in range(k)
        ],
        *[_bad_key_count(f"__obk{i}").alias(f"bad{i}") for i in range(k)],
        # NULL tiebreaks would make boundary comparisons silently
        # three-valued; a conditional sum is expand-free (unlike
        # count_distinct — see _dup_guard for why that is banned here)
        *[
            F.sum(
                F.when(F.col(f"__t{i}").isNull(), 1).otherwise(0)
            ).alias(f"tnull{i}")
            for i in range(k)
        ],
    ).first()
    total = int(hist["n"] or 0)
    for i in range(k):
        _require_clean_keys(
            int(hist[f"bad{i}"] or 0), f"global_rank_segments[spec {i}]"
        )
        if int(hist[f"tnull{i}"] or 0):
            raise ValueError(
                f"global_rank_segments[spec {i}]: {hist[f'tnull{i}']} "
                "NULL tiebreak row(s) — the tiebreak must be non-null"
            )
    helper_cols = [
        c for i in range(k) for c in (f"__k{i}", f"__t{i}", f"__obk{i}")
    ]
    if total == 0:
        out_df = kdf.drop(*helper_cols)
        for _, _, _, _, out in specs:
            out_df = out_df.withColumn(out, F.lit(0).cast("int"))
        return out_df, 0
    bounds_all: list[list[float]] = []
    for i in range(k):
        bounds = sorted(set(hist[f"b{i}"] or []))
        bounds_all.append(bounds)
        bucket = (
            _bucket_expr(bounds, F.col(f"__obk{i}")) if bounds else F.lit(0)
        )
        kdf = kdf.withColumn(f"__bkt{i}", bucket)
    kdf = _ring_checkpoint(kdf)
    gcols = [f"__bkt{i}" for i in range(k)]
    # k == 1 needs no grouping-sets Expand — a plain groupBy is the
    # same rows without the extra projection pass
    if k == 1:
        rows = (
            kdf.groupBy(gcols[0])
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    else:
        rows = (
            kdf.groupingSets([[c] for c in gcols], *gcols)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    per_spec: list[dict[int, int]] = [dict() for _ in range(k)]
    for r in rows:
        for i, c in enumerate(gcols):
            if r[c] is not None:
                per_spec[i][int(r[c])] = int(r["n"])
                break
    # locate each cut rank's (bucket, within-bucket residual) on the
    # driver — a loop over <= n_buckets count rows per spec
    needed: dict[tuple[int, int, int], int] = {}  # (spec, bkt, rn) -> cut idx? value
    cut_plan: list[list[tuple[str, int, int]]] = []  # per spec: (kind, b, r)
    for i, (_, _, _, ks_fn, _) in enumerate(specs):
        ks = [int(x) for x in ks_fn(total)]
        plan_i: list[tuple[str, int, int]] = []
        for kk in ks:
            if kk <= 0:
                plan_i.append(("all_after", 0, 0))  # rank > 0: every row
                continue
            if kk >= total:
                plan_i.append(("none_after", 0, 0))  # rank > n: no row
                continue
            off, b, r = 0, 0, kk
            for bb in range(len(bounds_all[i]) + 1):
                cnt = per_spec[i].get(bb, 0)
                if off + cnt >= kk:
                    b, r = bb, kk - off
                    break
                off += cnt
            plan_i.append(("row", b, r))
            needed[(i, b, r)] = 1
        cut_plan.append(plan_i)
    boundaries: dict[tuple[int, int, int], tuple] = {}
    if needed:
        # ONE job over just the buckets that contain cut ranks: union
        # the per-spec slices, rank within (spec, bucket), keep the
        # residual positions.  Work is bounded by (number of distinct
        # cut buckets) x (rows per bucket) — ~|cuts|/n_buckets of the
        # frame, not the frame.
        by_spec_buckets: dict[int, set[int]] = {}
        for (i, b, _) in needed:
            by_spec_buckets.setdefault(i, set()).add(b)
        # each part carries an ORIENTED raw-key sort column __ord in
        # its NATIVE type (the double __obk may collapse distinct keys
        # near the precision edge; the within-bucket order here must
        # be exact), the raw key __kv for the returned literal, and
        # the tiebreak.  Parts union per key TYPE so no implicit
        # widening can reintroduce the collapse (in practice one
        # group: specs over one frame share the key type).
        wb = Window.partitionBy("__spec", "__b").orderBy("__ord", "__tv")
        rn = F.row_number().over(wb)
        # (key, tiebreak)-pair uniqueness is what makes the boundary
        # row well-defined, and it only MATTERS inside the buckets a
        # cut rank lands in — exactly the buckets this job sorts, where
        # duplicate pairs are ADJACENT (same one-pass adjacency device
        # as _dup_guard, but driver-raised from the collect below)
        # eqNullSafe (not ==): a NULL field inside the struct makes ==
        # three-valued, silently passing duplicate pairs — see the
        # matching fix in global_cum's guard
        dup = F.lag(F.struct("__ord", "__tv")).over(wb).eqNullSafe(
            F.struct("__ord", "__tv")
        )
        hit = None
        for (i, b, r) in needed:
            c = (
                (F.col("__spec") == i)
                & (F.col("__b") == b)
                & (F.col("__rn") == r)
            )
            hit = c if hit is None else (hit | c)
        type_groups: dict[str, list[DataFrame]] = {}
        for i, bs in sorted(by_spec_buckets.items()):
            key, _, desc_i = specs[i][0], specs[i][1], specs[i][2]
            part = kdf.where(
                F.col(f"__bkt{i}").isin(*[int(b) for b in bs])
            ).select(
                F.lit(i).alias("__spec"),
                F.col(f"__bkt{i}").cast("int").alias("__b"),
                ((-F.col(f"__k{i}")) if desc_i else F.col(f"__k{i}")).alias(
                    "__ord"
                ),
                F.col(f"__k{i}").alias("__kv"),
                F.col(f"__t{i}").alias("__tv"),
            )
            type_groups.setdefault(dict(part.dtypes)["__ord"], []).append(
                part
            )
        for parts in type_groups.values():
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            rows_out = (
                u.withColumn("__rn", rn)
                .withColumn("__dup", dup)
                .where(hit | F.col("__dup"))
                .collect()
            )
            for row in rows_out:
                if row["__dup"]:
                    raise ValueError(
                        f"global_rank_segments[spec {row['__spec']}]: "
                        "duplicate (key, tiebreak) pair in a cut-rank "
                        "bucket — the tiebreak must make the order "
                        "total for the boundary row to be well-defined"
                    )
            for row in rows_out:
                boundaries[
                    (int(row["__spec"]), int(row["__b"]), int(row["__rn"]))
                ] = (row["__kv"], row["__tv"])
    result = kdf
    for i, (_, _, desc_i, _, out) in enumerate(specs):
        key_c, tie_c = F.col(f"__k{i}"), F.col(f"__t{i}")
        seg = F.lit(0)
        for kind, b, r in cut_plan[i]:
            if kind == "all_after":
                cmp_c = F.lit(True)
            elif kind == "none_after":
                cmp_c = F.lit(False)
            else:
                kv, tv = boundaries[(i, b, r)]
                if desc_i:
                    cmp_c = (key_c < F.lit(kv)) | (
                        (key_c == F.lit(kv)) & (tie_c > F.lit(tv))
                    )
                else:
                    cmp_c = (key_c > F.lit(kv)) | (
                        (key_c == F.lit(kv)) & (tie_c > F.lit(tv))
                    )
            seg = seg + cmp_c.cast("int")
        result = result.withColumn(out, seg.cast("int"))
    return result.drop(*helper_cols, *gcols), total


def global_rank_segments(
    df: DataFrame,
    key: Column,
    tiebreak: Column,
    ks_fn: Callable[[int], Sequence[int]],
    *,
    descending: bool = False,
    out: str = "seg",
    n_buckets: int | None = None,
    checkpoint: bool = True,
) -> tuple[DataFrame, int]:
    """Single-spec sugar over :func:`global_rank_segments_multi` — the
    median-cut shape: ``global_rank_segments(df, score, doc_id,
    lambda n: [n // 2], descending=True)`` then ``filter(seg == 0)``
    keeps exactly the rows a ``row_number() <= n//2`` filter would,
    with no window anywhere in the plan."""
    return global_rank_segments_multi(
        df,
        [(key, tiebreak, descending, ks_fn, out)],
        n_buckets=n_buckets,
        checkpoint=checkpoint,
    )


def ntile_from_rank(rk: Column, n: int, k: int) -> Column:
    """Exact ``NTILE(k)`` derived from a 1-based global rank and the
    driver-known row count — standard SQL semantics (the first
    ``n % k`` tiles get ``n // k + 1`` rows), as a pure column
    expression, so the ntile inherits :func:`global_row_number`'s
    scale shape instead of needing its own global window."""
    q, r = divmod(n, k)
    if q == 0:
        # fewer rows than tiles: tile i gets row i
        return rk.cast("int")
    big = r * (q + 1)
    in_big = F.floor((rk - F.lit(1)) / F.lit(q + 1))
    in_small = F.lit(r) + F.floor((rk - F.lit(1) - F.lit(big)) / F.lit(q))
    return (
        F.when(rk <= F.lit(big), in_big).otherwise(in_small) + F.lit(1)
    ).cast("int")
