"""Unit tests for the two-phase exact global ordinal helpers
(operators/ordinal.py) against Spark's own single-partition windows on
deterministic data — ranks, cumulative sum/max, lag, and ntile must be
IDENTICAL (the whole point: same values, different plan shape)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from udacity_data_engineer_capstone_spark.operators.ordinal import (
    composite_bucket_key,
    global_cum,
    global_lag,
    global_rank_segments,
    global_rank_segments_multi,
    global_row_number,
    ntile_cuts,
    ntile_from_rank,
)
from udacity_data_engineer_capstone_spark.plans.audit import (
    unbounded_global_windows,
)


def _mixed(spark, n=997):
    """Deterministic frame with heavy ties (score = id % 13) and a
    unique tiebreak — the worst case for bucket balance."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 13).cast("long").alias("score"),
        ((F.col("id") * 2654435761) % 1000003).cast("long").alias("hashed"),
    )


def test_global_row_number_matches_window(spark):
    df = _mixed(spark)
    got, n = global_row_number(
        df,
        [F.col("score").desc(), F.col("id")],
        composite_bucket_key(-F.col("score"), F.col("id")),
        out="rk",
    )
    assert n == 997
    want = df.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("id")))
        .cast("long"),
    )
    assert sorted(map(tuple, got.select("id", "rk").collect())) == sorted(
        map(tuple, want.select("id", "rk").collect())
    )


def test_global_row_number_near_unique_key(spark):
    df = _mixed(spark)
    got, _ = global_row_number(
        df, [F.col("hashed"), F.col("id")], F.col("hashed"), out="rk"
    )
    want = df.withColumn(
        "rk",
        F.row_number().over(Window.orderBy("hashed", "id")).cast("long"),
    )
    assert sorted(map(tuple, got.select("id", "rk").collect())) == sorted(
        map(tuple, want.select("id", "rk").collect())
    )


def test_global_row_number_no_single_partition_window(spark):
    df = _mixed(spark)
    got, _ = global_row_number(
        df, [F.col("hashed"), F.col("id")], F.col("hashed"), out="rk"
    )
    assert unbounded_global_windows(got) == []
    # the within-bucket window must still be there, partitioned
    plan = got._jdf.queryExecution().sparkPlan().toString()
    assert "Window" in plan


def test_global_row_number_empty(spark):
    df = _mixed(spark).where(F.lit(False))
    got, n = global_row_number(df, [F.col("id")], F.col("id"), out="rk")
    assert n == 0 and got.count() == 0


@pytest.mark.parametrize("inclusive", [True, False])
def test_global_cumsum_matches_window(spark, inclusive):
    # unique order key (distinct-value frame shape)
    df = spark.range(500).select(
        (F.col("id") * 3 + 7).alias("v"),
        ((F.col("id") * 37) % 101 + 1).cast("long").alias("c"),
    )
    got = global_cum(
        df,
        [F.col("v")],
        F.col("v"),
        F.col("c"),
        inclusive=inclusive,
        out="cs",
    )
    end = 0 if inclusive else -1
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, end)
    want = df.withColumn("cs", F.sum("c").over(w).cast("long"))
    assert sorted(map(tuple, got.select("v", "cs").collect())) == sorted(
        map(tuple, want.select("v", "cs").collect())
    )


@pytest.mark.parametrize("inclusive", [True, False])
def test_global_cummax_matches_window(spark, inclusive):
    df = spark.range(500).select(
        (F.col("id") * 3 + 7).alias("v"),
        ((F.col("id") * 57) % 301).cast("long").alias("c"),
    )
    got = global_cum(
        df,
        [F.col("v")],
        F.col("v"),
        F.col("c"),
        agg="max",
        inclusive=inclusive,
        out="cm",
    )
    end = 0 if inclusive else -1
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, end)
    want = df.withColumn("cm", F.max("c").over(w).cast("long"))
    assert sorted(
        map(tuple, got.select("v", "cm").collect())
    ) == sorted(map(tuple, want.select("v", "cm").collect()))


def test_global_lag_matches_window(spark):
    # sparse key sequence with gaps
    df = spark.range(400).select(
        (F.col("id") * 7 % 2999).cast("long").alias("k")
    ).distinct()
    got = global_lag(df, F.col("k"), F.col("k"), out="pk")
    want = df.withColumn(
        "pk", F.lag("k").over(Window.orderBy("k")).cast("long")
    )
    assert sorted(
        map(tuple, got.select("k", "pk").collect()), key=str
    ) == sorted(map(tuple, want.select("k", "pk").collect()), key=str)


@pytest.mark.parametrize("n,k", [(40, 4), (43, 4), (7, 10), (100, 10), (9, 4)])
def test_ntile_from_rank_matches_ntile(spark, n, k):
    df = spark.range(n).select(F.col("id"))
    ranked, total = global_row_number(
        df, [F.col("id")], F.col("id"), out="rk", checkpoint=False
    )
    assert total == n
    got = ranked.select("id", ntile_from_rank(F.col("rk"), n, k).alias("t"))
    want = df.select(
        "id", F.ntile(k).over(Window.orderBy("id")).alias("t")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_detector_flags_trap_and_passes_topk(spark):
    trap = spark.range(100).withColumn(
        "rk", F.row_number().over(Window.orderBy("id"))
    )
    assert unbounded_global_windows(trap)
    topk = trap.filter(F.col("rk") <= 5)
    assert unbounded_global_windows(topk) == []
    partitioned = spark.range(100).withColumn(
        "rk", F.row_number().over(Window.partitionBy(F.col("id") % 7).orderBy("id"))
    )
    assert unbounded_global_windows(partitioned) == []


def test_global_row_numbers_multi_matches_windows(spark):
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        global_row_numbers,
    )

    df = _mixed(spark)
    got, n = global_row_numbers(
        df,
        [
            (
                [F.col("score").desc(), F.col("id")],
                composite_bucket_key(-F.col("score"), F.col("id")),
                "rk_a",
            ),
            (
                [F.col("hashed"), F.col("id")],
                composite_bucket_key(F.col("hashed"), F.col("id")),
                "rk_b",
            ),
            ([F.col("id")], F.col("id"), "rk_c"),
        ],
    )
    assert n == 997
    want = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("id")))
        .cast("long")
        .alias("rk_a"),
        F.row_number()
        .over(Window.orderBy("hashed", "id"))
        .cast("long")
        .alias("rk_b"),
        F.row_number().over(Window.orderBy("id")).cast("long").alias("rk_c"),
    )
    cols = ["id", "rk_a", "rk_b", "rk_c"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    assert unbounded_global_windows(got) == []


# ---------------------------------------------------------------------------
# boundary-only rank segments (the cut-only sibling of the full rank)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n,k", [(40, 4), (43, 4), (7, 10), (100, 10), (1, 1)])
def test_ntile_cuts_reconstructs_ntile(n, k):
    cuts = ntile_cuts(n, k)
    assert len(cuts) == k - 1
    # tile(rank) = 1 + #{cut < rank} must equal SQL NTILE semantics
    q, r = divmod(n, k)
    want, rank = [], 0
    for t in range(1, k + 1):
        size = q + 1 if t <= r else q
        want.extend([t] * size)
    got = [1 + sum(1 for c in cuts if rank > c) for rank in range(1, n + 1)]
    assert got == want


def test_global_rank_segments_median_matches_rank_filter(spark):
    df = _mixed(spark)
    seg, n = global_rank_segments(
        df,
        F.col("score"),
        F.col("id"),
        lambda n: [n // 2],
        descending=True,
        out="seg",
    )
    assert n == 997
    got = {
        r["id"] for r in seg.where(F.col("seg") == 0).select("id").collect()
    }
    want_df = df.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("score").desc(), "id")),
    ).where(F.col("rk") <= 997 // 2)
    want = {r["id"] for r in want_df.select("id").collect()}
    assert got == want


def test_global_rank_segments_ascending_matches_rank_filter(spark):
    df = _mixed(spark)
    seg, n = global_rank_segments(
        df,
        F.col("hashed"),
        F.col("id"),
        lambda n: [n // 3],
        out="seg",
    )
    got = {
        r["id"] for r in seg.where(F.col("seg") == 0).select("id").collect()
    }
    want_df = df.withColumn(
        "rk", F.row_number().over(Window.orderBy("hashed", "id"))
    ).where(F.col("rk") <= n // 3)
    want = {r["id"] for r in want_df.select("id").collect()}
    assert got == want


def test_global_rank_segments_multi_matches_ntile(spark):
    # the RFM shape: three metrics, one shared unique tiebreak
    df = _mixed(spark)
    cuts4 = lambda n: ntile_cuts(n, 4)  # noqa: E731
    m, n = global_rank_segments_multi(
        df,
        [
            (F.col("score"), F.col("id"), False, cuts4, "sa"),
            (F.col("hashed"), F.col("id"), False, cuts4, "sb"),
            (F.col("id"), F.col("id"), True, cuts4, "sc"),
        ],
    )
    assert n == 997
    want = df.select(
        "id",
        F.ntile(4).over(Window.orderBy("score", "id")).alias("sa"),
        F.ntile(4).over(Window.orderBy("hashed", "id")).alias("sb"),
        F.ntile(4)
        .over(Window.orderBy(F.col("id").desc(), "id"))
        .alias("sc"),
    )
    got = m.select(
        "id",
        (F.col("sa") + 1).alias("sa"),
        (F.col("sb") + 1).alias("sb"),
        (F.col("sc") + 1).alias("sc"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_global_rank_segments_no_window_no_exchange_in_output(spark):
    df = _mixed(spark)
    seg, _ = global_rank_segments(
        df, F.col("score"), F.col("id"), lambda n: [n // 2], out="seg"
    )
    plan = seg._jdf.queryExecution().executedPlan().toString()
    # the whole point: the output stage is a pure map over the
    # checkpointed frame — no window, no shuffle anywhere
    assert "Window" not in plan
    assert "Exchange" not in plan
    assert unbounded_global_windows(seg) == []


def test_global_rank_segments_edge_cuts(spark):
    df = spark.range(10).select(F.col("id"))
    seg, n = global_rank_segments(
        df,
        F.col("id"),
        F.col("id"),
        lambda n: [0, n, n + 5],
        out="seg",
    )
    rows = {r["id"]: r["seg"] for r in seg.collect()}
    # rank > 0 for every row; rank > n and rank > n+5 for none
    assert set(rows.values()) == {1}


def test_global_rank_segments_empty(spark):
    df = _mixed(spark).where(F.lit(False))
    seg, n = global_rank_segments(
        df, F.col("score"), F.col("id"), lambda n: [n // 2], out="seg"
    )
    assert n == 0 and seg.count() == 0
    assert "seg" in seg.columns


# ---------------------------------------------------------------------------
# precondition enforcement: violating calls fail LOUDLY (driver-side
# ValueError from the histogram aggregate, or a raise_error in the plan)
# ---------------------------------------------------------------------------


def test_global_cum_duplicate_order_key_raises(spark):
    # the adjacency guard rides the output expression, so the raise
    # surfaces at the consumer's first action (see _dup_guard)
    df = spark.range(20).select(
        (F.col("id") % 7).alias("v"), F.lit(1).cast("long").alias("c")
    )
    got = global_cum(df, [F.col("v")], F.col("v"), F.col("c"), out="cs")
    with pytest.raises(Exception, match="duplicate order key"):
        got.collect()


def test_global_lag_duplicate_key_raises(spark):
    df = spark.range(20).select((F.col("id") % 5).cast("long").alias("k"))
    got = global_lag(df, F.col("k"), F.col("k"), out="pk")
    with pytest.raises(Exception, match="duplicate order key"):
        got.collect()


def test_global_row_number_null_key_raises(spark):
    df = spark.range(20).select(
        F.when(F.col("id") == 7, None).otherwise(F.col("id")).alias("k")
    )
    with pytest.raises(ValueError, match="NULL or NaN"):
        global_row_number(df, [F.col("k")], F.col("k"), out="rk")


def test_global_row_number_nan_key_raises(spark):
    df = spark.range(20).select(
        F.when(
            F.col("id") == 3, F.lit(float("nan"))
        ).otherwise(F.col("id").cast("double")).alias("k")
    )
    with pytest.raises(ValueError, match="NULL or NaN"):
        global_row_number(df, [F.col("k")], F.col("k"), out="rk")


def test_global_rank_segments_duplicate_pair_in_cut_bucket_raises(spark):
    # constant key -> one bucket (which therefore contains the cut
    # rank), duplicated (key, tiebreak) pairs inside it -> the
    # boundary job's adjacency check raises at CALL time
    df = spark.range(20).select(
        F.lit(1).cast("long").alias("k"), (F.col("id") % 3).alias("t")
    )
    with pytest.raises(ValueError, match="duplicate \\(key, tiebreak\\)"):
        global_rank_segments(
            df, F.col("k"), F.col("t"), lambda n: [n // 2], out="seg"
        )


def test_global_rank_segments_null_tiebreak_raises(spark):
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 7, None).otherwise(F.col("id")).alias("t"),
    )
    with pytest.raises(ValueError, match="NULL tiebreak"):
        global_rank_segments(
            df, F.col("k"), F.col("t"), lambda n: [n // 2], out="seg"
        )


def test_composite_bucket_key_out_of_range_tiebreak_raises(spark):
    from pyspark.errors import PySparkException

    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") - 10).alias("t")
    )
    bad = df.select(composite_bucket_key(F.col("k"), F.col("t")).alias("b"))
    with pytest.raises(PySparkException, match="composite_bucket_key"):
        bad.collect()


def test_checkpoint_ring_bounded(spark):
    """The ordinal helpers' localCheckpoints ride a bounded eviction
    ring — repeated invocations must not accumulate storage blocks
    past _CKPT_RING_MAX (the spatial._PERSIST_RING concern)."""
    from udacity_data_engineer_capstone_spark.operators import ordinal as o

    start = len(o._CKPT_RING)
    for i in range(6):
        df = spark.range(50 + i).select(F.col("id"))
        got, _ = global_row_number(df, [F.col("id")], F.col("id"), out="rk")
        got.count()
    assert len(o._CKPT_RING) <= o._CKPT_RING_MAX
    assert len(o._CKPT_RING) >= min(start + 2, o._CKPT_RING_MAX)
    # eviction hook drains the ring without failing
    o.evict_checkpoints()
    assert len(o._CKPT_RING) == 0


# --- round-10 additions: eqNullSafe guards, SortOrder validation,
# --- dense-key lag, byte-bounded checkpoint ring ---------------------


def test_global_cum_duplicate_with_null_field_raises(spark):
    """Round-10 ADVICE fix: duplicate (key, NULL) order pairs must NOT
    escape the adjacency guard — struct equality under == is
    three-valued NULL when a field is NULL; the guard uses eqNullSafe."""
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 0), (3, 1)], "k long, t long"
    )
    out = global_cum(
        df, [F.col("k"), F.col("t")], F.col("k"), F.lit(1), out="c"
    )
    with pytest.raises(PySparkException, match="duplicate order key"):
        out.collect()


def test_global_cum_sort_ordered_order_by_raises(spark):
    """A sort-ordered Column in order_by must fail with a ValueError
    naming the contract, not a struct analysis error."""
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="order_by\\[0\\] is a sort-ordered"):
        global_cum(df, [F.col("k").desc()], F.col("k"), F.lit(1), out="c")


def test_global_lag_dense_matches_global_lag(spark):
    """Arithmetic-bucket dense lag == histogram-bucket global lag ==
    the single-partition window, on a sparse gappy key set."""
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        global_lag_dense,
    )

    # gappy, non-uniform keys: runs of contiguity plus large jumps
    keys = sorted(
        {i * 7 for i in range(200)}
        | {10_000 + i for i in range(300)}
        | {50_000 + i * 3 for i in range(100)}
    )
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    dense = {
        r["k"]: r["prev"]
        for r in global_lag_dense(df, F.col("k"), out="prev").collect()
    }
    hist = {
        r["k"]: r["prev"]
        for r in global_lag(df, F.col("k"), F.col("k"), out="prev").collect()
    }
    w = Window.orderBy("k")
    ref = {
        r["k"]: r["prev"]
        for r in df.withColumn("prev", F.lag("k").over(w)).collect()
    }
    assert dense == ref
    assert hist == ref


def test_global_lag_dense_duplicate_key_raises(spark):
    from pyspark.errors import PySparkException

    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        global_lag_dense,
    )

    df = spark.createDataFrame([(1,), (2,), (2,), (5,)], "k long")
    with pytest.raises(PySparkException, match="duplicate order key"):
        global_lag_dense(df, F.col("k"), out="prev").collect()


def test_global_lag_dense_null_key_raises(spark):
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        global_lag_dense,
    )

    df = spark.createDataFrame([(1,), (None,), (5,)], "k long")
    with pytest.raises(ValueError, match="NULL key"):
        global_lag_dense(df, F.col("k"), out="prev")


def test_global_lag_dense_empty_and_singleton(spark):
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        global_lag_dense,
    )

    empty = spark.createDataFrame([], "k long")
    assert global_lag_dense(empty, F.col("k"), out="prev").count() == 0
    one = spark.createDataFrame([(42,)], "k long")
    rows = global_lag_dense(one, F.col("k"), out="prev").collect()
    assert rows[0]["prev"] is None


def test_global_lag_dense_no_unbounded_window(spark):
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        global_lag_dense,
    )

    df = spark.range(500).select(F.col("id").alias("k"))
    out = global_lag_dense(df, F.col("k"), out="prev")
    assert unbounded_global_windows(out) == []


def test_checkpoint_ring_byte_bounded(spark, monkeypatch):
    """Round-9 directive 4: the ring must bound BYTES, not just handle
    count — 10 ordinal queries back-to-back with a tiny byte budget
    must keep ring-tracked executor storage at (approximately) the
    newest-KEEP floor, never accumulate all 20 checkpoints' blocks."""
    from udacity_data_engineer_capstone_spark.operators import ordinal as o

    o.evict_checkpoints()
    monkeypatch.setattr(o, "_CKPT_RING_MAX_BYTES", 1)  # evict everything evictable
    try:
        for i in range(10):
            df = spark.range(2000 + i).select(
                F.col("id"), (F.col("id") % 7).alias("s")
            )
            got, _ = global_row_number(
                df, [F.col("s"), F.col("id")], F.col("s"), out="rk"
            )
            got.count()
            # byte eviction trims every MATERIALIZED block beyond the
            # newest-KEEP floor on the next checkpoint call
            assert len(o._CKPT_RING) <= o._CKPT_RING_KEEP + 2, (
                f"ring grew to {len(o._CKPT_RING)} under a 1-byte budget"
            )
        # the ring's materialized residue is at most the KEEP floor's
        # frames (the current query's own checkpoints)
        floor_bytes = o.ring_storage_bytes(spark)
        monkeypatch.undo()
        for i in range(3):
            df = spark.range(5000).select(F.col("id"))
            got, _ = global_row_number(
                df, [F.col("id")], F.col("id"), out="rk"
            )
            got.count()
        # default budget (8 GiB) never triggers here; count bound holds
        assert len(o._CKPT_RING) <= o._CKPT_RING_MAX
        assert floor_bytes < 64 << 20  # KEEP floor stays far under 64 MB
    finally:
        o.evict_checkpoints()


def test_hist_accuracy_derivation():
    """The percentile_approx accuracy derives from the bucket count
    (round-10: the last frozen ordinal constant): floor 2048, 4x the
    bucket count above it — boundary error <= 1/4 bucket everywhere."""
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        _MAX_BUCKETS,
        _MIN_BUCKETS,
        _hist_accuracy,
    )

    assert _hist_accuracy(_MIN_BUCKETS) == 2048      # floor
    assert _hist_accuracy(512) == 2048               # exactly at floor
    assert _hist_accuracy(513) == 2052               # 4x takes over
    assert _hist_accuracy(_MAX_BUCKETS) == 4096      # cap: 4x1024
    for nb in (_MIN_BUCKETS, 128, 300, 512, 777, _MAX_BUCKETS):
        assert _hist_accuracy(nb) >= 4 * nb  # error <= 1/4 bucket width


def test_global_lag_dense_property_random_keys(spark):
    """Hypothesis-style randomized truth check (seeded random, many
    shapes): dense lag == single-partition window lag for arbitrary
    unique integer key sets — sparse, clustered, negative, singleton
    runs."""
    import random

    rng = random.Random(20261015)
    from udacity_data_engineer_capstone_spark.operators.ordinal import (
        global_lag_dense,
    )

    for trial in range(8):
        n = rng.randint(1, 400)
        lo = rng.randint(-100_000, 100_000)
        keys = set()
        cursor = lo
        while len(keys) < n:
            cursor += rng.choice([1, 1, 1, 2, 3, rng.randint(4, 5000)])
            keys.add(cursor)
        df = spark.createDataFrame([(k,) for k in sorted(keys)], "k long")
        got = {
            r["k"]: r["prev"]
            for r in global_lag_dense(df, F.col("k"), out="prev").collect()
        }
        ref = {
            r["k"]: r["prev"]
            for r in df.withColumn(
                "prev", F.lag("k").over(Window.orderBy("k"))
            ).collect()
        }
        assert got == ref, f"trial {trial}: n={n} lo={lo}"
