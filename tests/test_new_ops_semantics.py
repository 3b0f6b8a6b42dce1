"""Hand-computed semantic checks for the seventh/eighth-wave operators.

Oracle parity (test_oracle_parity) proves Spark ≡ DuckDB on the shared
SQL; these pin the *intended semantics* on tiny crafted fixtures, so an
equivalent bug written into both engine and oracle text cannot hide.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

import udacity_data_engineer_capstone_spark as engine

engine.load_all()

_TS0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _mins(m):
    return _TS0 + dt.timedelta(minutes=m)


_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def crafted_dir(spark, tmp_path_factory):
    """A tiny sf-dir with hand-written events + embeddings parquet."""
    out = str(tmp_path_factory.mktemp("crafted"))
    events = [
        # user 1: click @0, purchase @5, click @7  -> nearest is +2min fwd
        Row(event_id=1, ts=_mins(0), user_id=1, event_type="click",
            value=1.0, props="{}"),
        Row(event_id=2, ts=_mins(5), user_id=1, event_type="purchase",
            value=2.0, props="{}"),
        Row(event_id=3, ts=_mins(7), user_id=1, event_type="click",
            value=3.0, props="{}"),
        # user 2: click @0, purchase @4, click @8 -> tie, prefer backward
        Row(event_id=4, ts=_mins(0), user_id=2, event_type="click",
            value=1.0, props="{}"),
        Row(event_id=5, ts=_mins(4), user_id=2, event_type="purchase",
            value=2.0, props="{}"),
        Row(event_id=6, ts=_mins(8), user_id=2, event_type="click",
            value=3.0, props="{}"),
        # user 3: purchase with no clicks at all -> NULLs
        Row(event_id=7, ts=_mins(1), user_id=3, event_type="purchase",
            value=2.0, props="{}"),
    ]
    spark.createDataFrame(events, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.99, 0.01, 0.0, 0.0]   # near-duplicate of e1 direction
    e3 = [0.0, 1.0, 0.0, 0.0]     # orthogonal
    vecs = [
        Row(vec_id=10, embedding=e1, label=0),
        Row(vec_id=11, embedding=e2, label=0),
        Row(vec_id=12, embedding=e3, label=0),
    ]
    spark.createDataFrame(vecs, emb_schema).coalesce(1).write.parquet(
        os.path.join(out, "embeddings.parquet")
    )
    return out


def test_asof_nearest_directions(spark, crafted_dir):
    rows = {
        r.purchase_id: r
        for r in engine.QUERIES["join_asof_nearest"].fn(spark, crafted_dir).collect()
    }
    assert set(rows) == {2, 5, 7}
    # user 1: forward click at +2min beats backward at -5min
    assert rows[2].direction == "f"
    assert rows[2].nearest_click_ts == _mins(7)
    assert rows[2].gap_us == 2 * 60 * 1_000_000
    # user 2: 4min both ways -> tie goes backward
    assert rows[5].direction == "b"
    assert rows[5].nearest_click_ts == _mins(0)
    assert rows[5].gap_us == 4 * 60 * 1_000_000
    # user 3: no clicks
    assert rows[7].direction is None
    assert rows[7].nearest_click_ts is None and rows[7].gap_us is None


def test_semdedup_collapses_near_duplicates(spark, crafted_dir):
    # centroid of {e1, e2, e3} points mostly along (x+y); e1/e2 sit
    # ~45 deg away (cos ~ 0.72 > 0.3 gate) as does e3 -> all 'near',
    # exactly one representative (min vec_id 10) kept.
    rows = {
        r.vec_id: r
        for r in engine.QUERIES["curate_semdedup"].fn(spark, crafted_dir).collect()
    }
    assert set(rows) == {10, 11, 12}
    near = {v for v, r in rows.items() if r.near}
    kept = {v for v, r in rows.items() if r.keep}
    assert near == {10, 11, 12}
    assert kept == {10}


def test_theil_sen_exact_slope_on_linear_series(spark, crafted_dir, tmp_path):
    # user events across distinct hours with linearly increasing value:
    # build a dedicated dir — value = 100 + 60*k cents at hour k.
    out = str(tmp_path)
    events = [
        Row(event_id=k, ts=_TS0 + dt.timedelta(hours=k), user_id=1,
            event_type="lin", value=1.0 + 0.6 * k, props="{}")
        for k in range(6)
    ]
    spark.createDataFrame(events, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )
    [r] = engine.QUERIES["ts_theil_sen"].fn(spark, out).collect()
    assert r.event_type == "lin"
    assert r.n_pairs == 15
    # exact slope 60 cents/hour -> 60_000_000 microcents/hour
    assert r.slope_microcents_per_hour == 60_000_000


def test_rolling_median_rejects_single_spike(spark, crafted_dir, tmp_path):
    out = str(tmp_path)
    vals = [1.0, 1.0, 1.0, 99.0, 1.0, 1.0, 1.0]
    events = [
        Row(event_id=k, ts=_TS0 + dt.timedelta(hours=k), user_id=1,
            event_type="spiky", value=vals[k], props="{}")
        for k in range(7)
    ]
    spark.createDataFrame(events, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )
    rows = engine.QUERIES["ts_rolling_median"].fn(spark, out).collect()
    # the spike hour's own rolling median must be the background level
    by_bucket = sorted(rows, key=lambda r: r.bucket)
    assert by_bucket[3].sum_cents == 9900
    assert all(r.rolling_median_cents == 100 for r in rows)


# ---------------------------------------------------------------------------
# rec_market_basket / rec_copurchase_jaccard — hand-computed rules
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def basket_dir(spark, tmp_path_factory):
    """Crafted baskets: {10,20}, {10,20,30}, {10,30}, {40} (singleton,
    excluded), {10,20} with a duplicated line (dedup check)."""
    out = str(tmp_path_factory.mktemp("basket"))
    rows = [
        Row(l_orderkey=1, l_partkey=10), Row(l_orderkey=1, l_partkey=20),
        Row(l_orderkey=2, l_partkey=10), Row(l_orderkey=2, l_partkey=20),
        Row(l_orderkey=2, l_partkey=30),
        Row(l_orderkey=3, l_partkey=10), Row(l_orderkey=3, l_partkey=30),
        Row(l_orderkey=4, l_partkey=40),
        Row(l_orderkey=5, l_partkey=10), Row(l_orderkey=5, l_partkey=20),
        Row(l_orderkey=5, l_partkey=10),  # duplicate line, must dedup
    ]
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        os.path.join(out, "lineitem.parquet")
    )
    return out


def test_market_basket_hand_computed(spark, basket_dir):
    """4 kept baskets; item counts 10→4, 20→3, 30→2; pair (10,20)
    appears 3×, both lifts exactly 1.000 (independence on this
    fixture), singleton basket and duplicate lines excluded."""
    rows = engine.QUERIES["rec_market_basket"].fn(spark, basket_dir).collect()
    by_pair = {(r.item_a, r.item_b): r for r in rows}
    assert set(by_pair) == {(10, 20), (10, 30), (20, 30)}
    top = by_pair[(10, 20)]
    assert (top.pair_cnt, top.cnt_a, top.cnt_b) == (3, 4, 3)
    assert top.support_ppm == 750000
    assert top.confidence_a_to_b_ppm == 750000
    assert top.lift_milli == 1000
    mid = by_pair[(10, 30)]
    assert (mid.pair_cnt, mid.support_ppm, mid.lift_milli) == (2, 500000, 1000)
    assert by_pair[(20, 30)].pair_cnt == 1
    # singleton basket's item never appears
    assert all(r.item_a != 40 and r.item_b != 40 for r in rows)


def test_copurchase_jaccard_hand_computed(spark, basket_dir):
    """Jaccard from inclusion-exclusion: (10,20) → 3/(4+3-3) = 0.750;
    (10,30) → 2/(4+2-2) = 0.500; the count-1 pair is below the noise
    floor and dropped."""
    rows = (
        engine.QUERIES["rec_copurchase_jaccard"].fn(spark, basket_dir).collect()
    )
    got = {(r.item_a, r.item_b): (r.union_cnt, r.jaccard_milli) for r in rows}
    assert got == {(10, 20): (4, 750), (10, 30): (4, 500)}


def test_anova_oneway_hand_computed(spark, crafted_dir):
    """On the crafted events: clicks have cents {100,300,100,300} and
    purchases {200,200,200}; group means 200 == grand mean 200, so
    SSB = 0, SSW = SST = 40000 cents², F = 0, eta² = 0."""
    row = engine.QUERIES["stat_anova_oneway"].fn(spark, crafted_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert (r.k_groups, r.n_tot) == (2, 7)
    assert r.ssb_cents2 == 0
    assert r.ssw_cents2 == 40000
    assert r.f_milli == 0
    assert r.eta2_micro == 0


def test_incremental_agg_merges_split_day(spark):
    """The split-day groups must carry n_partials == 2 (snapshot +
    delta both contributed); all other days exactly 1."""
    from tests.conftest import SF_DIR_MED

    rows = engine.QUERIES["cdc_incremental_agg"].fn(spark, SF_DIR_MED).collect()
    import datetime as _dt

    split_day = _dt.date(2024, 1, 20)
    split = [r for r in rows if r.day == split_day]
    assert split and all(r.n_partials == 2 for r in split)
    assert all(r.n_partials == 1 for r in rows if r.day != split_day)


def test_file_pruning_one_file_per_bucket(spark):
    """The relayout invariant: every key-range bucket maps to exactly
    one physical file, and buckets wholly outside [2000, 4000] are
    flagged prunable."""
    from tests.conftest import SF_DIR_MED

    rows = (
        engine.QUERIES["src_file_pruning_stats"].fn(spark, SF_DIR_MED).collect()
    )
    assert rows and all(r.n_files == 1 for r in rows)
    for r in rows:
        expect = r.max_key < 2000 or r.min_key > 4000
        assert r.prunable_for_key_range == expect


# ---------------------------------------------------------------------------
# ts_bollinger_bands / ts_cross_correlation — planted-signal fixtures
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def signal_dir(spark, tmp_path_factory):
    """25 hourly 'click' events at $1.00 with one $100.00 spike at hour
    20 (Bollinger fixture), plus a 'view' series whose counts at hour h
    equal the 'purchase' counts at hour h+1 exactly (cross-correlation
    fixture: purchase lags view by 1 hour with r = 1)."""
    out = str(tmp_path_factory.mktemp("signal"))
    rows = []
    eid = 0
    for h in range(25):
        eid += 1
        rows.append(
            Row(event_id=eid, ts=_TS0 + dt.timedelta(hours=h), user_id=1,
                event_type="click",
                value=100.0 if h == 20 else 1.0, props="{}")
        )
    # view counts follow a non-monotonic pattern (a linear ramp would
    # correlate perfectly at EVERY lag); purchase count at h+1 copies
    # the view count at h exactly, so only lag +1 reaches r = 1
    counts = [1, 5, 2, 8, 3, 9, 4, 7, 6, 10]
    for h in range(10):
        for i in range(counts[h]):
            eid += 1
            rows.append(
                Row(event_id=eid, ts=_TS0 + dt.timedelta(hours=h, minutes=i),
                    user_id=2, event_type="view", value=1.0, props="{}")
            )
            eid += 1
            rows.append(
                Row(event_id=eid,
                    ts=_TS0 + dt.timedelta(hours=h + 1, minutes=i),
                    user_id=3, event_type="purchase", value=1.0, props="{}")
            )
    spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def test_bollinger_flags_only_the_spike(spark, signal_dir):
    rows = [
        r
        for r in engine.QUERIES["ts_bollinger_bands"].fn(spark, signal_dir)
        .collect()
        if r.event_type == "click"
    ]
    assert len(rows) == 25
    flagged = [r for r in rows if r.breakout_hi]
    assert len(flagged) == 1 and flagged[0].cents == 10000
    assert not any(r.breakout_lo for r in rows)


def test_cross_correlation_finds_the_lag(spark, signal_dir):
    rows = engine.QUERIES["ts_cross_correlation"].fn(spark, signal_dir).collect()
    by_lag = {r.lag: r for r in rows}
    # at lag +1 the two series align exactly: r = 1 -> 1_000_000 micro
    # (9 aligned pairs; hour-10 purchases pair with no view hour)
    assert by_lag[1].pearson_micro == 1000000
    # every other lag is strictly less correlated
    assert all(
        r.pearson_micro < 1000000 for lag, r in by_lag.items() if lag != 1
    )


@pytest.fixture(scope="module")
def funnel_dir(spark, tmp_path_factory):
    """Three crafted journeys: A 'vcp' (converts), B 'pvc' (view never
    followed by purchase), C 'vpp' (immediate conversion) — plus a
    same-timestamp pair on A ordered by event_id."""
    out = str(tmp_path_factory.mktemp("funnel"))
    mk = lambda eid, mins, uid, et: Row(
        event_id=eid, ts=_mins(mins), user_id=uid, event_type=et,
        value=1.0, props="{}")
    rows = [
        mk(1, 0, 1, "view"), mk(2, 1, 1, "click"), mk(3, 1, 1, "purchase"),
        mk(4, 0, 2, "purchase"), mk(5, 1, 2, "view"), mk(6, 2, 2, "click"),
        mk(7, 0, 3, "view"), mk(8, 1, 3, "purchase"), mk(9, 2, 3, "purchase"),
    ]
    spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def test_path_regex_hand_computed(spark, funnel_dir):
    rows = engine.QUERIES["evt_path_regex_match"].fn(spark, funnel_dir).collect()
    got = {r.user_id: (r.path_len, r.converted) for r in rows}
    # user 1: same-ts click(id 2) before purchase(id 3) -> 'vcp' matches
    assert got == {1: (3, True), 2: (3, False), 3: (3, True)}


def test_haar_energy_impulse_is_scale_flat(spark, signal_dir):
    """A single spike is an impulse: its Haar detail energy is the same
    at every level (flat spectrum). Background-only blocks cancel to
    zero; the 25th hour forms a half-empty block contributing 100²."""
    rows = [
        r
        for r in engine.QUERIES["ts_haar_energy"].fn(spark, signal_dir).collect()
        if r.event_type == "click"
    ]
    by_level = {r.level: r.energy_cents2 for r in rows}
    assert by_level == {1: 98_020_000, 2: 98_020_000, 3: 98_020_000}


def test_kappa_and_capture_plausible_at_sf001(spark):
    """Anchor the formulas: with independent 1/8 label flips kappa must
    land well between chance (0) and perfect (1); the two ~31% hash
    samples must estimate corpus size within 30%."""
    from tests.conftest import SF_DIR_MED

    [k] = engine.QUERIES["stat_cohen_kappa"].fn(spark, SF_DIR_MED).collect()
    assert k.observed_agree_ppm > 600_000
    assert 300 < k.kappa_milli < 900
    [c] = (
        engine.QUERIES["stat_capture_recapture"].fn(spark, SF_DIR_MED).collect()
    )
    assert c.m_overlap > 0 and c.abs_err_ppm < 300_000


def test_length_sorted_batching_never_wastes_more(spark):
    """The whole point of length bucketing: sorted batches can only cut
    padding. On the sf0.01 corpus the improvement must be strict."""
    from tests.conftest import SF_DIR_MED

    rows = {
        r.strategy: r
        for r in engine.QUERIES["curate_padding_waste"].fn(spark, SF_DIR_MED)
        .collect()
    }
    assert rows["length_sorted"].padding_tokens < (
        rows["arrival_order"].padding_tokens
    )
    assert (
        rows["length_sorted"].content_tokens
        == rows["arrival_order"].content_tokens
    )


def test_kaplan_meier_hand_computed(spark, tmp_path):
    """4 users, horizon 7d, high-water day 20: durations {0:churn,
    2:churn+censor, 16:censor}; n-at-risk 4/3/1; S = 3/4 then 1/2,
    flat through the censored tail."""
    out = str(tmp_path)
    day = lambda d: _TS0 + dt.timedelta(days=d)
    mk = lambda eid, d, uid: Row(event_id=eid, ts=day(d), user_id=uid,
                                 event_type="view", value=1.0, props="{}")
    rows = [
        mk(1, 0, 1), mk(2, 2, 1),          # u1: duration 2, churned
        mk(3, 0, 2),                        # u2: duration 0, churned
        mk(4, 0, 3), mk(5, 16, 3),          # u3: duration 16, censored
        mk(6, 18, 4), mk(7, 20, 4),         # u4: duration 2, censored (hw)
    ]
    spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )
    got = {
        r.duration_days: r
        for r in engine.QUERIES["evt_survival_km"].fn(spark, out).collect()
    }
    assert set(got) == {0, 2, 16}
    assert (got[0].n_at_risk, got[0].churned, got[0].censored) == (4, 1, 0)
    assert got[0].survival_ppm == 749999  # floor-quantized ln dust
    assert (got[2].n_at_risk, got[2].churned, got[2].censored) == (3, 1, 1)
    assert got[2].survival_ppm == 499999  # floor(0.5·1e6 − quantize dust)
    assert (got[16].n_at_risk, got[16].churned) == (1, 0)
    assert got[16].survival_ppm == got[2].survival_ppm


def test_skyline_dominance_hand_computed(spark, tmp_path):
    """Frontier = {(5,1), (10,5), (20,8)}: equal-size-but-pricier and
    equal-price-but-smaller parts are dominated."""
    out = str(tmp_path)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    rows = [
        Row(p_partkey=1, p_size=5, p_retailprice=10.0),
        Row(p_partkey=2, p_size=3, p_retailprice=10.0),   # dominated (price tie)
        Row(p_partkey=3, p_size=5, p_retailprice=20.0),   # dominated by 1
        Row(p_partkey=4, p_size=8, p_retailprice=20.0),   # frontier
        Row(p_partkey=5, p_size=8, p_retailprice=30.0),   # dominated by 4
        Row(p_partkey=6, p_size=1, p_retailprice=5.0),    # frontier (cheapest)
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        os.path.join(out, "part.parquet")
    )
    got = sorted(
        (r.p_partkey, r.size)
        for r in engine.QUERIES["agg_skyline_pareto"].fn(spark, out).collect()
    )
    assert got == [(1, 5), (4, 8), (6, 1)]


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _meta_docs_dir(spark, out, lengths_by_source):
    out = str(out)
    rows, did = [], 0
    for src, lengths in lengths_by_source.items():
        for n in lengths:
            did += 1
            rows.append(
                Row(doc_id=did, text="x", lang="en", source=src, n_chars=n)
            )
    spark.createDataFrame(rows, _DOCS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def test_meta_analysis_heterogeneity_gate_hand_computed(spark, tmp_path):
    """Hand-derived Cochran's Q for 3 sources, each n=5 with
    within-source SS=8 (var_d = 0.4, w_micro = 2_500_000 exactly).

    Divergent means (100/120/80, grand 100) give d_milli 0/+20000/
    -20000, pooled 0, so q_milli = 2·floor(2.5e6·2e7²/1e9)/... =
    2_000_000 (Q = 2000 ≫ df + 2σ = 6 in milli: 6000) → the
    heterogeneous flag MUST fire. This is exactly the case the
    pre-r5 1000×-inflated sigma gate (threshold 4_002_000) missed,
    and oracle parity could never catch it (shared SQL)."""
    het = _meta_docs_dir(
        spark,
        tmp_path / "het",
        {
            "a": [100, 102, 98, 100, 100],
            "b": [120, 122, 118, 120, 120],
            "c": [80, 82, 78, 80, 80],
        },
    )
    row = engine.QUERIES["stat_meta_analysis"].fn(spark, het).collect()[0]
    assert row.n_sources == 3
    assert row.pooled_effect_microchars == 0
    assert row.cochran_q_milli == 2_000_000
    assert row.heterogeneous is True
    # and just inside the gate: same spread shrunk to ±1 char gives
    # q_milli = 5000 < 6000 = df·1000 + 2·floor(sqrt(2·df)·1000)
    hom = _meta_docs_dir(
        spark,
        tmp_path / "hom",
        {
            "a": [100, 102, 98, 100, 100],
            "b": [101, 103, 99, 101, 101],
            "c": [99, 101, 97, 99, 99],
        },
    )
    row = engine.QUERIES["stat_meta_analysis"].fn(spark, hom).collect()[0]
    assert row.cochran_q_milli == 5000
    assert row.heterogeneous is False


def test_chunk_overlap_windows_hand_computed(spark, tmp_path):
    """50 tokens, size 30 / stride 20 -> chunks at 0 (30 toks), 20 (30
    toks), 40 (10-token tail); consecutive chunks share exactly 10
    tokens."""
    out = str(tmp_path)
    words = [f"w{i:02d}" for i in range(50)]
    rows = [Row(doc_id=1, text=" ".join(words), lang="en", source="a",
                n_chars=len(" ".join(words)))]
    spark.createDataFrame(rows, _DOCS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "documents.parquet")
    )
    import hashlib

    got = {
        r.chunk_idx: r
        for r in engine.QUERIES["text_chunk_overlap"].fn(spark, out).collect()
    }
    assert set(got) == {0, 1, 2}
    assert (got[0].start_tok, got[0].n_toks) == (0, 30)
    assert (got[1].start_tok, got[1].n_toks) == (20, 30)
    assert (got[2].start_tok, got[2].n_toks) == (40, 10)
    exp = lambda lo, hi: hashlib.md5(" ".join(words[lo:hi]).encode()).hexdigest()
    assert got[0].chunk_md5 == exp(0, 30)
    assert got[1].chunk_md5 == exp(20, 50)  # shares w20..w29 with chunk 0
    assert got[2].chunk_md5 == exp(40, 50)  # shares w40..w49 with chunk 1


def test_mmr_rerank_matches_numpy_greedy_and_diversifies(spark, tmp_path):
    """Replicate the exact integer MMR greedy in numpy over a crafted
    candidate set containing an exact duplicate pair, assert the engine
    emits the same 5-pick trace, and that the duplicate of an
    already-picked vector is NOT selected (diversity engages)."""
    import math

    import numpy as np

    out = str(tmp_path)
    rng = np.random.default_rng(5)
    vecs = {0: np.array([1.0, 0, 0, 0, 0, 0, 0, 0])}  # the query
    for i in range(1, 9):
        v = rng.normal(size=8)
        v[0] = abs(v[0]) + 1.0  # keep everything on the query's side
        vecs[i] = v / np.linalg.norm(v)
    vecs[9] = vecs[1].copy()  # exact duplicate of candidate 1
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v], label=0)
        for i, v in vecs.items()
    ]
    spark.createDataFrame(rows, emb_schema).coalesce(1).write.parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # numpy replica of the integer greedy (float32 roundtrip like parquet)
    f32 = {i: np.array(v, dtype=np.float32).astype(np.float64)
           for i, v in vecs.items()}
    cos = lambda a, b: float(
        np.dot(f32[a], f32[b])
        / (math.sqrt(float(np.dot(f32[a], f32[a])))
           * math.sqrt(float(np.dot(f32[b], f32[b]))))
    )
    rel = {i: math.floor(cos(0, i) * 1_000_000) for i in f32 if i != 0}
    sim = {
        (a, b): math.floor(cos(a, b) * 1_000_000)
        for a in rel for b in rel if a != b
    }
    # tie-break: higher rel first, then smaller vec_id
    picked = [sorted(rel, key=lambda i: (-rel[i], i))[0]]
    while len(picked) < 5:
        rest = [i for i in rel if i not in picked]
        obj = {
            i: 7 * rel[i] - 3 * max(sim[(i, p)] for p in picked)
            for i in rest
        }
        picked.append(sorted(rest, key=lambda i: (-obj[i], i))[0])

    got = sorted(
        engine.QUERIES["sim_mmr_rerank"].fn(spark, out).collect(),
        key=lambda r: r.pick_rank,
    )
    assert [r.vec_id for r in got] == picked
    # the exact duplicate pair (1, 9): once one is picked, the other is
    # never picked (its diversity penalty is maximal)
    assert not ({1, 9} <= set(picked))


def test_dp_release_noise_is_two_sided(spark, tmp_path):
    """40 cells all holding exactly 7 documents: released counts must
    scatter BOTH below and above the true count (the r5 first-draft
    expression collapsed to always-positive noise — a shared-SQL bug
    oracle parity cannot see), and the mean absolute perturbation must
    be Laplace(1)-sized, not zero and not huge."""
    out = str(tmp_path)
    rows = []
    did = 0
    for s in range(8):
        for lg in ("en", "de", "fr", "es", "zh"):
            for _ in range(7):
                did += 1
                rows.append(
                    Row(doc_id=did, text="x", lang=lg, source=f"s{s}",
                        n_chars=1)
                )
    spark.createDataFrame(rows, _DOCS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "documents.parquet")
    )
    got = engine.QUERIES["curate_dp_count_release"].fn(spark, out).collect()
    assert len(got) == 40
    released = [r.released_n for r in got]
    assert any(v < 7 for v in released), "no downward noise — one-sided bug"
    assert any(v > 7 for v in released), "no upward noise — one-sided bug"
    mean_abs = sum(abs(v - 7) for v in released) / len(released)
    assert 0.2 < mean_abs < 4.0  # E|Laplace(1)| = 1, rounded/clamped


def test_wilcoxon_hand_computed(spark, tmp_path):
    """7 users with hand-set per-day counts. Day-1 holds 16 of 30
    events, so percentile_disc(0.5) lands on day 1 and the split is
    day1 vs day2. Diffs (n2−n1): +1, +2, −3, +2, 0(drops), −1, −3 →
    |d| avg-rank ×2: |1|→3 (ranks 1,2), |2|→7 (ranks 3,4), |3|→11
    (ranks 5,6). W+×2 = 3+7+7 = 17, W−×2 = 3+11+11 = 25, n = 6
    (checks: 17+25 = n(n+1) = 42)."""
    out = str(tmp_path)
    d1 = dt.datetime(2024, 1, 1, 12, 0, 0)
    d2 = dt.datetime(2024, 1, 2, 12, 0, 0)
    counts = {  # user: (day1 events, day2 events)
        1: (1, 2),   # +1
        2: (1, 3),   # +2
        3: (4, 1),   # -3
        4: (2, 4),   # +2
        5: (3, 3),   # 0 -> drops
        6: (2, 1),   # -1
        7: (3, 0),   # -3 (also tips the median day onto day 1)
    }
    rows, eid = [], 0
    for u, (a, b) in counts.items():
        for _ in range(a):
            eid += 1
            rows.append(Row(event_id=eid, ts=d1, user_id=u,
                            event_type="view", value=1.0, props="{}"))
        for _ in range(b):
            eid += 1
            rows.append(Row(event_id=eid, ts=d2, user_id=u,
                            event_type="view", value=1.0, props="{}"))
    spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )
    [r] = engine.QUERIES["stat_wilcoxon_signed_rank"].fn(spark, out).collect()
    assert r.n_pairs == 6
    assert r.w_plus_x2 == 17 and r.w_minus_x2 == 25


def test_brown_forsythe_flags_only_heteroscedastic(spark, tmp_path_factory):
    """Two tight groups + one wide group: the dispersion gate must fire;
    rebuilt with all groups tight, it must not."""
    def build(spread_c):
        out = str(tmp_path_factory.mktemp("bf"))
        rows, eid = [], 0
        specs = {"a": [10, 11, 12, 10, 11, 12] * 4,
                 "b": [10, 12, 11, 11, 10, 12] * 4,
                 "c": spread_c * 4}
        for et, vals in specs.items():
            for v in vals:
                eid += 1
                rows.append(Row(event_id=eid, ts=_mins(eid), user_id=1,
                                event_type=et, value=float(v), props="{}"))
        spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.parquet(
            os.path.join(out, "events.parquet")
        )
        return out

    wide = build([1, 40, 2, 38, 1, 41])
    [r] = [x for x in
           engine.QUERIES["stat_brown_forsythe"].fn(spark, wide).collect()]
    assert r.heteroscedastic is True
    tight = build([10, 12, 11, 11, 12, 10])
    [r] = engine.QUERIES["stat_brown_forsythe"].fn(spark, tight).collect()
    assert r.heteroscedastic is False


def test_overdispersion_hand_cases(spark, tmp_path_factory):
    """Flat daily counts (variance 0 ≪ mean) must NOT flag; bursty
    counts (variance ≫ mean) must flag."""
    def build(daily_counts):
        out = str(tmp_path_factory.mktemp("od"))
        rows, eid = [], 0
        for d, n in enumerate(daily_counts):
            for _ in range(n):
                eid += 1
                rows.append(Row(event_id=eid,
                                ts=_TS0 + dt.timedelta(days=d, minutes=eid % 60),
                                user_id=1, event_type="view",
                                value=1.0, props="{}"))
        spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.parquet(
            os.path.join(out, "events.parquet")
        )
        return out

    flat = build([20] * 10)
    [r] = engine.QUERIES["stat_overdispersion"].fn(spark, flat).collect()
    assert r.overdispersed is False and r.dispersion_milli == 0
    bursty = build([1, 1, 1, 1, 1, 95, 1, 1, 1, 1])
    [r] = engine.QUERIES["stat_overdispersion"].fn(spark, bursty).collect()
    assert r.overdispersed is True


def test_histogram_quantile_brackets_hand_computed(spark, tmp_path_factory):
    """100 events worth 1 cent + 1 event worth 1000 cents (bucket 10:
    512..1023): p50 bracket must be [1,1] (bucket 1), p99 still [1,1]
    (cum 100/101 ≥ 99%), and rebuilt with 5 big events p99 moves to the
    big bucket."""
    def build(n_small, n_big):
        out = str(tmp_path_factory.mktemp("hq"))
        rows = []
        for i in range(n_small):
            rows.append(Row(event_id=i + 1, ts=_mins(i), user_id=1,
                            event_type="view", value=0.01, props="{}"))
        for j in range(n_big):
            rows.append(Row(event_id=10_000 + j, ts=_mins(j), user_id=1,
                            event_type="view", value=10.0, props="{}"))
        spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.parquet(
            os.path.join(out, "events.parquet")
        )
        return out

    [r] = engine.QUERIES["agg_histogram_quantile_serve"].fn(
        spark, build(100, 1)
    ).collect()
    assert (r.p50_lo_cents, r.p50_hi_cents) == (1, 1)
    assert (r.p99_lo_cents, r.p99_hi_cents) == (1, 1)
    [r] = engine.QUERIES["agg_histogram_quantile_serve"].fn(
        spark, build(100, 5)
    ).collect()
    assert (r.p50_lo_cents, r.p50_hi_cents) == (1, 1)
    assert (r.p99_lo_cents, r.p99_hi_cents) == (512, 1023)


# ---------------------------------------------------------------------------
# dedup_bloom_incremental: no false negatives, verified positives
# ---------------------------------------------------------------------------


def test_bloom_incremental_no_false_negatives(spark, sf_dir):
    """The Bloom contract: membership can false-POSITIVE but never
    false-NEGATIVE. Every arriving doc whose exact text exists in the
    corpus MUST surface as a true_dup row; and every true_dup row's
    hash must genuinely exist in the corpus (the verify join cannot
    invent dups)."""
    from udacity_data_engineer_capstone_spark.operators.dedup import (
        corpus,
        dedup_bloom_incremental,
    )

    from udacity_data_engineer_capstone_spark.operators.dedup import (
        doc_offset,
    )

    c = corpus(spark, sf_dir)
    off = doc_offset(spark, sf_dir).collect()[0]["off"]
    hist_hashes = {
        r["h"]
        for r in c.filter(F.col("doc_id") < off)
        .select(F.md5("text").alias("h"))
        .collect()
    }
    batch = {
        r["doc_id"]: r["h"]
        for r in c.filter(F.col("doc_id") >= off)
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    }
    expected_dups = {d for d, h in batch.items() if h in hist_hashes}
    assert expected_dups, "fixture must plant cross-shard exact dups"

    out = {
        r["doc_id"]: (r["text_hash"], r["true_dup"])
        for r in dedup_bloom_incremental(spark, sf_dir).collect()
    }
    flagged_true = {d for d, (_, t) in out.items() if t}
    # no false negatives: every planted exact dup is flagged true
    assert flagged_true == expected_dups
    # verify-join soundness: a true_dup row's hash exists in history;
    # a false row's hash does not (it is a measured Bloom FP)
    for d, (h, t) in out.items():
        assert (h in hist_hashes) == t


def test_bloom_hex_width_ladder():
    """The m >= 16n rule as code: one more md5-hex digit per 16x
    corpus growth, clamped [5, 8]."""
    from udacity_data_engineer_capstone_spark.operators.dedup import (
        _bloom_hex_width,
    )

    assert _bloom_hex_width(1) == 5
    assert _bloom_hex_width(65_536) == 5  # 16^4 docs: exactly at 5-hex cap
    assert _bloom_hex_width(65_537) == 6
    assert _bloom_hex_width(600_000) == 6  # sf1-equivalent
    assert _bloom_hex_width(16**5) == 6
    assert _bloom_hex_width(16**5 + 1) == 7
    assert _bloom_hex_width(16**6) == 7
    assert _bloom_hex_width(268_000_000) == 8
    assert _bloom_hex_width(10**12) == 8  # ceiling: md5 runs out of hexes


def test_bloom_width_lockstep_spark_oracle():
    """The derived width lands in BOTH the Spark expressions and the
    lazily-resolved oracle SQL (both interpolate the same per-call
    _bloom_pos_list(_bloom_width_now()))."""
    from udacity_data_engineer_capstone_spark.operators import dedup as d

    w = d._bloom_width_now()
    assert d._bloom_pos_list(w) in d._bloom_oracle_now()
    # default local profile: the historical 5-hex width
    assert w == 5
    one_probe = d._bloom_pos(0, w)
    assert one_probe.count("position(") == w
    assert d._bloom_pos(0, 6).count("position(") == 6


def test_bloom_width_reads_env_per_call(monkeypatch):
    """Round-9 ADVICE: the width must be a function of the CALL's
    environment, not process-global import state — changing
    SPARK_GRAFT_CORPUS_DOCS after import must change both the engine
    width and the lazily-resolved oracle text in lockstep."""
    from udacity_data_engineer_capstone_spark.operators import dedup as d
    from udacity_data_engineer_capstone_spark.registry import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_CORPUS_DOCS", "600000")
    assert d._bloom_width_now() == 6
    lazy = QUERIES["dedup_bloom_incremental"].oracle_text()
    assert d._bloom_pos_list(6) in lazy
    monkeypatch.delenv("SPARK_GRAFT_CORPUS_DOCS")
    assert d._bloom_width_now() == 5
    assert d._bloom_pos_list(5) in QUERIES["dedup_bloom_incremental"].oracle_text()


def test_bloom_derived_width_oracle_parity_subprocess(sf_dir):
    """End-to-end: with SPARK_GRAFT_CORPUS_DOCS declaring a 600k-doc
    corpus the derived width becomes 6, and Spark and DuckDB still
    agree row-for-row (both texts re-derive from the same per-call
    environment read)."""
    import os
    import subprocess
    import sys

    code = """
import os, sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from udacity_data_engineer_capstone_spark.operators import dedup as d
assert d._bloom_width_now() == 6, d._bloom_width_now()
import duckdb
con = duckdb.connect()
for t in ["documents"]:
    con.execute(
        "create view " + t + " as select * from read_parquet('"
        + os.path.join(%r, t + ".parquet") + "')")
sdf = d.dedup_bloom_incremental(spark, %r)
srows = sorted(tuple(str(r[c]) for c in sorted(sdf.columns))
               for r in sdf.collect())
res = con.execute(d._bloom_oracle_now())
cols = [x[0] for x in res.description]
order = sorted(range(len(cols)), key=lambda i: cols[i])
drows = sorted(tuple(str(r[i]) for i in order) for r in res.fetchall())
assert srows == drows, (len(srows), len(drows))
print("PARITY-OK", len(srows))
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = code % (repo, sf_dir, sf_dir)
    env = dict(os.environ, SPARK_GRAFT_CORPUS_DOCS="600000")
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "PARITY-OK" in out.stdout
