"""Hand-computed semantic checks for the session-2 waves (12–16).

Oracle parity (test_oracle_parity) proves Spark ≡ DuckDB on the shared
SQL; these pin the *intended semantics* on tiny crafted fixtures, so an
equivalent bug written into both engine and oracle text cannot hide.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

import udacity_data_engineer_capstone_spark as engine

engine.load_all()
Q = engine.QUERIES

_TS0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _secs(s):
    return _TS0 + dt.timedelta(seconds=s)


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

_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@pytest.fixture(scope="module")
def crafted_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("crafted_s2"))

    # --- events: conversion latencies 10/20/30s + an hourly gap series
    events = []
    eid = 0
    for u, lat in ((1, 10), (2, 20), (3, 30)):
        eid += 1
        events.append(
            Row(event_id=eid, ts=_secs(300 * u), user_id=u,
                event_type="view", value=0.0, props="{}")
        )
        eid += 1
        events.append(
            Row(event_id=eid, ts=_secs(300 * u + lat), user_id=u,
                event_type="purchase", value=0.0, props="{}")
        )
    # user 4: purchase BEFORE view -> excluded from conversion
    events.append(Row(event_id=90, ts=_secs(0), user_id=4,
                      event_type="purchase", value=0.0, props="{}"))
    events.append(Row(event_id=91, ts=_secs(1800), user_id=4,
                      event_type="view", value=0.0, props="{}"))
    # click series: hours h0, h0+1, (gap), h0+3 with values 1, 2, _, 4
    for k, (hh, v) in enumerate(((0, 1.0), (1, 2.0), (3, 4.0))):
        events.append(
            Row(event_id=100 + k, ts=_TS0 + dt.timedelta(hours=hh),
                user_id=10, event_type="click", value=v, props="{}")
        )
    spark.createDataFrame(events, _EVENTS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "events.parquet")
    )

    # --- documents: readability/code/dsir/VAD shapes
    docs = [
        Row(doc_id=0, text="The cat sat. The dog ran.", lang="en",
            source="s0", n_chars=25),
        Row(doc_id=1, text="int main() { return 0; }", lang="en",
            source="s0", n_chars=24),
        Row(doc_id=2, text="alpha beta alpha beta", lang="en",
            source="s0", n_chars=21),
        Row(doc_id=3, text="gamma delta gamma delta", lang="de",
            source="s1", n_chars=23),
        # fake-PCM: 2 quiet frames ('@'=0x40 = center), 1 loud ('z'),
        # 1 quiet, 1 loud  ->  5 frames, 2 active, 2 segments
        Row(doc_id=4, text="@" * 64 + "z" * 32 + "@" * 32 + "z" * 32,
            lang="en", source="s0", n_chars=160),
        # encoding wreckage: replacement char + C0 control + mojibake
        Row(doc_id=5, text="caf\u00c3\u00a9 bro\ufffdken\x07 text",
            lang="en", source="s1", n_chars=20),
    ]
    spark.createDataFrame(docs, _DOCS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "documents.parquet")
    )

    # --- embeddings: 8 far-apart seeds + 8 satellites of seed 0
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    vecs = []
    for j in range(8):  # seed j points 10.0 along axis j
        v = [0.0] * 64
        v[j] = 10.0
        vecs.append(Row(vec_id=j, embedding=v, label=j))
    for k in range(8, 16):  # satellites: seed-0 direction, tiny wobble
        v = [0.0] * 64
        v[0] = 10.0
        v[1] = 0.001 * (k - 7)
        vecs.append(Row(vec_id=k, embedding=v, label=0))
    spark.createDataFrame(vecs, emb_schema).coalesce(1).write.parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # --- star slice for pareto/share: 5 customers nation 1 (80/5/5/5/5)
    #     + 1 customer nation 2 (300), both nations in region 0
    cust_schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    custs = [
        Row(c_custkey=i, c_name=f"c{i}", c_nationkey=1, c_acctbal=0.0,
            c_mktsegment="B") for i in range(1, 6)
    ] + [Row(c_custkey=6, c_name="c6", c_nationkey=2, c_acctbal=0.0,
             c_mktsegment="B")]
    spark.createDataFrame(custs, cust_schema).coalesce(1).write.parquet(
        os.path.join(out, "customer.parquet")
    )
    ord_schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    prices = {1: 80.0, 2: 5.0, 3: 5.0, 4: 5.0, 5: 5.0, 6: 300.0}
    orders = [
        Row(o_orderkey=k, o_custkey=k, o_orderstatus="F",
            o_totalprice=p, o_orderdate=_TS0, o_orderpriority="1-URGENT")
        for k, p in prices.items()
    ]
    spark.createDataFrame(orders, ord_schema).coalesce(1).write.parquet(
        os.path.join(out, "orders.parquet")
    )
    nat_schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    nations = [
        Row(n_nationkey=1, n_name="AAA", n_regionkey=0),
        Row(n_nationkey=2, n_name="BBB", n_regionkey=0),
    ]
    spark.createDataFrame(nations, nat_schema).coalesce(1).write.parquet(
        os.path.join(out, "nation.parquet")
    )

    # --- lineitem: perfect monotone (flag A) and anti-monotone (flag R)
    #     rank spirals with n=7 so the correlation denominator is the
    #     perfect square n^2(n^2-1)/12 = 196 and corr is EXACTLY +/-1
    li_schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    )
    lis = []
    for i in range(1, 8):
        lis.append(Row(l_orderkey=i, l_partkey=1, l_suppkey=1,
                       l_linenumber=1, l_quantity=float(i),
                       l_extendedprice=10.0 * i, l_discount=0.0, l_tax=0.0,
                       l_returnflag="A", l_linestatus="O", l_shipdate=_TS0))
        lis.append(Row(l_orderkey=100 + i, l_partkey=1, l_suppkey=1,
                       l_linenumber=1, l_quantity=float(i),
                       l_extendedprice=10.0 * (8 - i), l_discount=0.0,
                       l_tax=0.0, l_returnflag="R", l_linestatus="O",
                       l_shipdate=_TS0))
    spark.createDataFrame(lis, li_schema).coalesce(1).write.parquet(
        os.path.join(out, "lineitem.parquet")
    )
    return out


def test_readability_hand_computed(spark, crafted_dir):
    """'The cat sat. The dog ran.' = 2 sentences, 6 words, 6 vowel
    runs -> 206835 - 1015*3 - 84600*1 = 119190 milli, band 'easy'."""
    rows = {
        r["doc_id"]: r
        for r in Q["text_readability"].fn(spark, crafted_dir).collect()
    }
    r = rows[0]
    assert (r["n_sentences"], r["n_words"], r["n_syllables"]) == (2, 6, 6)
    assert r["flesch_milli"] == 119190
    assert r["band"] == "easy"


def test_code_detect_hand_computed(spark, crafted_dir):
    """'int main() { return 0; }' carries 5 symbol chars in 24 ->
    208333 ppm -> code; the prose sentence -> prose."""
    rows = {
        r["doc_id"]: r
        for r in Q["text_code_detect"].fn(spark, crafted_dir).collect()
    }
    assert rows[1]["n_symbols"] == 5 and rows[1]["n_chars"] == 24
    assert rows[1]["symbol_ppm"] == 208333
    assert rows[1]["verdict"] == "code"
    assert rows[0]["verdict"] == "prose"


def test_conversion_latency_hand_computed(spark, crafted_dir):
    """Latencies {10,20,30}s: median doubled = 40, p90 (rank
    ceil(0.9*3)=3) = 30; the purchase-before-view user is excluded."""
    r = Q["evt_conversion_latency"].fn(spark, crafted_dir).collect()[0]
    assert r["n_converted"] == 3
    assert r["p50_secs2"] == 40
    assert r["p90_secs"] == 30
    assert (r["min_secs"], r["max_secs"]) == (10, 30)


def test_interpolate_linear_hand_computed(spark, crafted_dir):
    """Click series 100, 200, GAP, 400 cents: the gap hour lerps to
    100*1000*... -> 200000 + (400-200)*1000*(1/2) = 300000 milli."""
    rows = [
        r
        for r in Q["ts_interpolate_linear"].fn(spark, crafted_dir).collect()
        if r["event_type"] == "click"
    ]
    rows.sort(key=lambda r: r["h"])
    assert [r["v_cents"] for r in rows] == [100, 200, None, 400]
    gap = rows[2]
    assert gap["was_gap"] is True
    assert gap["interp_millicents"] == 300000
    assert [r["interp_millicents"] for r in rows] == [
        100000, 200000, 300000, 400000,
    ]


def test_spearman_exact_plus_minus_one(spark, crafted_dir):
    """Monotone flag A -> exactly +1e6 ppm; anti-monotone flag R ->
    exactly -1e6 (n=7 makes the denominator the perfect square 196, so
    the IEEE tree hits +/-1.0 with no rounding)."""
    rows = {
        r["flag"]: r for r in Q["stat_spearman"].fn(spark, crafted_dir).collect()
    }
    assert rows["A"]["spearman_ppm"] == 1_000_000
    assert rows["R"]["spearman_ppm"] == -1_000_000


def test_pareto_coverage_hand_computed(spark, crafted_dir):
    """Nation 1 revenue 80/5/5/5/5: the top customer alone covers 80%
    -> n_for_80pct = 1, concentration = 200000 ppm of 5 customers."""
    rows = {
        r["nationkey"]: r
        for r in Q["agg_pareto_coverage"].fn(spark, crafted_dir).collect()
    }
    r1 = rows[1]
    assert r1["n_customers"] == 5
    assert r1["total_cents"] == 10_000
    assert r1["n_for_80pct"] == 1
    assert r1["concentration_ppm"] == 200_000


def test_share_of_group_hand_computed(spark, crafted_dir):
    """Region 0 = nation1 (10000c) + nation2 (30000c): shares 250000 /
    750000 ppm; nation2 ranks first."""
    rows = {
        r["nationkey"]: r
        for r in Q["win_share_of_group"].fn(spark, crafted_dir).collect()
    }
    assert rows[1]["share_ppm"] == 250_000
    assert rows[2]["share_ppm"] == 750_000
    assert rows[2]["rank_in_region"] == 1
    assert rows[1]["rank_in_region"] == 2


def test_vad_segments_hand_computed(spark, crafted_dir):
    """'@'x64 'z'x32 '@'x32 'z'x32: '@' (=0x40) is the PCM midpoint ->
    energy 0; 'z' frames carry 32*58^2 = 107648 -> active. 5 frames,
    2 active, 2 segments, longest 1."""
    rows = {
        r["doc_id"]: r
        for r in Q["mm_audio_energy_vad"].fn(spark, crafted_dir).collect()
    }
    r = rows[4]
    assert r["n_frames"] == 5
    assert r["n_active"] == 2
    assert r["n_segments"] == 2
    assert r["longest_run"] == 1


def test_dsir_prefers_target_like_docs(spark, crafted_dir):
    """The all-target-vocabulary doc must outscore the doc whose tokens
    never appear in the target slice."""
    rows = {
        r["doc_id"]: r for r in Q["curate_dsir"].fn(spark, crafted_dir).collect()
    }
    assert rows[2]["dsir_score_micro"] > rows[3]["dsir_score_micro"]


def test_kmeans_satellites_join_seed_zero(spark, crafted_dir):
    """8 orthogonal seeds + 8 satellites of seed 0: centroid 0 ends
    with 9 members, every other centroid keeps exactly 1."""
    rows = Q["emb_kmeans_lloyd"].fn(spark, crafted_dir).collect()
    members = {}
    for r in rows:
        members[r["centroid_id"]] = r["n_members"]
    assert members[0] == 9
    assert all(members[c] == 1 for c in range(1, 8))


def test_fixed_width_fixture_derivation():
    """The committed ledger.dat derives from a chained-md5 loop: line i
    packs (i, name[h%8], h%1e7, flag[h%3], date) at fixed offsets with
    h = int(md5('fw:i')[:8], 16). Re-derive record 0 and compare."""
    from udacity_data_engineer_capstone_spark.queries.formats import _FW_FIXTURE

    names = ["ALPHA", "BRAVO", "CHARLIE", "DELTA", "ECHO", "FOXTROT",
             "GOLF", "HOTEL"]
    flags = ["A", "B", "C"]
    with open(_FW_FIXTURE) as f:
        first = f.readline().rstrip("\n")
    h = int(hashlib.md5(b"fw:0").hexdigest()[:8], 16)
    expect = (
        f"{0:06d}{names[h % 8]:<12s}{h % 10_000_000:010d}"
        f"{flags[h % 3]:<2s}2024-{(h % 12) + 1:02d}-{(h % 28) + 1:02d}    "
    )
    assert first == expect


def test_bh_flags_the_shifted_type(spark, sf_dir):
    """On the real testdata the BH output must be a coherent step-up
    result: ranks are a permutation, and the significant set is a
    prefix of the p-value order."""
    rows = Q["stat_benjamini_hochberg"].fn(spark, sf_dir).collect()
    rows.sort(key=lambda r: r["p_rank"])
    ranks = [r["p_rank"] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))
    sig = [r["significant"] for r in rows]
    # significance must be a prefix (possibly empty) of the rank order
    if True in sig:
        last_true = max(i for i, s in enumerate(sig) if s)
        assert all(sig[: last_true + 1])


def test_encoding_artifacts_detection(spark, crafted_dir):
    """Doc 5 carries U+FFFD, a BEL control char, and an 'Ã©' mojibake
    pair -> suspect with exact counts; the clean prose doc stays
    clean."""
    rows = {
        r["doc_id"]: r
        for r in Q["text_encoding_artifacts"].fn(spark, crafted_dir).collect()
    }
    bad = rows[5]
    assert bad["n_replacement"] == 1
    assert bad["n_control"] == 1
    assert bad["n_mojibake"] == 1
    assert bad["verdict"] == "suspect"
    assert rows[0]["verdict"] == "clean"


def test_position_attribution_single_touch(spark, crafted_dir):
    """Each converting user has exactly one prior view touch -> view
    gets 10000 bps per purchase, clicks get nothing, and the excluded
    purchase (no prior touch in window) contributes nothing."""
    rows = {
        r["channel"]: r
        for r in Q["evt_attribution_position"].fn(spark, crafted_dir).collect()
    }
    assert rows["view"]["total_bps"] == 30000
    assert rows["view"]["n_purchases_touched"] == 3
    assert "click" not in rows or rows["click"]["total_bps"] == 0


def test_attribution_credits_conserve(spark, sf_dir):
    """On real data, total credits must equal 10000 bps per touched
    purchase — the largest-remainder split conserves mass exactly."""
    import duckdb

    from udacity_data_engineer_capstone_spark.catalog import table_path

    rows = Q["evt_attribution_position"].fn(spark, sf_dir).collect()
    total = sum(r["total_bps"] for r in rows)
    con = duckdb.connect()
    con.execute(
        f"create view events as select * from "
        f"read_parquet('{table_path(sf_dir, 'events')}')"
    )
    touched = con.execute("""
        SELECT COUNT(*) FROM (
          SELECT p.event_id FROM events p
          WHERE p.event_type = 'purchase' AND EXISTS (
            SELECT 1 FROM events t
            WHERE t.user_id = p.user_id
              AND t.event_type IN ('click', 'view')
              AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY)
        )""").fetchone()[0]
    assert total == 10000 * touched


def test_pref_pairs_margins_positive(spark, sf_dir):
    """Every emitted pair must have chosen strictly above rejected and
    a pair rank in the top half of its source."""
    rows = Q["curate_pref_pairs"].fn(spark, sf_dir).collect()
    assert rows, "no preference pairs emitted"
    for r in rows:
        assert r["margin_micro"] > 0
        assert r["chosen_doc"] != r["rejected_doc"]


def test_normalized_dedup_catches_formatting_variants(spark, crafted_dir, tmp_path):
    """'The cat sat. The dog ran.' has no variant in the crafted set,
    but a case/punct variant corpus must group under one canon hash
    while raw md5 treats them as distinct."""
    import os

    out = str(tmp_path)
    # ids 51-53 dodge the corpus() plant rules (id%50 in {0, 7})
    docs = [
        Row(doc_id=51, text="Hello, World!  How are you?", lang="en",
            source="s0", n_chars=27),
        Row(doc_id=52, text="hello world how are you", lang="en",
            source="s0", n_chars=23),
        Row(doc_id=53, text="entirely different text", lang="en",
            source="s0", n_chars=23),
    ]
    spark.createDataFrame(docs, _DOCS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(out, "documents.parquet")
    )
    norm = Q["dedup_exact_normalized"].fn(spark, out).collect()
    assert len(norm) == 1
    assert norm[0]["keep_id"] == 51 and norm[0]["n_variants"] == 2
    raw = Q["dedup_exact"].fn(spark, out).collect()
    assert all(r["n_copies"] == 1 for r in raw)


def test_hits_hand_computed(spark, tmp_path):
    """Star graph (c1 buys s1,s2,s3; c2 buys s1), two rounds by hand:
    hubs c1=1000, c2=400; authorities s1=1000, s2=s3=714."""
    import os

    out = str(tmp_path)
    ords = [
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="F", o_totalprice=1.0,
            o_orderdate=_TS0, o_orderpriority="1"),
        Row(o_orderkey=2, o_custkey=2, o_orderstatus="F", o_totalprice=1.0,
            o_orderdate=_TS0, o_orderpriority="1"),
    ]
    ord_schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    spark.createDataFrame(ords, ord_schema).coalesce(1).write.parquet(
        os.path.join(out, "orders.parquet")
    )
    li_schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    )
    lis = [
        Row(l_orderkey=1, l_partkey=1, l_suppkey=s, l_linenumber=i,
            l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="A", l_linestatus="O", l_shipdate=_TS0)
        for i, s in enumerate([1, 2, 3], start=1)
    ] + [
        Row(l_orderkey=2, l_partkey=1, l_suppkey=1, l_linenumber=1,
            l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="A", l_linestatus="O", l_shipdate=_TS0)
    ]
    spark.createDataFrame(lis, li_schema).coalesce(1).write.parquet(
        os.path.join(out, "lineitem.parquet")
    )
    rows = {
        (r["role"], r["node_id"]): r["score_milli"]
        for r in Q["graph_hits"].fn(spark, out).collect()
    }
    assert rows[("hub", 1)] == 1000
    assert rows[("hub", 2)] == 400
    assert rows[("authority", 1)] == 1000
    assert rows[("authority", 2)] == 714
    assert rows[("authority", 3)] == 714


def test_new_returning_single_day(spark, crafted_dir):
    """All five crafted users first appear on 2024-01-01 -> that day is
    all-new, nothing returning."""
    rows = Q["evt_new_returning"].fn(spark, crafted_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_new"] == 5 and r["n_returning"] == 0 and r["n_active"] == 5
