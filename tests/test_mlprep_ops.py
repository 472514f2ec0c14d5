"""Edge-semantics unit tests for the ML-prep/series operators on tiny
hand-built frames (oracle parity is covered for every query by
test_correctness_oracle; these pin the boundary behaviors a hash-compare
could only reveal indirectly)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.plans.mlprep_ops import (
    _acf_lags,
    _feature_hash,
    _linreg_daily,
    _rolling_median,
    _word_entropy,
    _ws_normalize,
)

DAY0 = 1704067200  # 2024-01-01T00:00:00Z — the linreg day-index anchor


def _mk_events(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, t long, event_type string, value double"
    ).select(
        "event_id",
        F.col("t").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    df.createOrReplaceTempView("events")


def _mk_docs(spark, rows):
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )


def test_rolling_median_interpolates_and_skips_nulls(hand_views):
    spark = hand_views
    _mk_events(
        spark,
        [
            (1, 10, "a", 1.0),
            (2, 20, "a", 100.0),  # even frame {1,100} -> 50.5
            (3, 30, "a", None),  # null is NOT a frame value: median{1,100}
            (4, 40, "a", 3.0),  # median{1,100,3} = 3
            (5, 10, "b", 7.0),  # other series unaffected
        ],
    )
    got = {r.event_id: r.roll_median_5 for r in spark.sql(_rolling_median(SPARK)).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(50.5)
    assert got[3] == pytest.approx(50.5)
    assert got[4] == pytest.approx(3.0)
    assert got[5] == pytest.approx(7.0)


def test_acf_signs_on_constructed_series(hand_views):
    spark = hand_views
    # series "ramp": 1..6 — every lagged pair is perfectly linear -> acf = 1
    # series "alt": +1,-1,... -> lag1 = -1, lag2 = +1, lag3 = -1
    rows = [(i, 10 * i, "ramp", float(i)) for i in range(1, 7)]
    rows += [(100 + i, 10 * i, "alt", (-1.0) ** i) for i in range(1, 7)]
    _mk_events(spark, rows)
    got = {(r.event_type, r.lag_k): r for r in spark.sql(_acf_lags(SPARK)).collect()}
    for k in (1, 2, 3):
        assert got[("ramp", k)].acf == pytest.approx(1.0)
        assert got[("ramp", k)].n_pairs == 6 - k
    assert got[("alt", 1)].acf == pytest.approx(-1.0)
    assert got[("alt", 2)].acf == pytest.approx(1.0)
    assert got[("alt", 3)].acf == pytest.approx(-1.0)


def test_linreg_recovers_exact_line_and_needs_two_days(hand_views):
    spark = hand_views
    # daily means on an exact line y = 2*day + 5; two samples per day that
    # average to the line — the regression must see the means, not the raw
    # points. "one" has a single day and must be dropped by HAVING.
    rows = []
    eid = 0
    for day in range(4):
        y = 2.0 * day + 5.0
        for dv in (-1.0, +1.0):
            eid += 1
            rows.append((eid, DAY0 + 86400 * day + 60 * eid, "line", y + dv))
    rows.append((99, DAY0, "one", 42.0))
    _mk_events(spark, rows)
    got = {r.event_type: r for r in spark.sql(_linreg_daily(SPARK)).collect()}
    assert got["line"].slope_per_day == pytest.approx(2.0)
    assert got["line"].intercept == pytest.approx(5.0)
    assert got["line"].n_days == 4
    assert "one" not in got


def test_word_entropy_bounds(hand_views):
    spark = hand_views
    _mk_docs(
        spark,
        [
            (1, "a a a a"),  # constant -> 0 nats
            (2, "a b c d"),  # uniform over 4 -> ln 4
            (3, "a a b b"),  # uniform over 2 -> ln 2
        ],
    )
    got = {r.doc_id: r for r in spark.sql(_word_entropy(SPARK)).collect()}
    assert got[1].token_entropy_nats == pytest.approx(0.0)
    assert got[1].n_tokens == 4 and got[1].n_distinct == 1
    assert got[2].token_entropy_nats == pytest.approx(math.log(4), abs=1e-6)
    assert got[3].token_entropy_nats == pytest.approx(math.log(2), abs=1e-6)


def test_whitespace_normalize_collapses_controls(hand_views):
    spark = hand_views
    _mk_docs(
        spark,
        [
            (1, "a\tb\n c"),  # tab+newline are control chars -> spaces, runs collapse
            (2, "abc"),  # untouched
            (3, "  x  "),  # trim only
        ],
    )
    got = {r.doc_id: r for r in spark.sql(_ws_normalize(SPARK)).collect()}
    assert got[1].raw_len == 6 and got[1].clean_len == 5 and got[1].collapsed
    assert got[2].raw_len == 3 and got[2].clean_len == 3 and not got[2].collapsed
    assert got[3].clean_len == 1 and got[3].collapsed


def _expected_bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 16


def test_feature_hash_buckets_match_portable_hash(hand_views):
    spark = hand_views
    _mk_docs(spark, [(1, "cat dog cat"), (2, "dog")])
    got = {(r.doc_id, r.bucket): r.tf for r in spark.sql(_feature_hash(SPARK)).collect()}
    cat, dog = _expected_bucket("cat"), _expected_bucket("dog")
    if cat == dog:  # collision: counts merge (by design for the hashing trick)
        assert got[(1, cat)] == 3
    else:
        assert got[(1, cat)] == 2 and got[(1, dog)] == 1
    assert got[(2, dog)] == 1


def test_containment_is_asymmetric(hand_views):
    spark = hand_views
    # A's 2 shingles are all inside B -> C(A→B)=1.0; C(B→A)=2/6 < 0.5 dropped
    _mk_docs(
        spark,
        [
            (1, "w1 w2 w3 w4"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (3, "x1 x2 x3"),  # disjoint doc pairs with nobody
        ],
    )
    rows = registry.get("dedup_containment_ngram").builder(spark, "unused").collect()
    assert [(r.src_doc, r.dst_doc, r.containment) for r in rows] == [(1, 2, 1.0)]


def test_bollinger_flags_spike_and_never_nulls_breakout(hand_views):
    spark = hand_views
    rows = [(i, 10 * i, "a", 1.0) for i in range(1, 8)] + [(8, 80, "a", 30.0)]
    _mk_events(spark, rows)
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _bollinger

    got = {r.event_id: r for r in spark.sql(_bollinger(SPARK)).collect()}
    # first row: single-element frame -> sd undefined, bands null, flag false
    assert got[1].band_upper is None and got[1].breakout is False
    # constant run: sd = 0, bands collapse onto the mean, no breakout
    assert got[7].band_upper == pytest.approx(1.0) and not got[7].breakout
    # the spike exceeds mean + 2 sd of its own frame
    # (n=8, mean=4.625, sd=sqrt(5887/56)≈10.2531 -> upper≈25.1311 < 30)
    assert got[8].breakout is True
    assert got[8].band_upper == pytest.approx(4.625 + 2 * math.sqrt(5887 / 56), abs=1e-5)


@pytest.mark.slow_property
def test_mmr_prefers_diverse_over_redundant(hand_views):
    spark = hand_views
    rows = [
        (100, [1.0, 0.0], 0),  # the query vector
        (0, [1.0, 0.0], 0),    # rel 1.0 — picked first
        (1, [0.8, 0.6], 0),    # rel 0.8, sim-to-0 0.8 -> mmr 0.4
        (2, [0.0, 1.0], 0),    # rel 0.0, sim-to-1 0.6 -> mmr -0.3
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    from rugpull_data_pipeline_spark.plans import registry

    got = registry.get("sim_mmr_diversify").builder(spark, "unused").collect()
    assert [(r.rnk, r.vec_id) for r in got] == [(1, 0), (2, 1), (3, 2)]
    assert got[0].mmr_score == pytest.approx(1.0)
    assert got[1].mmr_score == pytest.approx(0.4)
    assert got[2].mmr_score == pytest.approx(-0.3)


def test_bpe_round2_applies_greedy_leftmost_merge(hand_views):
    spark = hand_views
    # round 1 top pair is (x,y) with 3 occurrences; after applying it,
    # doc 1 becomes [xy, xy] and doc 2 [xy, z]. The a-a-a-a doc proves
    # greedy non-overlap: round-1 counting sees (a,a) twice but (x,y) wins.
    _mk_docs(spark, [(1, "x y x y"), (2, "x y z")])
    from rugpull_data_pipeline_spark.plans import registry

    rows = registry.get("text_bpe_merge_round2").builder(spark, "unused").collect()
    assert rows[0].merge_applied == "xy"
    assert [(r.rank, r.pa, r.pb, r.n_occurrences) for r in rows] == [
        (1, "xy", "xy", 1),
        (2, "xy", "z", 1),
    ]


def test_bpe_round2_merges_consecutive_runs_like_bpe(hand_views):
    spark = hand_views
    # [a,a,a,a,a] under merge (a,a): greedy leftmost gives [aa,aa,a] —
    # a single-space join would have produced [aa,a,a].
    _mk_docs(spark, [(1, "a a a a a")])
    from rugpull_data_pipeline_spark.plans import registry

    rows = registry.get("text_bpe_merge_round2").builder(spark, "unused").collect()
    got = {(r.pa, r.pb): r.n_occurrences for r in rows}
    assert got == {("aa", "aa"): 1, ("aa", "a"): 1}


def _mk_user_events(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, t long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.col("t").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    df.createOrReplaceTempView("events")


def test_pit_join_is_leakage_free_and_cardinality_preserving(hand_views):
    spark = hand_views
    _mk_user_events(
        spark,
        [
            (1, 100, 1, "purchase", 10.0),
            (2, 200, 1, "purchase", 20.0),
            # same-instant double update for user 2: later event_id wins
            (10, 100, 2, "purchase", 5.0),
            (11, 100, 2, "purchase", 6.0),
            # the facts
            (20, 50, 1, "view", None),   # before any version -> NULL
            (21, 150, 1, "view", None),  # inside v1
            (22, 200, 1, "view", None),  # boundary: v2 starts AT 200
            (23, 250, 1, "view", None),  # open current version
            (24, 100, 2, "view", None),  # zero-length v1 skipped -> 6.0
        ],
    )
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _pit_join

    rows = spark.sql(_pit_join(SPARK)).collect()
    assert len(rows) == 5  # exactly one output row per view
    got = {r.event_id: r.price_at_view for r in rows}
    assert got[20] is None
    assert got[21] == pytest.approx(10.0)
    assert got[22] == pytest.approx(20.0)
    assert got[23] == pytest.approx(20.0)
    assert got[24] == pytest.approx(6.0)


def test_filter_gate_verdicts(hand_views):
    spark = hand_views
    good = ("the quick brown fox jumps over the lazy dog near four big red "
            "barns while six calm white owls watch from tall green trees")
    _mk_docs(
        spark,
        [
            (1, good),                      # passes every rule
            (2, "way too short text"),      # n_tokens < 20
            (3, " ".join(["spam"] * 30)),   # distinct/dup3 rules
            (4, " ".join(f"verylongword{i:02d}" for i in range(30))),  # no stopwords, too-long tokens
        ],
    )
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _filter_gate

    got = {r.doc_id: r for r in spark.sql(_filter_gate(SPARK)).collect()}
    assert got[1].keep is True
    assert got[2].keep is False and got[2].n_tokens == 4
    assert got[3].keep is False
    assert got[3].distinct_ratio == pytest.approx(1 / 30, abs=1e-6)
    assert got[3].dup3_ratio == pytest.approx(1 - 1 / 28, abs=1e-6)
    assert got[4].keep is False and got[4].stop_ratio == 0.0


def test_attribution_last_touch_semantics(hand_views):
    spark = hand_views
    _mk_user_events(
        spark,
        [
            # user 1: click 100 s before purchase -> attributed to click
            (1, 100, 1, "click", None),
            (2, 200, 1, "purchase", 10.0),
            # user 1: next purchase 5000 s after the click -> outside the
            # 3600 s lookback -> direct (an old touch never gets credit)
            (3, 5100, 1, "purchase", 20.0),
            # user 2: two touches at the SAME ts as the purchase: same-ts
            # touch counts (kind-ordered carry), larger event_id wins
            (10, 300, 2, "view", None),
            (11, 300, 2, "signup", None),
            (12, 300, 2, "purchase", 5.0),
            # user 3: no touches at all -> direct
            (20, 400, 3, "purchase", 7.0),
        ],
    )
    from rugpull_data_pipeline_spark.plans.mlprep_ops import (
        events_attribution_last_touch,
    )

    got = {
        r.channel: r
        for r in events_attribution_last_touch(spark, "unused").collect()
    }
    assert got["click"].n_purchases == 1 and got["click"].revenue == 10.0
    assert got["direct"].n_purchases == 2 and got["direct"].revenue == 27.0
    assert got["signup"].n_purchases == 1 and got["signup"].revenue == 5.0
    assert "view" not in got


def test_pagerank_hand_graph(hand_views):
    spark = hand_views
    # u1: a->b, b->b ; u2: a->b, b->a  =>  w(a->b)=1, w(b->a)=w(b->b)=0.5
    # 3 damped iterations from (0.5, 0.5), hand-computed:
    #   r1 = (0.2875, 0.7125); r2 = (0.377813, 0.622188)
    #   r3 = (0.339430, 0.660570)
    _mk_user_events(
        spark,
        [
            (1, 10, 1, "a", None), (2, 20, 1, "b", None), (3, 30, 1, "b", None),
            (4, 10, 2, "a", None), (5, 20, 2, "b", None), (6, 30, 2, "a", None),
        ],
    )
    got = {
        r.event_type: r.pagerank
        for r in registry.get("graph_pagerank_power3").builder(spark, "unused").collect()
    }
    assert got["a"] == pytest.approx(0.339430, abs=1e-6)
    assert got["b"] == pytest.approx(0.660570, abs=1e-6)


def test_rsi_frame_fill_and_direction(hand_views):
    spark = hand_views
    # 15 monotonically rising samples: first 14 rows have <14 diffs -> NULL;
    # row 15 has 14 gains, 0 losses -> RSI = 100. A flat series stays NULL
    # (G+L = 0 guard).
    rows = [(i, 10 * i, "up", float(i)) for i in range(1, 16)]
    rows += [(100 + i, 10 * i, "flat", 5.0) for i in range(1, 16)]
    _mk_events(spark, rows)
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _rsi14

    got = {r.event_id: r.rsi_14 for r in spark.sql(_rsi14(SPARK)).collect()}
    assert got[14] is None            # only 13 diffs in frame
    assert got[15] == pytest.approx(100.0)
    assert got[115] is None           # flat: G+L = 0


def test_hhi_two_equal_holders(hand_views):
    spark = hand_views
    # two users with equal value -> shares 0.5/0.5 -> HHI 0.5, top 0.5;
    # a monopolist type -> HHI 1.0. Zero/negative values are excluded.
    _mk_user_events(
        spark,
        [
            (1, 10, 1, "dual", 30.0),
            (2, 20, 2, "dual", 30.0),
            (3, 30, 1, "mono", 9.0),
            (4, 40, 2, "mono", 0.0),  # excluded: value > 0 filter
        ],
    )
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _hhi

    got = {r.event_type: r for r in spark.sql(_hhi(SPARK)).collect()}
    assert got["dual"].hhi == pytest.approx(0.5) and got["dual"].n_users == 2
    assert got["dual"].top_share == pytest.approx(0.5)
    assert got["mono"].hhi == pytest.approx(1.0) and got["mono"].n_users == 1


def test_knn_majority_vote_with_tiebreak(hand_views):
    spark = hand_views
    # query 5 = [1,0]; ten candidates: six share label 1 near [1,0], four
    # share label 0 slightly farther -> predicted 1; correctness flag
    # compares against the query's own label (0 here -> incorrect).
    rows = [(5, [1.0, 0.0], 0)]
    for i in range(6):
        rows.append((20 + i, [1.0, 0.001 * i], 1))
    for i in range(4):
        rows.append((40 + i, [0.9, 0.3 + 0.001 * i], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _knn_classify

    got = spark.sql(_knn_classify(SPARK)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.query_id == 5 and r.predicted_label == 1 and r.n_votes == 6
    assert r.true_label == 0 and r.correct is False


def test_temporal_split_cutoff_and_no_overlap(hand_views):
    spark = hand_views
    # 10 samples at t=1..10: the exact 80th percentile is 8.2, so train
    # holds t<=8 (8 rows) and test t>=9 (2 rows) — max(train) < min(test).
    _mk_events(spark, [(i, i, "a", 1.0) for i in range(1, 11)])
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _temporal_split

    got = {(r.event_type, r.split): r for r in spark.sql(_temporal_split(SPARK)).collect()}
    tr, te = got[("a", "train")], got[("a", "test")]
    assert tr.n_rows == 8 and te.n_rows == 2
    assert tr.max_es < te.min_es  # leakage-free by construction
    assert tr.min_es == 1 and te.max_es == 10


def test_time_rollup_levels(hand_views):
    spark = hand_views
    # purchases: 2 on day1-h0, 1 on day1-h1, 1 on day2-h0 (+ a click that
    # must be filtered out)
    D = 86400
    _mk_events(
        spark,
        [
            (1, 0, "purchase", 1.0),
            (2, 60, "purchase", 2.0),
            (3, 3600, "purchase", 4.0),
            (4, D, "purchase", 8.0),
            (5, 0, "click", 99.0),
        ],
    )
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _time_rollup

    rows = spark.sql(_time_rollup(SPARK)).collect()
    # leaf rows + 2 day subtotals + 1 grand total
    leafs = [r for r in rows if r.g_day == 0 and r.g_hr == 0]
    days = [r for r in rows if r.g_day == 0 and r.g_hr == 1]
    grand = [r for r in rows if r.g_day == 1 and r.g_hr == 1]
    assert len(leafs) == 3 and len(days) == 2 and len(grand) == 1
    assert grand[0].n_events == 4 and grand[0].total_value == 15.0
    d1 = next(r for r in days if r.day == "1970-01-01")
    assert d1.n_events == 3 and d1.total_value == 7.0


def test_seasonal_baseline_deviation(hand_views):
    spark = hand_views
    # hour-0 cell mean for series a = (1+3)/2 = 2 -> devs -1 and +1;
    # hour-1 cell has one member -> dev 0
    _mk_events(
        spark,
        [
            (1, 0, "a", 1.0),
            (2, 60, "a", 3.0),
            (3, 3600, "a", 7.0),
        ],
    )
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _seasonal_baseline

    got = {r.event_id: r for r in spark.sql(_seasonal_baseline(SPARK)).collect()}
    assert got[1].seasonal_dev == pytest.approx(-1.0) and got[1].n_cell == 2
    assert got[2].seasonal_dev == pytest.approx(1.0)
    assert got[3].seasonal_dev == pytest.approx(0.0) and got[3].n_cell == 1


def test_token_budget_mixture_greedy_prefix(hand_views):
    spark = hand_views
    # one source, budget 800: doc 2 (distinct ratio 1.0, 500 toks) is taken
    # first, then doc 3 (ratio 0.5, 300 toks) fills to 800; doc 1 (ratio
    # 0.25, repetitive) would overflow and is dropped despite fitting alone.
    docs = [
        (1, " ".join(["w"] * 7 + ["x"])),   # 8 toks, ratio 0.25 — decoy
        (2, " ".join(f"u{i}" for i in range(500))),          # ratio 1.0
        (3, " ".join(f"v{i % 150}" for i in range(300))),    # ratio 0.5
    ]
    spark.createDataFrame(
        [(d, t, "s0") for d, t in docs], "doc_id long, text string, source string"
    ).createOrReplaceTempView("documents")
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _token_budget_mixture

    rows = spark.sql(_token_budget_mixture(SPARK)).collect()
    assert [(r.doc_id, r.cum_tokens) for r in rows] == [(2, 500), (3, 800)]


def test_hits_hand_graph_matches_replica(hand_views):
    spark = hand_views
    # u1: a->b, b->b ; u2: a->b, b->a  =>  w(a->b)=2, w(b->b)=1, w(b->a)=1
    _mk_user_events(
        spark,
        [
            (1, 10, 1, "a", None), (2, 20, 1, "b", None), (3, 30, 1, "b", None),
            (4, 10, 2, "a", None), (5, 20, 2, "b", None), (6, 30, 2, "a", None),
        ],
    )
    from rugpull_data_pipeline_spark.plans.mlprep_ops import graph_hits_power3

    got = {
        r.event_type: (r.authority, r.hub)
        for r in graph_hits_power3(spark, "unused").collect()
    }
    edges = {("a", "b"): 2.0, ("b", "b"): 1.0, ("b", "a"): 1.0}
    nodes = ["a", "b"]
    h = {v: 0.5 for v in nodes}
    for _ in range(3):
        a = {
            v: sum(w * h[s] for (s, t), w in edges.items() if t == v)
            for v in nodes
        }
        na = sum(a.values())
        a = {v: a[v] / na for v in nodes}
        hh = {
            v: sum(w * a[t] for (s, t), w in edges.items() if s == v)
            for v in nodes
        }
        nh = sum(hh.values())
        h = {v: hh[v] / nh for v in nodes}
    for v in nodes:
        assert got[v][0] == pytest.approx(a[v], abs=2e-6)
        assert got[v][1] == pytest.approx(h[v], abs=2e-6)
    # b receives the bulk of the flow; a only emits
    assert got["b"][0] > got["a"][0]
    assert got["a"][1] > 0.0
