"""Edge-semantics unit tests for the round-5 training-data operators on
tiny hand-built frames (oracle parity is covered for every query by
test_correctness_oracle; these pin the boundary behaviors a hash-compare
could only reveal indirectly)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.plans.traindata_ops import (
    _skew_advisor,
    _boilerplate,
    _category_encode,
    _group_holdout,
    _incremental,
    _moments,
    _rebalance,
    _running_distinct,
    _target_encode,
)
from tests.helpers import DOCS_N, hand_table, _mk_docs, _mk_events

_DOCS = "doc_id long, text string, source string"


def test_boilerplate_df_threshold_is_inclusive_and_tail_segment_counts(hand):
    # "a b c d" appears in exactly 5 docs (== _BOILER_DF -> boilerplate);
    # each doc's second segment is unique (not boilerplate). Doc 9 has a
    # 5-word text: a full segment plus a 1-word tail segment.
    rows = [(i, f"a b c d u{i} x y z{i}", "src1") for i in range(5)]
    rows += [(5 + i, f"e f g h p q r s{i}", "src1") for i in range(4)]
    rows += [(9, "m n o p q", "src1")]
    _mk_docs(hand, rows, _DOCS)
    got = {r.doc_id: r for r in hand.sql(_boilerplate(SPARK)).collect()}
    assert got[0].n_segments == 2 and got[0].n_boilerplate == 1
    assert got[0].boiler_frac == pytest.approx(0.5)
    assert got[5].n_boilerplate == 0  # df=4 is below the threshold
    assert got[9].n_segments == 2 and got[9].n_boilerplate == 0


def test_incremental_dedup_excludes_base_and_keeps_first_in_snapshot(hand):
    _mk_docs(
        hand,
        [
            (1, "X", "src1"),  # base corpus
            (10, "X", "src10"),  # snapshot dup of base -> dropped
            (11, "Y", "src10"),  # first Y in snapshot -> kept
            (12, "Y", "src11"),  # later Y -> dropped
            (13, "Z", "src12"),  # new -> kept
        ],
        _DOCS,
    )
    got = [r.doc_id for r in hand.sql(_incremental(SPARK)).collect()]
    assert got == [11, 13]


def test_target_encode_loo_excludes_self_and_singleton_falls_to_gmean(hand):
    rows = [
        (1, 10, 1, "a", 1.0),
        (2, 20, 1, "a", 2.0),
        (3, 30, 1, "a", 3.0),
        (4, 40, 2, "b", 10.0),
    ]
    _mk_events(hand, rows)
    got = {r.event_id: r for r in hand.sql(_target_encode(SPARK)).collect()}
    assert got[1].te_loo == pytest.approx(2.5)  # (2+3)/2, own value excluded
    assert got[4].te_loo is None  # singleton class has no LOO estimate
    # singleton smoothing: (10-10 + 10*gmean)/(0+10) == gmean == 16/4
    assert got[4].te_smooth == pytest.approx(4.0)


def test_class_rebalance_downsamples_every_type_to_minority_count(hand):
    rows = [(i, 10 * i, 1, "a", 1.0) for i in range(5)]
    rows += [(100 + i, 10 * i, 1, "b", 1.0) for i in range(2)]
    _mk_events(hand, rows)
    out = hand.sql(_rebalance(SPARK)).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append(r.sample_rank)
    assert sorted(by_type["a"]) == [1, 2]
    assert sorted(by_type["b"]) == [1, 2]


def test_triangles_counted_once_and_hot_group_is_capped_out(hand):
    # users 1,2,3 co-occur in ('click', hour 0) -> one triangle; users 4,5
    # share a group (edge, no triangle); a 41-user 'view' group exceeds
    # _GRP_CAP=40 and must contribute nothing.
    rows = [(i, 10 + i, u, "click", 1.0) for i, u in enumerate([1, 2, 3])]
    rows += [(10 + i, 20 + i, u, "buy", 1.0) for i, u in enumerate([4, 5])]
    rows += [(100 + i, 30 + i, 1000 + i, "view", 1.0) for i in range(41)]
    _mk_events(hand, rows)
    got = {r.user_id: r.n_triangles
           for r in registry.get("graph_triangle_count")
                    .builder(hand, "unused").collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_psi_zero_for_identical_halves_and_positive_for_shift(hand):
    rows = []
    eid = 0
    # 'same': identical bin counts on an even day (day 0) and an odd day
    # (day 1) -> every (pa - pb) term is exactly 0.
    for day in (0, 1):
        for v in (5.0, 15.0, 15.0, 95.0):
            eid += 1
            rows.append((eid, 86400 * day + eid, 1, "same", v))
    # 'shift': bin 0 on the even day, bin 9 on the odd day.
    for day, v in ((0, 5.0), (0, 5.0), (1, 95.0), (1, 95.0)):
        eid += 1
        rows.append((eid, 86400 * day + eid, 1, "shift", v))
    _mk_events(hand, rows)
    got = {r.event_type: r for r in registry.get("profile_drift_psi")
                                    .builder(hand, "unused").collect()}
    assert got["same"].psi == pytest.approx(0.0)
    assert got["shift"].psi > 0.5
    assert got["shift"].n_even_days == 2 and got["shift"].n_odd_days == 2


def test_group_holdout_keeps_each_user_in_one_split(hand):
    rows = [(i, 10 * i, i % 7, "click", 1.0) for i in range(40)]
    _mk_events(hand, rows)
    out = hand.sql(_group_holdout(SPARK)).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, set()).add((r.split, r.user_bucket))
        assert (r.split == "test") == (r.user_bucket == 0)
    assert all(len(s) == 1 for s in per_user.values())


def test_minhash_incremental_pairs_cross_corpus_only(hand):
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten"
    _mk_docs(
        hand,
        [
            (1, t1, "src1"),  # base
            (11, t1, "src10"),  # inc clone of base -> pair (11, 1)
            (12, t2, "src11"),  # inc clones of EACH OTHER only:
            (13, t2, "src12"),  # no cross-corpus pair may form
        ],
        _DOCS,
    )
    got = [(r.inc_doc, r.base_doc, r.jaccard)
           for r in registry.get("dedup_minhash_incremental")
                    .builder(hand, "unused").collect()]
    assert got == [(11, 1, 1.0)]


def test_skew_advisor_shares_and_salt(hand):
    rows = [("2024-01-0%d" % (i + 1),) for i in range(4)] + [
        ("2024-02-01",),
        ("2024-02-02",),
    ]
    hand_table(
        hand,
        "lineitem",
        hand.createDataFrame(rows, "l_shipdate string").select(
            F.col("l_shipdate").cast("date")
        ),
    )
    got = {r.part_month: r for r in hand.sql(_skew_advisor(SPARK)).collect()}
    jan, feb = got["2024-01"], got["2024-02"]
    assert jan.n_rows == 4 and feb.n_rows == 2
    assert jan.row_share == pytest.approx(4 / 6, abs=1e-6)
    assert jan.skew_vs_median == pytest.approx(4 / 3, abs=1e-6)
    assert jan.advised_salt == 2 and feb.advised_salt == 1


def test_markov_stationary_power3_matches_hand_fold(hand):
    # One user, sequence a a a a b a: P(a->a)=3/4, P(a->b)=1/4, P(b->a)=1.
    # Folding x0=(.5,.5) three times by hand: a=0.8046875, b=0.1953125.
    seq = ["a", "a", "a", "a", "b", "a"]
    rows = [(i, 10 * i, 1, t, 1.0) for i, t in enumerate(seq)]
    _mk_events(hand, rows)
    got = {r.event_type: r.stationary_w
           for r in registry.get("events_markov_stationary")
                    .builder(hand, "unused").collect()}
    assert got["a"] == pytest.approx(0.8046875, abs=2e-6)
    assert got["b"] == pytest.approx(0.1953125, abs=2e-6)


def test_running_distinct_counts_first_touches_only(hand):
    rows = [
        (1, 10, 1, "a", 1.0),
        (2, 20, 1, "b", 1.0),
        (3, 30, 1, "a", 1.0),  # repeat: count stays
        (4, 40, 1, "c", 1.0),
        (5, 15, 2, "a", 1.0),  # other user independent
    ]
    _mk_events(hand, rows)
    got = {r.event_id: r.distinct_types_so_far for r in hand.sql(_running_distinct(SPARK)).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 3, 5: 1}


def test_category_encode_rolls_tail_to_other_with_count_encoding(hand):
    rows = []
    eid = 0
    for t, n in (("w", 3), ("x", 2), ("y", 2), ("z", 1)):
        for _ in range(n):
            eid += 1
            rows.append((eid, 10 * eid, 1, t, 1.0))
    _mk_events(hand, rows)
    out = hand.sql(_category_encode(SPARK)).collect()
    feats = {r.event_id: (r.feature_name, r.count_enc) for r in out}
    assert feats[1] == ("w", 3)
    assert feats[4] == ("x", 2)
    assert feats[8] == ("other", 1)  # 'z' rolls up but keeps its own count


def test_benford_digit_extraction_and_shares(hand):
    # all-digit-1 values (1.00, 10.50, 199.99, 0.01 -> cents 1) and one
    # zero/negative row that must be excluded entirely
    rows = [
        (1, 10, 1, "a", 1.00),
        (2, 20, 1, "a", 10.50),
        (3, 30, 1, "a", 199.99),
        (4, 40, 1, "a", 0.01),  # first significant digit of 0.01 is 1
        (5, 50, 1, "a", 0.0),  # excluded: not > 0
        (6, 60, 1, "b", 0.05),  # digit 5 via cents rendering
    ]
    _mk_events(hand, rows)
    from rugpull_data_pipeline_spark.plans.traindata_ops import _benford

    got = {r.event_type: r for r in hand.sql(_benford(SPARK)).collect()}
    assert got["a"].n_pos == 4
    assert got["a"].digit1_share == pytest.approx(1.0)
    assert got["a"].chi_square > 0  # all mass on one digit != Benford
    assert got["b"].digit1_share == pytest.approx(0.0)  # no digit-1 values


def test_moments_symmetric_series_and_zero_variance_guard(hand):
    rows = [(i, 10 * i, 1, "sym", v) for i, v in enumerate([-2.0, -1.0, 1.0, 2.0])]
    rows += [(100 + i, 10 * i, 1, "flat", 7.0) for i in range(3)]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_moments(SPARK)).collect()}
    sym = got["sym"]
    assert sym.mean_value == pytest.approx(0.0)
    assert sym.var_pop == pytest.approx(2.5)
    assert sym.skewness_pop == pytest.approx(0.0)
    assert sym.excess_kurtosis == pytest.approx(8.5 / 6.25 - 3.0)
    flat = got["flat"]
    assert flat.var_pop == pytest.approx(0.0)
    assert flat.skewness_pop is None and flat.excess_kurtosis is None


def test_logreg_gd3_matches_python_replica(hand):
    # Separable-ish fixture: long docs are 'en', short ones are not.
    rows = []
    for i in range(8):
        long = i % 2 == 0
        rows.append(
            (
                i,
                ("w " * (40 if long else 4)).strip(),
                "en" if long else "de",
                40 * 2 if long else 4 * 2,
            )
        )
    _mk_docs(hand, rows, "doc_id long, text string, lang string, n_chars long")

    from rugpull_data_pipeline_spark.plans.traindata_ops import _LR_ITERS

    got = registry.get("mlprep_logreg_gd3").builder(hand, "unused").collect()[0]

    # Python replica of the exact quantized fold.
    import decimal
    import math

    def q6(x):
        return decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )

    feats = []
    for i in range(8):
        long = i % 2 == 0
        ntok = 40.0 if long else 4.0
        ndis = 1.0  # all tokens are 'w'
        feats.append(
            (
                1.0 if long else 0.0,
                (80.0 if long else 8.0) / 1000.0,
                ntok / 100.0,
                ndis / max(ntok, 1.0),
            )
        )
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(_LR_ITERS):
        sums = [decimal.Decimal(0)] * 4
        for y, x1, x2, x3 in feats:
            z = w[0] + w[1] * x1 + w[2] * x2 + w[3] * x3
            p = 1.0 / (1.0 + math.exp(-z))
            for j, x in enumerate((1.0, x1, x2, x3)):
                sums[j] += q6((y - p) * x)
        w = [float(q6(w[j] + float(sums[j]) / 8.0)) for j in range(4)]
    assert [got.w0, got.w1, got.w2, got.w3] == w
    # separation direction: longer docs are 'en', so the length weights
    # must come out positive and the distinct-ratio weight negative
    assert got.w2 > 0 and got.w3 < 0
    assert got.n_rows == 8


def test_km_survival_with_censoring_hand_values(hand):
    # 4 users view at t=0; u1 purchases at 60 s (bucket 1), u2 at 120 s
    # (bucket 2), u3/u4 never purchase -> censored at the horizon (120 s,
    # bucket 2; still at risk through bucket 2 but not events).
    rows = [
        (1, 0, 1, "view", 1.0),
        (2, 0, 2, "view", 1.0),
        (3, 0, 3, "view", 1.0),
        (4, 0, 4, "view", 1.0),
        (5, 60, 1, "purchase", 9.0),
        (6, 120, 2, "purchase", 9.0),
    ]
    _mk_events(hand, rows)
    got = {r.t_minutes: r for r in registry.get("events_survival_km")
                                   .builder(hand, "unused").collect()}
    assert got[1].n_at_risk == 4 and got[1].n_events == 1
    assert got[1].km_survival == pytest.approx(0.75, abs=1e-6)
    assert got[2].n_at_risk == 3 and got[2].n_events == 1
    assert got[2].km_survival == pytest.approx(0.5, abs=1e-6)


def test_dataset_card_dup_rate_and_ttr(hand):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _dataset_card

    _mk_docs(
        hand,
        [
            (1, "a b c d", "en", "s0", 7),
            (2, "a b c d", "en", "s0", 7),   # exact dup of doc 1
            (3, "a a b b", "en", "s0", 7),   # 4 tokens, 2 distinct
            (4, "x y", "de", "s1", 3),
        ],
        DOCS_N,
    )
    got = {(r.lang, r.source): r
           for r in hand.sql(_dataset_card(SPARK)).collect()}
    en = got[("en", "s0")]
    assert (en.n_docs, en.n_unique_texts) == (3, 2)
    assert en.exact_dup_rate == pytest.approx(1 / 3, abs=1e-6)
    assert en.n_tokens_total == 12
    # vocab sums per doc: 4 + 4 + 2 = 10 -> TTR 10/12.
    assert en.type_token_ratio == pytest.approx(10 / 12, abs=1e-6)
    de = got[("de", "s1")]
    assert (de.n_docs, de.exact_dup_rate) == (1, 0.0)


def test_dsir_prefers_target_like_docs(hand):
    # target (en) speaks {alpha, beta}; raw pool speaks {gamma, delta}.
    # The candidate written in target-ish words must outrank the raw-ish one.
    docs = [
        (1, "alpha beta alpha beta", "en", "s", 20),
        (2, "alpha beta beta alpha", "en", "s", 20),
        (3, "gamma delta gamma delta", "de", "s", 20),
        (4, "gamma delta delta gamma", "de", "s", 20),
        (5, "alpha beta alpha beta", "fr", "s", 20),  # target-like candidate
        (6, "gamma delta gamma delta", "fr", "s", 20),  # raw-like candidate
    ]
    _mk_docs(hand, docs, DOCS_N)
    rows = registry.get("sample_dsir_selection").builder(hand, "unused").collect()
    ranks = {r.doc_id: i for i, r in enumerate(rows)}
    # all four non-en docs scored; doc 5 strictly above doc 6.
    assert set(ranks) == {3, 4, 5, 6}
    assert ranks[5] < ranks[6]
    imp = {r.doc_id: r.importance for r in rows}
    assert imp[5] > 0 > imp[6]
