"""Edge-semantics unit tests for the round-5 eval/statistics operators on
tiny hand-built frames (oracle parity is covered for every query by
test_correctness_oracle; these pin the hand-computable boundary values a
hash-compare could only reveal indirectly)."""

from __future__ import annotations

import math

import pytest

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.plans.stats_eval import (
    _auc,
    _ks_drift,
    _stump,
    _zipf,
)
from tests.helpers import DOCS_N, _mk_docs, _mk_embeddings, _mk_events, _q9_then_dec6


def test_auc_perfect_separation_and_tie_correction(hand):
    # Perfect: both positives above every negative.
    _mk_events(
        hand,
        [
            (1, 10, 1, "click", 1.0),
            (2, 20, 1, "click", 2.0),
            (3, 30, 1, "purchase", 3.0),
            (4, 40, 1, "purchase", 4.0),
        ],
    )
    row = hand.sql(_auc(SPARK)).collect()[0]
    assert (row.n_pos, row.n_neg, row.auc) == (2, 2, 1.0)
    # Tie at 1.0: average-rank correction gives 0.75, not 0.5 or 1.0.
    _mk_events(
        hand,
        [
            (1, 10, 1, "click", 1.0),
            (2, 20, 1, "purchase", 1.0),
            (3, 30, 1, "purchase", 2.0),
        ],
    )
    row = hand.sql(_auc(SPARK)).collect()[0]
    assert (row.n_pos, row.n_neg, row.auc) == (2, 1, 0.75)


def test_ks_zero_on_identical_halves_and_one_on_disjoint(hand):
    # 'click': identical value multisets on even day 0 and odd day 1 -> 0.
    # 'error': disjoint supports -> 1.
    rows = [
        (1, 100, 1, "click", 5.0),
        (2, 200, 1, "click", 7.0),
        (3, 86400 + 100, 1, "click", 5.0),
        (4, 86400 + 200, 1, "click", 7.0),
        (5, 300, 1, "error", 1.0),
        (6, 86400 + 300, 1, "error", 9.0),
    ]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_ks_drift(SPARK)).collect()}
    assert got["click"].ks_stat == 0.0
    assert got["error"].ks_stat == 1.0
    assert (got["error"].n_even_days, got["error"].n_odd_days) == (1, 1)


def test_stump_finds_zero_error_split_and_breaks_ties_low(hand):
    _mk_events(
        hand,
        [
            (1, 10, 1, "click", 1.0),
            (2, 20, 1, "click", 2.0),
            (3, 30, 1, "purchase", 9.0),
            (4, 40, 1, "purchase", 10.0),
        ],
    )
    row = hand.sql(_stump(SPARK)).collect()[0]
    assert row.misclassified == 0 and row.accuracy == 1.0
    # ties on error count resolve to the SMALLEST threshold: with all
    # labels equal every split has 0 errors -> lowest cents value wins.
    _mk_events(hand, [(i, 10 * i, 1, "click", float(i)) for i in range(1, 4)])
    row = hand.sql(_stump(SPARK)).collect()[0]
    assert row.misclassified == 0 and row.threshold_cents == 100


def test_chi2_zero_for_independent_uniform_grid(hand):
    rows = []
    i = 0
    for lang in ("en", "fr"):
        for src in ("s1", "s2"):
            for _ in range(3):  # perfectly balanced 2x2 -> independence
                rows.append((i, "w", lang, src))
                i += 1
    _mk_docs(hand, rows)
    row = registry.get("agg_chi2_independence").builder(hand, "unused").collect()[0]
    assert row.chi2 == 0.0 and row.dof == 1 and row.n_docs == 12


def test_adamic_adar_weights_and_degree_floor(hand):
    # users 1,2 connect {a,b} (deg 2); user 3 touches only a (deg 1 ->
    # contributes nothing); expected score = 2 * round6(1/ln 2).
    rows = [
        (1, 10, 1, "a", 1.0),
        (2, 20, 1, "b", 1.0),
        (3, 30, 2, "a", 1.0),
        (4, 40, 2, "b", 1.0),
        (5, 50, 3, "a", 1.0),
    ]
    _mk_events(hand, rows)
    out = registry.get("graph_adamic_adar").builder(hand, "unused").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b, r.common_users) == ("a", "b", 2)
    assert r.adamic_adar == pytest.approx(2 * round(1 / math.log(2), 6), abs=1e-9)


def test_naive_bayes_separable_vocab_gives_diagonal_confusion(hand):
    _mk_docs(
        hand,
        [
            (0, "aa aa", "en", "s1"),  # train (even doc_id)
            (2, "bb bb", "fr", "s1"),  # train
            (1, "aa", "en", "s1"),  # test (odd doc_id)
            (3, "bb", "fr", "s1"),  # test
        ],
    )
    got = {(r.actual_lang, r.pred_lang): r.n_docs
           for r in registry.get("mlprep_naive_bayes")
                    .builder(hand, "unused").collect()}
    assert got == {("en", "en"): 1, ("fr", "fr"): 1}


def test_zipf_slope_is_minus_one_for_exact_power_law(hand):
    # token counts 6, 3, 2 = 6/rank for ranks 1..3 -> slope exactly -1.
    text = " ".join(["t1"] * 6 + ["t2"] * 3 + ["t3"] * 2)
    _mk_docs(hand, [(0, text, "en", "s1")])
    row = hand.sql(_zipf(SPARK)).collect()[0]
    assert row.n_terms == 3
    assert row.zipf_slope == pytest.approx(-1.0, abs=1e-4)
    assert row.intercept == pytest.approx(math.log(6), abs=1e-4)


def test_pca_single_varying_dim_gets_unit_loading(hand):
    rows = [(i, [float(i + 1)] + [0.0] * 63, 0) for i in range(4)]
    _mk_embeddings(hand, rows)
    res = {
        r.dim: r.loading
        for r in registry.get("sim_pca_power1").builder(hand, "unused").collect()
    }
    assert res[0] == pytest.approx(1.0, abs=1e-6)
    assert all(abs(res[d]) < 1e-9 for d in range(1, 64))


def test_threshold_sweep_confusion_counts_exact(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _threshold_sweep
    # positives at 60.00 and 260.00; negatives at 40.00 and 110.00.
    _mk_events(
        hand,
        [
            (1, 10, 1, "click", 40.0),
            (2, 20, 1, "purchase", 60.0),
            (3, 30, 1, "click", 110.0),
            (4, 40, 1, "purchase", 260.0),
        ],
    )
    got = {r.threshold_cents: r for r in hand.sql(_threshold_sweep(SPARK)).collect()}
    assert len(got) == 5
    r50 = got[5000]
    assert (r50.tp, r50.fp, r50.fn) == (2, 1, 0)
    assert r50.recall_ == 1.0
    r250 = got[25000]
    assert (r250.tp, r250.fp, r250.fn) == (1, 0, 1)
    assert r250.precision_ == 1.0 and r250.recall_ == 0.5
    # F1 = 2pr/(p+r) = 2*1*0.5/1.5
    assert r250.f1 == pytest.approx(2 / 3, abs=1e-6)


def test_neyman_allocation_prefers_high_variance_strata(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _neyman
    # 'click': constant values (sd 0 -> allocation 0);
    # 'error': same count, wide spread -> gets the whole budget.
    rows = [(i, 10 * i, 1, "click", 5.0) for i in range(4)]
    rows += [(10 + i, 10 * i, 1, "error", float(100 * i)) for i in range(4)]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_neyman(SPARK)).collect()}
    assert got["click"].std_pop == 0.0 and got["click"].alloc_n == 0
    assert got["error"].alloc_n == 100


def test_ann_recall_bounded_and_exact_k(spark):
    from rugpull_data_pipeline_spark.plans import registry
    df = registry.get("audit_ann_recall").builder(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(df) == 5  # one row per query vector
    assert (df.k_exact == 10).all()
    assert ((df.recall_at_10 >= 0) & (df.recall_at_10 <= 1)).all()
    assert (df.hits <= df.k_exact).all()


def test_quantile_bins_are_equal_frequency_and_tie_atomic(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _quantile_bins
    # 8 rows, k=4 -> 2 per bin; the tie block of four 5.0s must land
    # whole in ONE bin (bin of its first position).
    rows = [(i, 10 * i, 1, "click", float(v))
            for i, v in enumerate([1, 2, 5, 5, 5, 5, 9, 10])]
    _mk_events(hand, rows)
    got = {r.bin: r for r in hand.sql(_quantile_bins(SPARK)).collect()}
    assert got[0].n_rows == 2 and got[0].hi_cents == 200
    assert got[1].n_rows == 4  # the whole tie block
    assert got[1].lo_cents == got[1].hi_cents == 500
    assert got[3].n_rows == 2 and got[3].lo_cents == 900
    assert 2 not in got  # positions 2..5 all in bin 1 -> bin 2 empty


def test_mutual_info_zero_when_independent_and_nmi_one_when_equal(hand):
    rows, i = [], 0
    for lang in ("en", "fr"):
        for src in ("s1", "s2"):
            rows.append((i, "w", lang, src)); i += 1
    _mk_docs(hand, rows)
    row = registry.get("agg_mutual_info").builder(hand, "unused").collect()[0]
    assert row.mi_nats == 0.0 and row.nmi == 0.0
    # perfectly dependent: source determined by lang -> NMI = 1.
    _mk_docs(hand, [(0, "w", "en", "s1"), (1, "w", "en", "s1"),
                     (2, "w", "fr", "s2"), (3, "w", "fr", "s2")])
    row = registry.get("agg_mutual_info").builder(hand, "unused").collect()[0]
    assert row.nmi == pytest.approx(1.0, abs=1e-6)
    assert row.mi_nats == pytest.approx(math.log(2), abs=1e-5)


def test_ab_ztest_zero_when_rates_equal(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _ab_ztest
    rows = [
        (1, 100, 1, "purchase", 1.0),
        (2, 200, 1, "click", 1.0),
        (3, 86400 + 100, 1, "purchase", 1.0),
        (4, 86400 + 200, 1, "click", 1.0),
    ]
    _mk_events(hand, rows)
    row = hand.sql(_ab_ztest(SPARK)).collect()[0]
    assert (row.n1, row.k1, row.n2, row.k2) == (2, 1, 2, 1)
    assert row.z_score == 0.0 and row.rate_a == 0.5


def test_label_prop_merges_connected_clique_to_min_label(hand):
    # users 1,2,3 co-occur in one (type, hour) group -> triangle; users
    # 8,9 in another. After 2 rounds each clique converges to its min id.
    rows = [(i, 100 + i, u, "a", 1.0) for i, u in enumerate([1, 2, 3])]
    rows += [(10 + i, 7200 + i, u, "b", 1.0) for i, u in enumerate([8, 9])]
    _mk_events(hand, rows)
    got = {r.community: r.n_members for r in registry.get("graph_label_prop2")
                                             .builder(hand, "unused").collect()}
    assert got == {1: 3, 8: 2}


def test_multiprobe_recall_dominates_home_bucket(spark):
    """Probing Hamming-1 neighbors can only ADD candidates, so multi-probe
    recall is >= home-bucket recall for every query."""
    from rugpull_data_pipeline_spark.plans import registry

    df = registry.get("audit_multiprobe_recall").builder(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(df) == 5
    assert (df.hits_multi >= df.hits_home).all()
    assert ((df.recall_multi >= 0) & (df.recall_multi <= 1)).all()


def test_whiten_rerank_removes_common_direction(hand):
    # All vectors share a big component on dim 0 (the anisotropic common
    # direction) plus a small id-specific signal on dim 1+vec_id%2.
    # Raw cosine would rank everything ~1; after deflating the top PC the
    # parity-mates (same signal dim) must outrank the others.
    rows = []
    for i in range(6):
        v = [10.0] + [0.0] * 63
        v[1 + i % 2] += 1.0
        rows.append((i, v, 0))
    _mk_embeddings(hand, rows)
    out = registry.get("sim_whiten_rerank").builder(hand, "unused").collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, lst in by_q.items():
        mates = {v for v in range(6) if v % 2 == q % 2 and v != q}
        top = {r.vec_id for r in lst if r.rnk <= len(mates)}
        assert top == mates, f"query {q}: {top} != {mates}"


def test_spearman_perfect_monotone_and_inverse(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _spearman
    # frequency and spend rise together across users -> rho = 1.
    rows = []
    eid = 0
    for u in range(1, 5):
        for _ in range(u):  # user u has u events of value 10*u
            rows.append((eid, 100 * eid, u, "click", 10.0 * u)); eid += 1
    _mk_events(hand, rows)
    row = hand.sql(_spearman(SPARK)).collect()[0]
    assert row.n_users == 4 and row.spearman_rho == 1.0
    # invert the spend ordering (per-event value falls faster than the
    # event count rises, so total spend strictly decreases) -> rho = -1.
    rows = []
    eid = 0
    for u in range(1, 5):
        for _ in range(u):
            rows.append((eid, 100 * eid, u, "click", 10.0 / (u * u))); eid += 1
    _mk_events(hand, rows)
    row = hand.sql(_spearman(SPARK)).collect()[0]
    assert row.spearman_rho == -1.0


def test_winsorized_mean_clamps_outlier(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _winsorized
    # nine 10.00s and one 1000.00: p90 cut clamps the spike to 10.00.
    rows = [(i, 10 * i, 1, "click", 10.0) for i in range(9)]
    rows.append((9, 90, 1, "click", 1000.0))
    _mk_events(hand, rows)
    row = hand.sql(_winsorized(SPARK)).collect()[0]
    assert row.p10_cents == 1000 and row.p90_cents == 1000
    assert row.winsorized_mean == 10.0
    assert row.raw_mean == pytest.approx(109.0)


def test_interarrival_gaps_exact(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _interarrival
    rows = [(i, t, 1, "click", 1.0) for i, t in enumerate([0, 10, 30, 70])]
    _mk_events(hand, rows)
    row = hand.sql(_interarrival(SPARK)).collect()[0]
    assert (row.n_gaps, row.min_gap_s, row.max_gap_s) == (3, 10, 40)
    assert row.median_gap_s == 20
    assert row.mean_gap_s == pytest.approx(70 / 3, abs=1e-5)


def test_calibration_bins_diagonal(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _calibration
    # cents 0..9, max m=9 -> bin = 10*s div 10 = s; purchases at s >= 5.
    rows = [
        (i, 10 * i, 1, "purchase" if i >= 5 else "click", i / 100.0)
        for i in range(10)
    ]
    _mk_events(hand, rows)
    got = {r.bin: r for r in hand.sql(_calibration(SPARK)).collect()}
    assert sorted(got) == list(range(10))
    assert got[0].pos_rate == 0.0 and got[9].pos_rate == 1.0
    assert got[9].mean_pred == 1.0  # 9/9
    assert got[3].mean_pred == pytest.approx(3 / 9, abs=1e-6)
    assert all(got[b].n_events == 1 for b in got)


def test_ndcg_perfect_vs_inverted(hand):
    rich = " ".join(f"w{i}" for i in range(16))  # 16 distinct -> rel 2
    poor = "x x x x"  # 1 distinct -> rel 0
    # Length agrees with richness -> system order == ideal order -> NDCG 1.
    _mk_docs(
        hand,
        [(1, rich, "en", "s", 100), (2, poor, "en", "s", 10)],
        DOCS_N,
    )
    row = registry.get("eval_ndcg_ranking").builder(hand, "unused").collect()[0]
    assert row.ndcg_at_10 == 1.0 and row.dcg_at_10 == row.idcg_at_10
    # Invert the lengths: the rel-2 doc now ranks second -> NDCG < 1.
    _mk_docs(
        hand,
        [(1, rich, "en", "s", 10), (2, poor, "en", "s", 100)],
        DOCS_N,
    )
    row = registry.get("eval_ndcg_ranking").builder(hand, "unused").collect()[0]
    assert row.ndcg_at_10 < 1.0
    # hand value: dcg = 0/log2(2) + 3/log2(3), idcg = 3/log2(2) = 3.
    expect = (3 / math.log2(3)) / 3.0
    assert row.ndcg_at_10 == pytest.approx(expect, abs=1e-5)


def test_freq_of_freq_good_turing(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _freq_of_freq
    _mk_docs(hand, [(1, "a a a b b c", "en", "s", 11)], DOCS_N)
    got = {r.r: r for r in hand.sql(_freq_of_freq(SPARK)).collect()}
    assert sorted(got) == [1, 2, 3]
    assert all(got[r].n_types == 1 for r in got)
    assert got[1].gt_adjusted_r == 2.0  # (1+1)*N2/N1
    assert got[2].gt_adjusted_r == 3.0
    assert got[3].gt_adjusted_r is None  # no N_4 band
    assert got[3].mass_share == 0.5  # 3 of 6 occurrences


def test_theil_sen_ignores_outlier_day(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _theil_sen
    # days 0..2 rise exactly 1.00/day; day 3 is a 100x outlier.
    rows = [
        (0, 0, 1, "click", 1.0),
        (1, 86400, 1, "click", 2.0),
        (2, 2 * 86400, 1, "click", 3.0),
        (3, 3 * 86400, 1, "click", 100.0),
    ]
    _mk_events(hand, rows)
    row = hand.sql(_theil_sen(SPARK)).collect()[0]
    assert (row.n_days, row.n_pairs) == (4, 6)
    # sorted slopes (cents/day): 100,100,100,3250,4850,9700 -> lower
    # median (rank 3) = 100 -> 1.00 per day in value units.
    assert row.ts_slope_per_day == 1.0


def test_pettitt_finds_level_shift(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _pettitt
    # 4 low days then 4 high days: the split must land on day index 3
    # (the last low day), with the maximal possible U for n=8.
    rows = []
    for i in range(8):
        v = 1.0 if i < 4 else 100.0
        rows.append((i, i * 86400, 1, "click", v))
    _mk_events(hand, rows)
    row = hand.sql(_pettitt(SPARK)).collect()[0]
    assert (row.n_days, row.change_day_idx) == (8, 3)
    # ranks of the low block are 1..4 (doubled 2,4,6,8 with no ties ->
    # r2 = 2*rank); U_4 = sum(2*ranks) - 4*(8+1) = 20 - 36 = -16.
    assert row.k_stat == 16
    assert 0.0 < row.p_approx < 0.2


def test_cohens_kappa_bounds_and_perfect_agreement(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _cohens_kappa
    rich = " ".join(f"w{i}" for i in range(20))  # 20 distinct words
    poor = "x y"
    # Gates agree on both docs (long+rich kept, short+poor dropped) -> 1.0.
    _mk_docs(
        hand, [(1, rich, "en", "s", 200), (2, poor, "en", "s", 5)],
        DOCS_N
    )
    row = hand.sql(_cohens_kappa(SPARK)).collect()[0]
    assert row.n_docs == 2
    assert row.observed_agree == 1.0 and row.kappa == 1.0
    # Gates split 2x2 across four docs -> zero agreement beyond chance is
    # impossible here: they DISAGREE on every doc -> kappa = -1.
    _mk_docs(
        hand,
        [
            (1, rich, "en", "s", 5),   # B keep, A drop
            (2, poor, "en", "s", 200),  # A keep, B drop
            (3, rich, "en", "s", 10),
            (4, poor, "en", "s", 300),
        ],
        DOCS_N,
    )
    row = hand.sql(_cohens_kappa(SPARK)).collect()[0]
    assert row.observed_agree == 0.0
    assert row.kappa == -1.0


def test_modularity_two_cliques(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _lpa_labels, _modularity

    # Two disjoint triangles via an explicit edge list: LPA labels each
    # clique by its smallest node; modularity of the perfect split is
    # Q = 2 * (3/6 - (6/12)^2) = 0.5.
    edges = "SELECT * FROM (VALUES (1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12)) AS t(u, v)"
    rows = hand.sql(_modularity(SPARK, edges, _lpa_labels(SPARK, edges))).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.n_members == 3
        assert r.intra_edges == 3 and r.degree_sum == 6
        assert r.q_contrib == 0.25
        assert r.q_total == 0.5


# ---------------------------------------------------------------------------
# Property-based brute-force cross-checks (hypothesis) for the rank family
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _avg_ranks(vals):
    """1-based tie-corrected average ranks, DOUBLED (exact integers)."""
    out = []
    for v in vals:
        lt = sum(1 for x in vals if x < v)
        eq = sum(1 for x in vals if x == v)
        out.append(2 * lt + eq + 1)
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.integers(0, 500), min_size=4, max_size=9))
def test_pettitt_matches_bruteforce(hand, daily_cents):
    from rugpull_data_pipeline_spark.plans.stats_eval import _pettitt

    rows = [
        (i, i * 86400, 1, "click", c / 100.0) for i, c in enumerate(daily_cents)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_pettitt(SPARK)).collect()[0]
    # brute force on the SAME floored-cents series the SQL sees
    import math
    cents = [math.floor((c / 100.0) * 100.0) for c in daily_cents]
    n = len(cents)
    r2 = _avg_ranks(cents)
    best = None
    for t in range(1, n):  # split after day t-1 (0-based index t-1)
        ut = sum(r2[: t]) - t * (n + 1)
        cand = (abs(ut), -(t - 1))  # max |U|, tie -> smallest day
        if best is None or cand > best[0]:
            best = (cand, t - 1, abs(ut))
    assert got.n_days == n
    assert got.k_stat == best[2]
    assert got.change_day_idx == best[1]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.integers(0, 1000), min_size=2, max_size=8))
def test_theil_sen_matches_bruteforce(hand, daily_cents):
    from rugpull_data_pipeline_spark.plans.stats_eval import _theil_sen
    import math

    rows = [
        (i, i * 86400, 1, "click", c / 100.0) for i, c in enumerate(daily_cents)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_theil_sen(SPARK)).collect()[0]
    cents = [math.floor((c / 100.0) * 100.0) for c in daily_cents]
    slopes = []
    for i in range(len(cents)):
        for j in range(i + 1, len(cents)):
            slopes.append(((cents[j] - cents[i]) / (j - i), i, j))
    slopes.sort()
    lower_median = slopes[(len(slopes) + 1) // 2 - 1][0]
    assert got.n_pairs == len(slopes)
    assert got.ts_slope_per_day == round(lower_median / 100.0, 6)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.integers(1, 300)),  # (n_events, cents each)
        min_size=2,
        max_size=6,
    )
)
def test_spearman_matches_bruteforce(hand, users):
    from rugpull_data_pipeline_spark.plans.stats_eval import _spearman
    import math

    rows, eid = [], 0
    for uid, (cnt, cents) in enumerate(users, start=1):
        for _ in range(cnt):
            rows.append((eid, 100 * eid, uid, "click", cents / 100.0))
            eid += 1
    _mk_events(hand, rows)
    got = hand.sql(_spearman(SPARK)).collect()[0]
    fs = [cnt for cnt, cents in users]
    ms = [
        sum(math.floor((cents / 100.0) * 100.0) for _ in range(cnt))
        for cnt, cents in users
    ]
    x, y = _avg_ranks(fs), _avg_ranks(ms)
    n = len(users)
    sx, sy = sum(x), sum(y)
    sxy = sum(a * b for a, b in zip(x, y))
    sxx, syy = sum(a * a for a in x), sum(b * b for b in y)
    den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    assert got.n_users == n
    if den == 0:
        assert got.spearman_rho is None
    else:
        expect = round((n * sxy - sx * sy) / math.sqrt(den), 6)
        assert got.spearman_rho == expect


def test_brier_perfect_predictor(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _brier
    rows = [
        (0, 0, 1, "click", 0.0),
        (1, 10, 1, "click", 0.0),
        (2, 20, 1, "purchase", 1.0),
        (3, 30, 1, "purchase", 1.0),
    ]
    _mk_events(hand, rows)
    row = hand.sql(_brier(SPARK)).collect()[0]
    assert (row.n_events, row.n_pos) == (4, 2)
    assert row.brier == 0.0
    assert row.brier_baseline == 0.25
    assert row.brier_skill == 1.0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.sets(
        st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=1,
        max_size=12,
    )
)
def test_modularity_matches_definition(hand, edge_set):
    """Q from the SQL must equal the textbook definition computed in Python
    on the SAME label assignment (2 deterministic LPA rounds, replicated)."""
    from rugpull_data_pipeline_spark.plans.stats_eval import _lpa_labels, _modularity

    edges = sorted(edge_set)
    vals = ", ".join(f"({u}, {v})" for u, v in edges)
    src = f"SELECT * FROM (VALUES {vals}) AS t(u, v)"
    rows = hand.sql(_modularity(SPARK, src, _lpa_labels(SPARK, src))).collect()

    # python replica: 2 synchronous LPA rounds, majority label, min tie
    nodes = sorted({n for e in edges for n in e})
    nbrs = {n: [] for n in nodes}
    for u, v in edges:
        nbrs[u].append(v)
        nbrs[v].append(u)
    lab = {n: n for n in nodes}
    for _ in range(2):
        new = {}
        for n in nodes:
            votes = {}
            for m in nbrs[n] + [n]:
                votes[lab[m]] = votes.get(lab[m], 0) + 1
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        lab = new
    m = len(edges)
    comms = sorted(set(lab.values()))
    q_total = 0.0
    per = {}
    for c in comms:
        mc = sum(1 for u, v in edges if lab[u] == c and lab[v] == c)
        dc = sum(len(nbrs[n]) for n in nodes if lab[n] == c)
        per[c] = (mc, dc)
        q_total += mc / m - (dc / (2 * m)) ** 2
    got_q = {r.community: r for r in rows}
    for c in comms:
        mc, dc = per[c]
        assert got_q[c].intra_edges == mc and got_q[c].degree_sum == dc
    assert rows[0].q_total == pytest.approx(round(q_total, 6), abs=2e-6)


def test_vpin_one_sided_dump_is_toxic(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _vpin
    # monotonically falling prices -> every trade sells -> VPIN = 1.
    rows = [(i, 10 * i, 1, "dump", 10.0 - i * 0.5) for i in range(8)]
    # balanced alternation -> buys and sells cancel within the bucket.
    rows += [
        (100 + i, 10 * i, 1, "calm", 5.0 + (0.5 if i % 2 else -0.5))
        for i in range(8)
    ]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_vpin(SPARK)).collect()}
    # first trade is pinned +1 (1000c buy), the other 7 sell 5600c:
    # |5600 - 1000| / 6600 exactly.
    assert got["dump"].vpin == round(4600 / 6600, 6)
    # calm: alternating signs mostly cancel (buys 450+4*550, sells 3*450
    # -> |1300|/4000 = 0.325) -> far less toxic than the dump.
    assert got["calm"].vpin == 0.325
    assert got["calm"].vpin < got["dump"].vpin
    assert got["calm"].n_buckets >= 1


def test_ljung_box_white_noise_vs_trending(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _ljung_box
    import math
    # strongly trending series: lag-1 autocorrelation near 1, large Q.
    rows = [(i, i * 86400, 1, "trend", float(i + 1)) for i in range(10)]
    # alternating series: lag-1 autocorrelation near -1.
    rows += [
        (100 + i, i * 86400, 1, "alt", 2.0 if i % 2 else 1.0)
        for i in range(10)
    ]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_ljung_box(SPARK)).collect()}
    assert got["trend"].acf1 > 0.5 and got["trend"].q_ljung_box > 5
    assert got["alt"].acf1 < -0.5
    # python replica of the textbook statistic for the trend series
    y = [math.floor(float(i + 1) * 100) for i in range(10)]
    m = sum(y) / len(y)
    den = sum((v - m) ** 2 for v in y)
    n = len(y)
    q = 0.0
    for k in (1, 2, 3):
        num = sum((y[t] - m) * (y[t - k] - m) for t in range(k, n))
        q += (num / den) ** 2 / (n - k)
    q *= n * (n + 2)
    assert got["trend"].q_ljung_box == pytest.approx(q, abs=1e-4)


def test_simpson_flag_on_classic_reversal(hand):
    # classic construction: B beats A inside BOTH strata, but A's traffic
    # concentrates in the easy (high-rate) stratum, so the pooled rate
    # reverses. user parity: even ids = A, odd = B. cents >= 500 = 'high'.
    rows, eid = [], 0

    def add(arm_uid, stratum_value, n, conv):
        nonlocal rows, eid
        for i in range(n):
            et = "purchase" if i < conv else "click"
            rows.append((eid, eid, arm_uid, et, stratum_value))
            eid += 1

    # high stratum: A 80 trials / 60 conv (75%) vs B 20/16 (80%)
    add(2, 9.0, 80, 60)
    add(3, 9.0, 20, 16)
    # low stratum: A 20 trials / 2 conv (10%) vs B 80/16 (20%)
    add(2, 1.0, 20, 2)
    add(3, 1.0, 80, 16)
    _mk_events(hand, rows)
    got = {r.stratum: r for r in registry.get("profile_simpson_paradox")
                                 .builder(hand, "unused").collect()}
    # B wins both strata...
    assert got["high"].dir == -1 and got["low"].dir == -1
    # ...but A wins the pooled comparison (62/100 vs 32/100).
    assert got["TOTAL"].dir == 1
    assert all(r.simpson_flag == 1 for r in got.values())


def test_crosscorr_detects_one_day_lead(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _crosscorr
    va = [5.0, 3.0, 8.0, 1.0, 9.0, 2.0, 7.0, 4.0, 6.0, 10.0, 3.0, 8.0]
    rows = [(i, i * 86400, 1, "a", va[i]) for i in range(12)]
    # b replays a with a one-day delay: b[d] = a[d-1]
    rows += [(100 + i, i * 86400, 1, "b", va[i - 1]) for i in range(1, 13)]
    _mk_events(hand, rows)
    got = {
        (r.type_a, r.type_b, r.lag): r
        for r in hand.sql(_crosscorr(SPARK)).collect()
    }
    assert got[("a", "b", 1)].xcorr_r == 1.0
    assert got[("a", "b", 1)].n_days == 12
    assert abs(got[("a", "b", 0)].xcorr_r) < 0.9


def test_crosscorr_constant_series_nulls_not_errors(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _crosscorr
    rows = [(i, i * 86400, 1, "a", 5.0) for i in range(10)]
    rows += [(100 + i, i * 86400, 1, "b", float(i)) for i in range(10)]
    _mk_events(hand, rows)
    got = {
        (r.type_a, r.type_b, r.lag): r
        for r in hand.sql(_crosscorr(SPARK)).collect()
    }
    # zero variance on the 'a' side -> NULL via nullif, never a /0 error
    assert got[("a", "b", 0)].xcorr_r is None


def test_jsd_source_drift_matches_python_replica(hand):
    import math
    _mk_docs(
        hand,
        [
            (1, "a a b", "en", "s1"),
            (2, "a c c c", "en", "s2"),
        ],
    )
    got = {r.source: r for r in registry.get("profile_jsd_source_drift")
                                .builder(hand, "unused").collect()}
    # s1 vs rest: P = {a:2/3, b:1/3}, Q = (corpus - s1)/(7 - 3)
    p = {"a": 2 / 3, "b": 1 / 3}
    q = {"a": 1 / 4, "b": 0.0, "c": 3 / 4}

    def jsd(pd_, qd_):
        out = 0.0
        for t in set(pd_) | set(qd_):
            pp, qq = pd_.get(t, 0.0), qd_.get(t, 0.0)
            m = (pp + qq) / 2
            if pp > 0:
                out += 0.5 * pp * math.log(pp / m)
            if qq > 0:
                out += 0.5 * qq * math.log(qq / m)
        return out

    assert abs(got["s1"].jsd_vs_rest - jsd(p, q)) < 1e-5
    assert got["s1"].n_tok == 3 and got["s1"].n_types == 2
    # JSD is bounded by ln 2 and non-negative
    for r in got.values():
        assert 0.0 <= r.jsd_vs_rest <= math.log(2) + 1e-9


def test_jsd_identical_distribution_is_zero(hand):
    _mk_docs(
        hand,
        [
            (1, "a b", "en", "s1"),
            (2, "a b", "en", "s2"),
        ],
    )
    got = {r.source: r for r in registry.get("profile_jsd_source_drift")
                                .builder(hand, "unused").collect()}
    assert got["s1"].jsd_vs_rest == 0.0
    assert got["s2"].jsd_vs_rest == 0.0


def test_mann_kendall_monotone_and_flat(hand):
    # strictly increasing: S = n(n-1)/2, tau_b = 1
    rows = [(i, i * 86400, 1, "up", float(i + 1)) for i in range(10)]
    # constant: every pair tied -> tau_b NULL (zero variance), S = 0
    rows += [(100 + i, i * 86400, 1, "flat", 7.0) for i in range(10)]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in registry.get("window_mann_kendall")
                                    .builder(hand, "unused").collect()}
    assert got["up"].s_stat == 45 and got["up"].tau_b == 1.0
    assert got["up"].z_mk > 3.0
    assert got["flat"].s_stat == 0 and got["flat"].tau_b is None


def test_mann_kendall_tie_correction_matches_replica(hand):
    import math
    vals = [1.0, 2.0, 2.0, 3.0, 1.0, 4.0]
    rows = [(i, i * 86400, 1, "x", vals[i]) for i in range(len(vals))]
    _mk_events(hand, rows)
    row = registry.get("window_mann_kendall").builder(hand, "unused").collect()[0]
    v = [math.floor(x * 100) for x in vals]
    n = len(v)
    s = sum(
        (1 if v[j] > v[i] else -1 if v[j] < v[i] else 0)
        for i in range(n) for j in range(i + 1, n)
    )
    n1 = sum(
        1 for i in range(n) for j in range(i + 1, n) if v[i] == v[j]
    )
    n0 = n * (n - 1) // 2
    tau = s / math.sqrt((n0 - n1) * n0)
    assert row.s_stat == s
    assert abs(row.tau_b - round(tau, 6)) < 1e-9
    from collections import Counter
    tv = sum(t * (t - 1) * (2 * t + 5) for t in Counter(v).values() if t > 1)
    var18 = n * (n - 1) * (2 * n + 5) - tv
    z = (s - (1 if s > 0 else -1 if s < 0 else 0)) / math.sqrt(var18 / 18)
    assert abs(row.z_mk - round(z, 6)) < 1e-9


def test_mcnemar_counts_discordant_pairs(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _mcnemar
    # values straddle the two thresholds (500 and 2000 cents):
    #   purchase @ 10.00: A says 1 (right), B says 0 (wrong) -> c
    #   purchase @ 30.00: both right
    #   view     @ 10.00: A says 1 (wrong), B says 0 (right) -> b
    #   view     @  1.00: both say 0 (both right)
    rows = [
        (1, 0, 1, "purchase", 10.0),
        (2, 86400, 1, "purchase", 30.0),
        (3, 2 * 86400, 1, "view", 10.0),
        (4, 3 * 86400, 1, "view", 1.0),
    ]
    _mk_events(hand, rows)
    row = hand.sql(_mcnemar(SPARK)).collect()[0]
    assert row.n == 4
    assert row.b_only_b == 1 and row.c_only_a == 1
    assert row.mcnemar_chi2 == 0.0 and row.mcnemar_cc == 0.0
    assert row.right_a == 3 and row.right_b == 3


def test_heaps_law_matches_python_replica(hand):
    from rugpull_data_pipeline_spark.plans import registry
    import math
    # doc i = "a t{i}": after i docs N = 2i tokens, V = i + 1 types.
    _mk_docs(
        hand,
        [(i, f"a t{i}", "en", "s1") for i in range(1, 9)],
    )
    row = registry.get("profile_heaps_law").builder(hand, "unused").collect()[0]
    pts = [(math.log(2 * i), math.log(i + 1)) for i in range(1, 9)]
    xs = [round(x, 9) for x, _ in pts]
    ys = [round(y, 9) for _, y in pts]
    n = len(pts)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(round(x * y, 9) for x, y in zip(xs, ys))
    sxx = sum(round(x * x, 9) for x in xs)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row.n_checkpoints == 8
    assert abs(row.beta_heaps - round(beta, 6)) < 2e-6
    assert 0.0 < row.beta_heaps < 1.0


def test_hurst_trending_vs_alternating(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _hurst_rs
    # 64 days: a strong trend is persistent (H near 1); a strict
    # alternation is antipersistent (H near 0).
    rows = [(i, i * 86400, 1, "trend", float(i + 1)) for i in range(64)]
    rows += [
        (1000 + i, i * 86400, 1, "alt", 2.0 if i % 2 else 1.0)
        for i in range(64)
    ]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_hurst_rs(SPARK)).collect()}
    assert got["trend"].n_scales == 3
    assert got["trend"].hurst > 0.85
    assert got["alt"].hurst < 0.35
    assert got["trend"].hurst > got["alt"].hurst


def test_hurst_matches_python_replica(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _hurst_rs
    import math
    vals = [float((i * 37) % 11 + 1) for i in range(64)]  # deterministic mix
    rows = [(i, i * 86400, 1, "x", vals[i]) for i in range(64)]
    _mk_events(hand, rows)
    row = hand.sql(_hurst_rs(SPARK)).collect()[0]
    v = [math.floor(x * 100) for x in vals]
    pts = []
    for w in (8, 16, 32):
        rss = []
        for b in range(len(v) // w):
            blk = v[b * w:(b + 1) * w]
            m = sum(blk) / w
            dev = [x - m for x in blk]
            zc, z = 0.0, []
            for dv in dev:
                zc += round(dv, 9)
                z.append(zc)
            r = max(z) - min(z)
            s = math.sqrt(sum(round(dv * dv, 9) for dv in dev) / w)
            if s > 0:
                rss.append(round(r / s, 9))
        if rss:
            pts.append((round(math.log(w), 9),
                        round(math.log(sum(rss) / len(rss)), 9)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(round(x * y, 9) for x, y in pts)
    sxx = sum(round(x * x, 9) for x, _ in pts)
    h = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row.n_scales == n == 3
    # dsum quantizes each addend to decimal(38,6); the replica sums 9-dp
    # floats, so agreement is to a few 6th-dp ulps (cross-ENGINE exactness
    # is the oracle's job — both engines share the decimal cast).
    assert abs(row.hurst - round(h, 6)) < 5e-6


def test_entropy_rate_deterministic_vs_uniform(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _entropy_rate
    import math
    # user 1: deterministic cycle a->b->a->b...  (H = 0)
    rows = [(i, 10 * i, 1, "a" if i % 2 == 0 else "b", None) for i in range(20)]
    _mk_events(hand, rows)
    row = hand.sql(_entropy_rate(SPARK)).collect()[0]
    assert row.entropy_rate_nats == 0.0 and row.n_states == 2
    # fair alternation between two successors: H = ln 2 per step
    rows = [(i, 10 * i, 1, ["a", "b", "a", "c"][i % 4], None) for i in range(40)]
    _mk_events(hand, rows)
    row = hand.sql(_entropy_rate(SPARK)).collect()[0]
    # transitions: a->b (10), b->a (10), a->c (9 or 10), c->a (9 or 10):
    # a's row is the only stochastic one (~ln 2 weighted by a's occupancy)
    assert 0.0 < row.entropy_rate_nats < math.log(2)
    assert row.entropy_rate_norm < 1.0


def test_perm_entropy_monotone_vs_mixed(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _perm_entropy
    import math
    # strictly increasing: every triple is the same ordinal pattern -> H = 0
    rows = [(i, i * 86400, 1, "up", float(i + 1)) for i in range(16)]
    # deterministic mixed series: several patterns -> H > 0
    vals = [float((i * 37) % 11 + 1) for i in range(16)]
    rows += [(100 + i, i * 86400, 1, "mix", vals[i]) for i in range(16)]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_perm_entropy(SPARK)).collect()}
    assert got["up"].n_patterns == 1
    assert got["up"].perm_entropy_nats == 0.0
    assert got["mix"].n_patterns > 1
    assert 0.0 < got["mix"].perm_entropy_norm <= 1.0
    # replica for the mixed series (order-3 patterns, position tie-break)
    v = [int(x * 100) for x in vals]
    from collections import Counter
    pats = Counter()
    for i in range(len(v) - 2):
        a, b, c = v[i], v[i + 1], v[i + 2]
        r1 = (b < a) + (c < a)
        r2 = (a <= b) + (c < b)
        r3 = (a <= c) + (b <= c)
        pats[r1 * 9 + r2 * 3 + r3] += 1
    nt = sum(pats.values())
    h = -sum(round((c / nt) * math.log(c / nt), 9) for c in pats.values())
    assert abs(got["mix"].perm_entropy_nats - round(h, 6)) < 5e-6


# ---------------------------------------------------------------------------
# Round-6 property-based brute-force cross-checks for the eval tier in the
# r6 driver window (AUC / NDCG / kappa / Brier). The oracle hash-compare
# proves Spark == DuckDB on the SAME algebra; these prove the algebra
# itself against the textbook definition on random inputs.
# ---------------------------------------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.tuples(st.integers(0, 40), st.booleans()), min_size=1, max_size=12))
def test_auc_matches_bruteforce(hand, pts):
    # no forced class rows: hypothesis owns the single-class NULL guard too
    rows = [
        (i, 10 * i, 1, "purchase" if pos else "click", c / 100.0)
        for i, (c, pos) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_auc(SPARK)).collect()[0]
    # brute force on the SAME floored-cents values the SQL sees
    sc = [(math.floor((c / 100.0) * 100.0), pos) for c, pos in pts]
    pos_s = [s for s, p in sc if p]
    neg_s = [s for s, p in sc if not p]
    assert got.n_pos == len(pos_s) and got.n_neg == len(neg_s)
    if not pos_s or not neg_s:
        assert got.auc is None  # single-class slice: AUC undefined
        return
    wins = sum(1 for a in pos_s for b in neg_s if a > b)
    ties = sum(1 for a in pos_s for b in neg_s if a == b)
    expect = (2 * wins + ties) / (2 * len(pos_s) * len(neg_s))
    assert got.auc == pytest.approx(round(expect, 6), abs=1e-6)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(1, 40), st.integers(1, 500)),  # (nvoc, n_chars)
        min_size=1,
        max_size=14,
    )
)
def test_ndcg_matches_bruteforce(hand, docs):

    rows = [
        (i + 1, " ".join(f"w{j}" for j in range(k)), "en", "s", nc)
        for i, (k, nc) in enumerate(docs)
    ]
    _mk_docs(hand, rows, DOCS_N)
    row = registry.get("eval_ndcg_ranking").builder(hand, "unused").collect()[0]
    scored = [(i + 1, min(3, k // 8), nc) for i, (k, nc) in enumerate(docs)]

    def dcg(order):
        total = 0
        for pos, (_doc, rel, _nc) in enumerate(order[:10], start=1):
            term = (2.0 ** rel - 1) * math.log(2.0) / math.log(pos + 1.0)
            total += _q9_then_dec6(term)
        return float(total)

    d = dcg(sorted(scored, key=lambda t: (-t[2], t[0])))  # n_chars DESC, id
    i = dcg(sorted(scored, key=lambda t: (-t[1], t[0])))  # rel DESC, id
    assert row.dcg_at_10 == pytest.approx(round(d, 6), abs=2e-6)
    assert row.idcg_at_10 == pytest.approx(round(i, 6), abs=2e-6)
    expect = d / i if i > 0 else 0.0
    assert row.ndcg_at_10 == pytest.approx(expect, abs=2e-6)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.tuples(st.integers(1, 25), st.integers(1, 400)), max_size=12))
def test_cohens_kappa_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.stats_eval import _cohens_kappa

    # the two anchors force mixed margins, so the kappa denominator is > 0
    docs = list(docs) + [(20, 200), (2, 5)]
    rows = [
        (i + 1, " ".join(f"w{j}" for j in range(k)), "en", "s", nc)
        for i, (k, nc) in enumerate(docs)
    ]
    _mk_docs(hand, rows, DOCS_N)
    got = hand.sql(_cohens_kappa(SPARK)).collect()[0]
    cells = {}
    for k, nc in docs:
        key = (nc >= 150, k >= 12)  # (rater A keeps, rater B keeps)
        cells[key] = cells.get(key, 0) + 1
    n = sum(cells.values())
    agree = cells.get((True, True), 0) + cells.get((False, False), 0)
    row_n = {k: sum(v for (a, _), v in cells.items() if a == k) for k in (True, False)}
    col_n = {k: sum(v for (_, b), v in cells.items() if b == k) for k in (True, False)}
    chance = sum(row_n[k] * col_n[k] for k in (True, False))
    assert got.n_docs == n
    assert got.observed_agree == pytest.approx(round(agree / n, 6), abs=1e-6)
    assert got.kappa == pytest.approx(
        (n * agree - chance) / (n * n - chance), abs=2e-6
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.tuples(st.integers(0, 40), st.booleans()), min_size=1, max_size=12))
def test_brier_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.stats_eval import _brier

    # no forced rows: hypothesis owns the degenerate paths too (0-max
    # cents -> NULL probability; single-class -> NULL skill)
    rows = [
        (i, 10 * i, 1, "purchase" if pos else "click", c / 100.0)
        for i, (c, pos) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_brier(SPARK)).collect()[0]
    grid = {}
    for c, pos in pts:
        s = math.floor((c / 100.0) * 100.0)
        cnt, p = grid.get(s, (0, 0))
        grid[s] = (cnt + 1, p + (1 if pos else 0))
    m = max(grid)
    n = sum(c for c, _ in grid.values())
    np_ = sum(p for _, p in grid.values())
    assert got.n_events == n and got.n_pos == np_
    if m == 0:
        assert got.brier is None  # only 0-cent values: probability undefined
        return
    sq = 0
    for s, (c, p) in grid.items():
        f = s / m
        sq += _q9_then_dec6(p * (f - 1) * (f - 1) + (c - p) * f * f)
    sq = float(sq)
    brier = sq / n
    base = (np_ / n) * (1 - np_ / n)
    assert got.brier == pytest.approx(round(brier, 6), abs=2e-6)
    assert got.brier_baseline == pytest.approx(round(base, 6), abs=2e-6)
    if base == 0.0:
        assert got.brier_skill is None  # single-class: no climatology
    else:
        assert got.brier_skill == pytest.approx(1 - brier / base, abs=2e-6)
