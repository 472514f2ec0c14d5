"""Edge-semantics unit tests for the feature-engineering / data-quality
operators (oracle parity is covered by test_correctness_oracle)."""

from __future__ import annotations

import pytest

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.plans.feature_ops import (
    _completeness,
    _jl_project,
    _ridge,
)
from tests.helpers import DOCS_N, EVENTS, _mk_docs, _mk_embeddings, _mk_events

_EVENTS = EVENTS + ", props string"


def test_rfm_three_users_get_distinct_terciles(hand):
    # user 1: oldest, rare, small spend -> (1,1,1) after recency inversion;
    # user 3: newest, most active, biggest spend -> (3,3,3).
    rows = [
        (1, 0, 1, "click", 1.0, "{}"),
        (2, 86400 * 5, 2, "click", 5.0, "{}"),
        (3, 86400 * 5 + 10, 2, "click", 5.0, "{}"),
        (4, 86400 * 10, 3, "click", 50.0, "{}"),
        (5, 86400 * 10 + 10, 3, "click", 50.0, "{}"),
        (6, 86400 * 10 + 20, 3, "click", 50.0, "{}"),
    ]
    _mk_events(hand, rows, _EVENTS)
    got = {(r.r_score, r.f_score, r.m_score): r.n_users
           for r in registry.get("events_rfm_segments")
                    .builder(hand, "unused").collect()}
    assert got == {(1, 1, 1): 1, (2, 2, 2): 1, (3, 3, 3): 1}


def test_ridge_recovers_strong_linear_signal_with_mild_shrinkage(hand):
    # documents with n_chars exactly 3 + 2 * n_tokens; distinct-token count
    # constant so x2 carries no signal. Large x1 spread makes lambda=10
    # shrinkage negligible.
    rows = [(i, " ".join(["tok"] * (i + 1)), "en", "s", 3 + 2 * (i + 1))
            for i in range(40)]
    _mk_docs(hand, rows, DOCS_N)
    row = hand.sql(_ridge(SPARK)).collect()[0]
    assert row.w1 == pytest.approx(2.0, abs=0.01)
    assert row.intercept == pytest.approx(3.0, abs=0.5)
    assert 0.99 <= row.r2_explained <= 1.0
    assert row.n_rows == 40


def test_completeness_counts_nulls_per_column(hand):
    rows = [
        (1, 10, 1, "click", 1.0, "{}"),
        (2, 20, 1, None, None, "{}"),
        (3, 30, 1, "view", None, None),
        (4, 40, 1, "view", 2.0, "{}"),
    ]
    _mk_events(hand, rows, _EVENTS)
    got = {r.col_name: r for r in hand.sql(_completeness(SPARK)).collect()}
    assert len(got) == 6 and all(r.n_rows == 4 for r in got.values())
    assert got["value"].n_null == 2 and got["value"].null_frac == 0.5
    assert got["event_type"].n_null == 1
    assert got["props"].n_null == 1
    assert got["event_id"].n_null == 0


def test_jl_projection_is_linear(hand):
    v = [float((i * 7) % 5 - 2) for i in range(64)]
    rows = [(0, v, 0), (1, [2 * x for x in v], 0)]
    _mk_embeddings(hand, rows)
    out = hand.sql(_jl_project(SPARK)).collect()
    p0 = {r.out_dim: r.pv for r in out if r.vec_id == 0}
    p1 = {r.out_dim: r.pv for r in out if r.vec_id == 1}
    assert len(p0) == 16 and len(p1) == 16
    for j in range(16):
        assert p1[j] == pytest.approx(2 * p0[j], abs=1e-5)


def test_holt_fold_matches_hand_computation(hand):
    from rugpull_data_pipeline_spark.plans.feature_ops import window_holt_linear
    # one type, three hour buckets with means 4, 8, 16:
    # l1=4 b1=0; l2=.5*8+.5*4=6, b2=.5*2+0=1; l3=.5*16+.5*7=11.5, b3=.5*5.5+.5=3.25
    rows = [
        (1, 100, 1, "click", 4.0, "{}"),
        (2, 3700, 1, "click", 8.0, "{}"),
        (3, 7300, 1, "click", 16.0, "{}"),
    ]
    _mk_events(hand, rows, _EVENTS)
    got = [(r.level, r.trend, r.forecast_next)
           for r in window_holt_linear(hand, "unused").collect()]
    assert got == [(4.0, 0.0, 4.0), (6.0, 1.0, 7.0), (11.5, 3.25, 14.75)]


def test_bootstrap_constant_values_collapse_interval(hand):
    from rugpull_data_pipeline_spark.plans.feature_ops import _bootstrap
    # constant value -> every resample mean equals it exactly: the CI
    # collapses to a point and the bootstrap sd is 0.
    _mk_events(hand, [(i, 10 * i, 1, "click", 7.0, "{}") for i in range(20)], _EVENTS)
    row = hand.sql(_bootstrap(SPARK)).collect()[0]
    assert row.mean_value == 7.0
    assert row.boot_lo == 7.0 and row.boot_hi == 7.0 and row.boot_sd == 0.0
    assert row.n_replicates == 8


def test_kcore_peels_pendant_but_keeps_triangle(hand):
    # users 1,2,3 form a triangle (one shared hour); user 4 attaches to 1
    # only (separate hour) -> pendant peels, triangle survives at degree 2.
    rows = [(i, 100 + i, u, "a", 1.0, "{}") for i, u in enumerate([1, 2, 3])]
    rows += [(10 + i, 7200 + i, u, "b", 1.0, "{}") for i, u in enumerate([1, 4])]
    _mk_events(hand, rows, _EVENTS)
    got = {r.user_id: r.core_degree
           for r in registry.get("graph_kcore_peel").builder(hand, "unused").collect()}
    assert got == {1: 2, 2: 2, 3: 2}
