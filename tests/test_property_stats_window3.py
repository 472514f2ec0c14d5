"""Round-6 brute-force property tests, batch 4 — the daily-series trend
and diagnostics quartet from the r7 carry-over: Theil-Sen slope, Pettitt
changepoint, Ljung-Box portmanteau, and Mann-Kendall trend."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _dec, _floor_cents, _mk_events, _q9_then_dec6


def _daily_from(pairs):
    """(di, cents) rows -> events rows + the brute-force daily grid."""
    rows = [
        (i, di * 86400 + (i % 86400), 1, "click", c / 100.0)
        for i, (di, c) in enumerate(pairs)
    ]
    daily: dict[int, int] = {}
    for di, c in pairs:
        daily[di] = daily.get(di, 0) + _floor_cents(c)
    return rows, daily


# ---------------------------------------------------------------------------
# window_theil_sen
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 5000)),
        min_size=3,
        max_size=16,
    )
)
def test_theil_sen_matches_bruteforce(hand, pairs):
    from rugpull_data_pipeline_spark.plans.stats_eval import _theil_sen

    pairs = list(pairs) + [(40, 100), (41, 250)]  # >= 2 distinct days
    rows, daily = _daily_from(pairs)
    _mk_events(hand, rows)
    got = hand.sql(_theil_sen(SPARK)).collect()
    assert len(got) == 1
    got = got[0]

    days = sorted(daily)
    slopes = [
        ((daily[dj] - daily[di]) / (dj - di), di, dj)
        for i, di in enumerate(days)
        for dj in days[i + 1 :]
    ]
    slopes.sort()
    n_pairs = len(slopes)
    picked = slopes[(n_pairs + 1) // 2 - 1][0]
    assert got.n_days == len(days)
    assert got.n_pairs == n_pairs
    assert got.ts_slope_per_day == pytest.approx(picked / 100.0, abs=2e-6)


# ---------------------------------------------------------------------------
# window_pettitt_changepoint
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 300)),
        min_size=3,
        max_size=16,
    )
)
def test_pettitt_matches_bruteforce(hand, pairs):
    from rugpull_data_pipeline_spark.plans.stats_eval import _pettitt

    pairs = list(pairs) + [(30, 100), (31, 100)]  # ties + >= 2 days
    rows, daily = _daily_from(pairs)
    _mk_events(hand, rows)
    got = hand.sql(_pettitt(SPARK)).collect()
    assert len(got) == 1
    got = got[0]

    days = sorted(daily)
    n = len(days)
    ys = [daily[d] for d in days]
    # doubled tie-corrected rank per value: 2*(# strictly below) + c + 1
    r2 = {
        v: 2 * sum(1 for y in ys if y < v) + sum(1 for y in ys if y == v) + 1
        for v in set(ys)
    }
    cum, best = 0, None
    for t, d in enumerate(days[:-1], start=1):
        cum += r2[ys[t - 1]]
        au = abs(cum - t * (n + 1))
        if best is None or au > best[0]:
            best = (au, d)
    k, day = best
    p = min(1.0, 2 * math.exp(-6.0 * k * k / float(n**3 + n**2)))
    assert (got.n_days, got.change_day_idx, got.k_stat) == (n, day, k)
    assert got.p_approx == pytest.approx(p, abs=2e-6)


# ---------------------------------------------------------------------------
# window_ljung_box
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 5000), min_size=5, max_size=14))
def test_ljung_box_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.stats_eval import _ljung_box

    pairs = [(di, c) for di, c in enumerate(cents_list)]
    rows, daily = _daily_from(pairs)
    _mk_events(hand, rows)
    got = hand.sql(_ljung_box(SPARK)).collect()
    assert len(got) == 1
    got = got[0]

    ys = [daily[d] for d in sorted(daily)]
    n = len(ys)
    m = sum(ys) / n  # exact-integer division in double
    den = float(sum((_q9_then_dec6((y - m) * (y - m)) for y in ys), Decimal(0)))
    assert got.n_days == n
    if den == 0.0:
        assert got.acf1 is None and got.q_ljung_box is None
        return
    acf, rsq = {}, 0.0
    for k in (1, 2, 3):
        num = float(
            sum(
                (
                    _q9_then_dec6((ys[t] - m) * (ys[t - k] - m))
                    for t in range(k, n)
                ),
                Decimal(0),
            )
        )
        acf[k] = num / den
        rsq += float(_dec((num / den) * (num / den) / (n - k), "1e-9"))
    assert got.acf1 == pytest.approx(acf[1], abs=2e-6)
    assert got.acf2 == pytest.approx(acf[2], abs=2e-6)
    assert got.acf3 == pytest.approx(acf[3], abs=2e-6)
    assert got.q_ljung_box == pytest.approx(n * (n + 2) * rsq, abs=2e-5)


# ---------------------------------------------------------------------------
# window_mann_kendall
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 8), min_size=5, max_size=14))
def test_mann_kendall_matches_bruteforce(hand, small_cents):
    from rugpull_data_pipeline_spark.plans import registry

    # small value domain forces tie groups through the tie-correction path
    pairs = [(di, c * 100) for di, c in enumerate(small_cents)]
    rows, daily = _daily_from(pairs)
    _mk_events(hand, rows)
    got = registry.get("window_mann_kendall").builder(hand, "unused").collect()
    assert len(got) == 1
    got = got[0]

    ys = [daily[d] for d in sorted(daily)]
    n = len(ys)
    s = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    n1 = sum(
        1 for i in range(n) for j in range(i + 1, n) if ys[i] == ys[j]
    )
    half = n * (n - 1) // 2
    tv = sum(
        t * (t - 1) * (2 * t + 5)
        for t in (ys.count(v) for v in set(ys))
        if t > 1
    )
    assert (got.n_days, got.s_stat) == (n, s)
    denom = math.sqrt(float(half - n1) * float(half))
    if denom == 0.0:
        assert got.tau_b is None
    else:
        assert got.tau_b == pytest.approx(s / denom, abs=2e-6)
    var18 = n * (n - 1) * (2 * n + 5) - tv
    zden = math.sqrt(var18 / 18.0)
    if zden == 0.0:
        assert got.z_mk is None
    else:
        cc = 1 if s > 0 else (-1 if s < 0 else 0)
        assert got.z_mk == pytest.approx((s - cc) / zden, abs=2e-6)
