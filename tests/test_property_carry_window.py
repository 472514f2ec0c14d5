"""Round-6 brute-force property tests for the r7 carry-over window — the
38 queries scheduled for the next driver rotation. Same method as
test_property_graph_stats.py: random inputs, textbook/replica definitions
in plain Python, the floor-cents and decimal-quantized-sum chains
reproduced exactly."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _dec, _floor_cents, _mk_events


# ---------------------------------------------------------------------------
# window_rolling_median
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 9000), min_size=1, max_size=12))
def test_rolling_median_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _rolling_median

    rows = [(i, 10 * i, 1, "click", c / 100.0) for i, c in enumerate(cents_list)]
    _mk_events(hand, rows)
    got = {r.event_id: r.roll_median_5 for r in hand.sql(_rolling_median(SPARK)).collect()}

    vals = [c / 100.0 for c in cents_list]
    for i in range(len(vals)):
        w = sorted(vals[max(0, i - 4): i + 1])
        # percentile(v, 0.5): exact interpolation at index 0.5*(n-1)
        pos = 0.5 * (len(w) - 1)
        lo = int(pos)
        med = w[lo] if pos == lo else w[lo] + (pos - lo) * (w[lo + 1] - w[lo])
        assert got[i] == pytest.approx(round(med, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# window_acf_lags
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 3000), min_size=5, max_size=14))
def test_acf_lags_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _acf_lags

    vals = [c / 100.0 for c in cents_list]

    def pearson(k):
        xs = vals[k:]
        ys = vals[:-k]
        n = len(xs)
        sx = float(sum((_dec(x, "1e-9") for x in xs), Decimal(0)))
        sy = float(sum((_dec(y, "1e-9") for y in ys), Decimal(0)))
        sxy = float(sum((_dec(x * y, "1e-9") for x, y in zip(xs, ys)), Decimal(0)))
        sxx = float(sum((_dec(x * x, "1e-9") for x in xs), Decimal(0)))
        syy = float(sum((_dec(y * y, "1e-9") for y in ys), Decimal(0)))
        # mirror the plan's clamp: each variance term floored at 0
        den = max(n * sxx - sx * sx, 0.0) * max(n * syy - sy * sy, 0.0)
        return n, den, (n * sxy - sx * sy)

    rows = [(i, 10 * i, 1, "click", v) for i, v in enumerate(vals)]
    _mk_events(hand, rows)
    got = {r.lag_k: r for r in hand.sql(_acf_lags(SPARK)).collect()}
    for k in (1, 2, 3):
        if len(vals) <= k:
            assert k not in got
            continue
        n, den, num = pearson(k)
        assert got[k].n_pairs == n
        # the plan clamps each variance term at 0 and NULLs a 0 denominator,
        # so degenerate (constant-side) lags are None on BOTH engines
        if den <= 0:
            assert got[k].acf is None
        else:
            assert got[k].acf == pytest.approx(num / math.sqrt(den), abs=2e-6)


# ---------------------------------------------------------------------------
# profile_moments_skew_kurtosis
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 5000), min_size=1, max_size=14))
def test_moments_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _moments

    vals = [c / 100.0 for c in cents_list]
    rows = [(i, 10 * i, 1, "click", v) for i, v in enumerate(vals)]
    _mk_events(hand, rows)
    got = hand.sql(_moments(SPARK)).collect()[0]

    n = float(len(vals))
    s1 = float(sum((_dec(v, "1e-6") for v in vals), Decimal(0)))
    s2 = float(sum((_dec(v * v, "1e-6") for v in vals), Decimal(0)))
    s3 = float(sum((_dec(v * v * v, "1e-6") for v in vals), Decimal(0)))
    s4 = float(sum((_dec(v * v * v * v, "1e-6") for v in vals), Decimal(0)))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu**3
    m4 = s4 / n - 4 * mu * (s3 / n) + 6 * mu**2 * (s2 / n) - 3 * mu**4
    assert got.n_rows == len(vals)
    assert got.mean_value == pytest.approx(mu, abs=2e-6)
    assert got.var_pop == pytest.approx(m2, abs=2e-6)
    if m2 > 1e-9:
        assert got.skewness_pop == pytest.approx(m3 / m2**1.5, abs=1e-4)
        assert got.excess_kurtosis == pytest.approx(m4 / (m2 * m2) - 3, abs=1e-4)
    elif m2 <= 0:
        assert got.skewness_pop is None


# ---------------------------------------------------------------------------
# profile_benford_screen
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(1, 99999), min_size=1, max_size=20))
def test_benford_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _BENFORD_P, _benford

    vals = [c / 100.0 for c in cents_list]
    rows = [(i, 10 * i, 1, "click", v) for i, v in enumerate(vals)]
    _mk_events(hand, rows)
    got = hand.sql(_benford(SPARK)).collect()[0]

    digits = [int(str(int(_dec(v * 100.0, "1"))) [0]) for v in vals]
    n = len(digits)
    obs = {d: digits.count(d) for d in range(1, 10)}
    chi = Decimal(0)
    for d in range(1, 10):
        e = _BENFORD_P[d] * n
        chi += _dec((obs[d] - e) * (obs[d] - e) / e, "1e-6")
    assert got.n_pos == n
    assert got.chi_square == pytest.approx(float(chi), abs=2e-6)
    assert got.digit1_share == pytest.approx(round(obs[1] / n, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# window_running_distinct_types
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=16,
    )
)
def test_running_distinct_matches_bruteforce(hand, seq):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _running_distinct

    rows = [(i, 100 + i, u, et, 1.0) for i, (u, et) in enumerate(seq)]
    _mk_events(hand, rows)
    got = {r.event_id: r.distinct_types_so_far
           for r in hand.sql(_running_distinct(SPARK)).collect()}

    seen: dict[int, set] = {}
    for i, (u, et) in enumerate(seq):
        seen.setdefault(u, set()).add(et)
        assert got[i] == len(seen[u])


# ---------------------------------------------------------------------------
# profile_drift_ks
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 800)),  # (day, cents)
        max_size=16,
    )
)
def test_ks_drift_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.stats_eval import _ks_drift

    pts = list(pts) + [(0, 400)]  # >= 1 row; hypothesis owns empty halves
    rows = [
        (i, d * 86400 + i, 1, "click", c / 100.0)
        for i, (d, c) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_ks_drift(SPARK)).collect()[0]

    a = sorted(_floor_cents(c) for d, c in pts if d % 2 == 0)
    b = sorted(_floor_cents(c) for d, c in pts if d % 2 == 1)
    na, nb = len(a), len(b)
    assert (got.n_even_days, got.n_odd_days) == (na, nb)
    if na == 0 or nb == 0:
        assert got.ks_stat is None  # one empty sample: KS undefined
        return
    grid = sorted(set(a) | set(b))
    best = max(
        abs(sum(1 for x in a if x <= v) * nb - sum(1 for x in b if x <= v) * na)
        for v in grid
    )
    assert got.ks_stat == pytest.approx(round(best / (na * nb), 6), abs=1e-9)


# ---------------------------------------------------------------------------
# events_rfm_segments
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 5000)),  # (user, cents)
        min_size=1,
        max_size=20,
    )
)
@pytest.mark.slow_property
def test_rfm_segments_matches_bruteforce(hand, evts):
    from rugpull_data_pipeline_spark.plans import registry

    rows = [
        (i, i * 40000, u, "click", c / 100.0) for i, (u, c) in enumerate(evts)
    ]
    _mk_events(hand, rows)
    got = {
        (r.r_score, r.f_score, r.m_score): r.n_users
        for r in registry.get("events_rfm_segments").builder(hand, "unused").collect()
    }

    mx = (len(evts) - 1) * 40000
    per_user: dict[int, dict] = {}
    for i, (u, c) in enumerate(evts):
        rec = per_user.setdefault(u, {"last": 0, "f": 0, "m": 0})
        rec["last"] = max(rec["last"], i * 40000)
        rec["f"] += 1
        rec["m"] += _floor_cents(c)
    metrics = {
        u: (
            math.floor((mx - r["last"]) / 86400.0),
            r["f"],
            r["m"],
        )
        for u, r in per_user.items()
    }

    def bins(vals_by_user, idx):
        vs = sorted(m[idx] for m in vals_by_user.values())
        n = len(vs)
        out = {}
        for v in set(vs):
            cum_lt = sum(1 for x in vs if x < v)
            out[v] = min(2, cum_lt * 3 // n)
        return out

    rb = bins(metrics, 0)
    fb = bins(metrics, 1)
    mb = bins(metrics, 2)
    expect: dict[tuple, int] = {}
    for u, (r_, f_, m_) in metrics.items():
        key = (3 - rb[r_], fb[f_] + 1, mb[m_] + 1)
        expect[key] = expect.get(key, 0) + 1
    assert got == expect


# ---------------------------------------------------------------------------
# events_survival_km
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 4),  # user
            st.booleans(),  # purchase?
            st.integers(0, 9000),  # t seconds
        ),
        min_size=2,
        max_size=18,
    )
)
def test_survival_km_matches_bruteforce(hand, evts):
    from rugpull_data_pipeline_spark.plans import registry

    evts = list(evts) + [(1, False, 100)]  # at least one view
    rows = [
        (i, t, u, "purchase" if p else "view", 1.0)
        for i, (u, p, t) in enumerate(evts)
    ]
    _mk_events(hand, rows)
    got = {r.t_minutes: r for r in registry.get("events_survival_km")
                                   .builder(hand, "unused").collect()}

    mx = max(t for _, _, t in evts)
    fv: dict[int, int] = {}
    for u, p, t in evts:
        if not p:
            fv[u] = min(fv.get(u, t), t)
    subj = []
    for u, v in fv.items():
        ps = [t for uu, p, t in evts if uu == u and p and t >= v]
        if ps:
            subj.append((math.floor((min(ps) - v) / 60.0), 1))
        else:
            subj.append((math.floor((mx - v) / 60.0), 0))
    agg: dict[int, list] = {}
    for t, ev in subj:
        c = agg.setdefault(t, [0, 0])
        c[0] += ev
        c[1] += 1
    cl = Decimal(0)
    expect = {}
    for t in sorted(agg):
        d_ev, _c = agg[t]
        n_risk = sum(c for tt, (_, c) in agg.items() if tt >= t)
        if d_ev < n_risk:
            step = float(_dec(math.log(1.0 - d_ev / n_risk), "1e-9"))
        else:
            step = -99.0
        cl += _dec(step, "1e-9")
        if d_ev > 0:
            expect[t] = (n_risk, d_ev, round(math.exp(float(cl)), 6))
    assert set(got) == set(expect)
    for t, (n_risk, d_ev, surv) in expect.items():
        assert (got[t].n_at_risk, got[t].n_events) == (n_risk, d_ev)
        assert got[t].km_survival == pytest.approx(surv, abs=2e-6)


# ---------------------------------------------------------------------------
# window_holt_linear (deterministic replica — the sequential Arrow kernel)
# ---------------------------------------------------------------------------


def test_holt_linear_matches_python_fold(hand):
    from rugpull_data_pipeline_spark.plans.feature_ops import window_holt_linear

    vals = {"a": [3.0, 5.0, 4.0, 8.0, 2.0, 6.0], "b": [10.0, 10.0, 12.0]}
    rows, eid = [], 0
    for et, vs in vals.items():
        for h, v in enumerate(vs):
            # two events per bucket so the mean path is exercised
            rows.append((eid, h * 3600 + 10, 1, et, v - 1.0)); eid += 1
            rows.append((eid, h * 3600 + 20, 1, et, v + 1.0)); eid += 1
    _mk_events(hand, rows)
    got = {
        (r.event_type, r.hr): r
        for r in window_holt_linear(hand, "unused").collect()
    }

    for et, vs in vals.items():
        ys = [
            float(sum((_dec(x, "1e-6") for x in (v - 1.0, v + 1.0)), Decimal(0))) / 2.0
            for v in vs
        ]
        l, b = ys[0], 0.0
        for h, y in enumerate(ys):
            if h > 0:
                nl = 0.5 * y + 0.5 * (l + b)
                b = 0.5 * (nl - l) + 0.5 * b
                l = nl
            r = got[(et, h)]
            # exact .5 ties round HALF_UP (away from zero) in both engines
            assert r.level == pytest.approx(float(_dec(l, "1e-6")), abs=1e-9)
            assert r.trend == pytest.approx(float(_dec(b, "1e-6")), abs=1e-9)
            assert r.forecast_next == pytest.approx(float(_dec(l + b, "1e-6")), abs=1e-9)
    assert len(got) == sum(len(v) for v in vals.values())
