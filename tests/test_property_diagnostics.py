"""Round-10 brute-force property tests for the diagnostics tier: the
quarter-unit exact-quantile machinery (MAD screen), Kendall tau-b,
the Wald-Wolfowitz runs test, the CUSUM argmax changepoint, HHI
concentration, and the hour-of-day chi-square GOF — the operators whose
algebra the hash-compare alone can't explain. Each test rebuilds the
answer in plain Python over hypothesis-generated hand data and compares
it to the Spark SQL run against hand temp views (the test_property_*
convention)."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, hand_table, _mk_events, _round6


def _dm(vals: list[int]) -> Decimal:
    """Daily mean as the engines compute it: decimal-sum / count (double),
    then cast to decimal(18,6)."""
    mean = float(sum(vals)) / len(vals)
    return Decimal(repr(mean)).quantize(Decimal("1e-6"), ROUND_HALF_UP)


def _daily_rows(series: dict[str, list[int]]):
    """One event per (type, day) with an integer value → dm == value."""
    rows, eid = [], 0
    for etype, vals in series.items():
        for day, v in enumerate(vals):
            rows.append((eid, day * 86400 + 7, 1, etype, float(v)))
            eid += 1
    return rows


# ---------------------------------------------------------------------------
# quarter-unit exact quantiles: profile_mad_screen
# ---------------------------------------------------------------------------


def _q4_brute(sorted_vals: list[int], q4: int) -> int:
    """Interpolated order statistic in QUARTER units (4x the value)."""
    n = len(sorted_vals)
    h4 = q4 * (n - 1)
    ilo, rem = h4 // 4, h4 % 4
    ihi = (h4 + 3) // 4
    return (4 - rem) * sorted_vals[ilo] + rem * sorted_vals[ihi]


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 50),  # quantity (whole units)
            st.integers(100, 99999),  # extendedprice cents
            st.integers(0, 10),  # discount cents
            st.integers(0, 8),  # tax cents
        ),
        min_size=2,
        max_size=40,
    )
)
@pytest.mark.slow_property
def test_mad_screen_matches_bruteforce(hand, rows):
    from rugpull_data_pipeline_spark.plans import registry

    hand_table(
        hand,
        "lineitem",
        [
            (i, i, i % 3, float(q), ep / 100.0, dc / 100.0, tx / 100.0)
            for i, (q, ep, dc, tx) in enumerate(rows)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double, l_discount double, l_tax double",
    )

    got = {
        r["column_name"]: r
        for r in registry.get("profile_mad_screen").builder(hand, "unused").collect()
    }
    cols = {
        "l_quantity": [q * 100 for q, _, _, _ in rows],
        "l_extendedprice": [ep for _, ep, _, _ in rows],
        "l_discount": [dc for _, _, dc, _ in rows],
        "l_tax": [tx for _, _, _, tx in rows],
    }
    for name, cents in cols.items():
        sv = sorted(cents)
        m4 = _q4_brute(sv, 2)
        dev4 = sorted(abs(4 * v - m4) for v in cents)
        mad16 = _q4_brute(dev4, 2)
        n_out = sum(
            1 for v in cents if 4 * abs(4 * v - m4) > 5.1891 * mad16
        )
        r = got[name]
        assert r["n_rows"] == len(cents)
        assert r["median_value"] == pytest.approx(m4 / 400, abs=1e-6)
        assert r["mad_scaled"] == pytest.approx(
            1.4826 * mad16 / 1600, abs=1e-6
        )
        assert r["n_outliers"] == n_out


# ---------------------------------------------------------------------------
# eval_kendall_tau — concordance counting
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=2,
        max_size=25,
    )
)
@pytest.mark.slow_property
def test_kendall_tau_matches_bruteforce(hand, xy):
    from rugpull_data_pipeline_spark.plans import registry

    series = {
        "view": [x for x, _ in xy],
        "purchase": [y for _, y in xy],
    }
    _mk_events(hand, _daily_rows(series))
    row = registry.get("eval_kendall_tau").builder(hand, "unused").collect()[0]

    nc = nd = tx = ty = 0
    for i in range(len(xy)):
        for j in range(i + 1, len(xy)):
            sx = (xy[j][0] > xy[i][0]) - (xy[j][0] < xy[i][0])
            sy = (xy[j][1] > xy[i][1]) - (xy[j][1] < xy[i][1])
            if sx * sy == 1:
                nc += 1
            elif sx * sy == -1:
                nd += 1
            elif sx == 0 and sy != 0:
                tx += 1
            elif sy == 0 and sx != 0:
                ty += 1
    assert row["n_days"] == len(xy)
    assert (row["nc"], row["nd"]) == (nc, nd)
    denom = ((nc + nd + tx) * (nc + nd + ty)) ** 0.5
    if denom > 0:
        assert row["tau_b"] == pytest.approx((nc - nd) / denom, abs=1e-6)
    else:
        assert row["tau_b"] is None


# ---------------------------------------------------------------------------
# window_runs_test — run counting and the z-score
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 4), min_size=3, max_size=30))
def test_runs_test_matches_bruteforce(hand, vals):
    from rugpull_data_pipeline_spark.plans.diagnostics_ops import _runs_test

    _mk_events(hand, _daily_rows({"click": vals}))
    out = hand.sql(_runs_test(SPARK)).collect()
    signs = []
    for a, b in zip(vals, vals[1:]):
        if b != a:
            signs.append(1 if b > a else -1)
    if not signs:
        assert out == [] or out[0]["runs"] == 0
        return
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1 = sum(1 for s in signs if s == 1)
    n2 = len(signs) - n1
    r = out[0]
    assert (r["runs"], r["n_up"], r["n_down"]) == (runs, n1, n2)
    n = n1 + n2
    assert r["expected_runs"] == pytest.approx(
        1 + 2 * n1 * n2 / n, abs=1e-6
    )
    var = (
        2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
        if n > 1
        else 0.0
    )
    if var > 0:
        z = (runs - (1 + 2 * n1 * n2 / n)) / var ** 0.5
        assert r["z_score"] == pytest.approx(z, abs=1e-6)
    else:
        assert r["z_score"] is None


# ---------------------------------------------------------------------------
# window_cusum_changepoint — exact-decimal cumulative argmax
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 100), min_size=2, max_size=30))
def test_cusum_changepoint_matches_bruteforce(hand, vals):
    from rugpull_data_pipeline_spark.plans.diagnostics_ops import _cusum_cp

    _mk_events(hand, _daily_rows({"click": vals}))
    r = hand.sql(_cusum_cp(SPARK)).collect()[0]

    mu = _dm(vals)
    cum, best_day, best_abs = Decimal(0), 0, Decimal(-1)
    for day, v in enumerate(vals):
        cum += Decimal(v) - mu
        if abs(cum) > best_abs:
            best_abs, best_day = abs(cum), day
    assert r["cp_day"] == best_day
    assert r["max_abs_cusum"] == pytest.approx(float(best_abs), abs=1e-6)
    before = vals[: best_day + 1]
    after = vals[best_day + 1 :]
    assert r["mean_before"] == pytest.approx(
        _round6(sum(before) / len(before)), abs=1e-6
    )
    if after:
        assert r["mean_after"] == pytest.approx(
            _round6(sum(after) / len(after)), abs=1e-6
        )
    else:
        assert r["mean_after"] is None


# ---------------------------------------------------------------------------
# agg_hhi_concentration — shares, HHI, CR4
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),  # brand id
            st.integers(0, 5),  # supplier
            st.integers(100, 10000),  # extendedprice (whole units)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_hhi_matches_bruteforce(hand, rows):
    from rugpull_data_pipeline_spark.plans.diagnostics_ops import _hhi

    hand_table(
        hand,
        "lineitem",
        [
            (i, b, s, float(p), 0.0)
            for i, (b, s, p) in enumerate(rows)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_extendedprice double, l_discount double",
    )
    hand_table(
        hand,
        "part",
        [(b, f"Brand#{b}") for b in {b for b, _, _ in rows}],
        "p_partkey long, p_brand string",
    )

    got = {r["p_brand"]: r for r in hand.sql(_hhi(SPARK)).collect()}
    from collections import defaultdict

    by_brand: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for _, (b, s, p) in enumerate(rows):
        by_brand[f"Brand#{b}"][s] += p
    for brand, supp in by_brand.items():
        t = sum(supp.values())
        shares = sorted(
            ((rev, -k) for k, rev in supp.items()), reverse=True
        )
        hhi = sum(round((rev / t) * (rev / t), 9) for rev in supp.values())
        cr4 = sum(round(rev / t, 9) for rev, _ in shares[:4])
        r = got[brand]
        assert r["n_suppliers"] == len(supp)
        assert r["hhi"] == pytest.approx(hhi * 10000, abs=1e-4)
        assert r["top_share"] == pytest.approx(shares[0][0] / t, abs=1e-6)
        assert r["cr4"] == pytest.approx(cr4, abs=1e-6)


# ---------------------------------------------------------------------------
# events_hour_uniformity_gof — integer chi-square
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(st.integers(0, 23), min_size=1, max_size=60),
)
def test_hour_gof_matches_bruteforce(hand, hours):
    from rugpull_data_pipeline_spark.plans import registry

    rows = [
        (i, i * 86400 + h * 3600 + 5, 1, "click", 1.0)
        for i, h in enumerate(hours)
    ]
    _mk_events(hand, rows)
    r = registry.get("events_hour_uniformity_gof").builder(hand, "unused").collect()[0]

    n = len(hours)
    counts = [hours.count(h) for h in range(24)]
    chi2 = sum((24 * c - n) ** 2 for c in counts) / (24 * n)
    peak = max(range(24), key=lambda h: (counts[h], -h))
    assert r["n_events"] == n
    assert r["chi2"] == pytest.approx(chi2, abs=1e-6)
    assert r["peak_hour"] == peak
    assert r["peak_share"] == pytest.approx(counts[peak] / n, abs=1e-6)
