"""Round-8 brute-force property tests, batch 5 — radius-search
completeness (every qualifying neighbor returned, none fabricated) and
MA-crossover sign-flip detection over the decimal daily-mean chain."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _mk_embeddings, _mk_events


def _q(x: float, scale: str) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal(scale), ROUND_HALF_UP)


# ---------------------------------------------------------------------------
# sim_range_search_radius — exact radius completeness with the left-fold
# cosine (queries are vec_id % 50 == 0; dims small, values float-exact)
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.lists(
            st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=12,
    )
)
@pytest.mark.slow_property
def test_range_search_matches_bruteforce(hand, vecs):
    from rugpull_data_pipeline_spark.plans.mining_ops import (
        _RADIUS,
        _range_search,
    )

    _mk_embeddings(
        hand,
        [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)],
    )
    got = {
        (r.query_id, r.vec_id): r.cosine
        for r in hand.sql(_range_search(SPARK)).collect()
    }

    tau = float(_RADIUS)
    expect = {}
    for qi, qv in enumerate(vecs):
        if qi % 50 != 0:
            continue
        for ci, cv in enumerate(vecs):
            if ci == qi:
                continue
            # the SQL's left-fold: ordered sums, one division at the end
            dot = na = nb = 0.0
            for a, b in zip(qv, cv):
                dot += a * b
                na += a * a
                nb += b * b
            den = (na ** 0.5) * (nb ** 0.5)
            if den == 0.0:
                continue  # NULL cosine: filtered by >= tau in both engines
            cos = dot / den
            if cos >= tau:
                expect[(qi, ci)] = float(_q(cos, "1e-6"))
    assert set(got) == set(expect), (
        f"radius set mismatch: extra={set(got) - set(expect)}, "
        f"missing={set(expect) - set(got)}"
    )
    for k, c in expect.items():
        assert got[k] == pytest.approx(c, abs=1e-9)


# ---------------------------------------------------------------------------
# window_ma_crossover — sign flips of (3-day MA - 7-day MA), full windows
# only, over integer-valued daily series
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 10), min_size=7, max_size=24))
def test_ma_crossover_matches_bruteforce(hand, series):
    from rugpull_data_pipeline_spark.plans.mining_ops import _ma_crossover

    rows = [
        (i, d * 86400 + 5, 0, "click", float(v))
        for i, (d, v) in enumerate(enumerate(series))
    ]
    _mk_events(hand, rows)
    row = hand.sql(_ma_crossover(SPARK)).collect()[0]

    # one integer value per day -> dm exact; both windows need full frames
    sgn = {}
    for i in range(6, len(series)):
        ma3 = sum(series[i - 2:i + 1]) / 3.0
        ma7 = sum(series[i - 6:i + 1]) / 7.0
        sgn[i] = 1 if ma3 > ma7 else (-1 if ma3 < ma7 else 0)
    days = sorted(sgn)
    crossings = [
        d
        for prev, d in zip(days, days[1:])
        if sgn[prev] != 0 and sgn[d] != 0 and sgn[d] != sgn[prev]
    ]
    assert row.n_days == len(days)
    assert row.n_crossovers == len(crossings)
    assert row.last_cross_day == (max(crossings) if crossings else None)
