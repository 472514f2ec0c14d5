"""Round-6 brute-force property tests, batch 5 — the complexity /
dependence quartet from the r7 carry-over: permutation entropy, Markov
entropy rate, lead-lag cross-correlation, and the Simpson's-paradox
screen."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _dec, _floor_cents, _mk_events, _q9_then_dec6


# ---------------------------------------------------------------------------
# window_perm_entropy
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 6), min_size=10, max_size=18))
def test_perm_entropy_matches_bruteforce(hand, small_cents):
    from rugpull_data_pipeline_spark.plans.stats_eval import _perm_entropy

    # small value domain exercises every ordinal tie-break branch
    rows = [
        (i, di * 86400, 1, "click", (c * 100) / 100.0)
        for i, (di, c) in enumerate(enumerate(small_cents))
    ]
    _mk_events(hand, rows)
    got = hand.sql(_perm_entropy(SPARK)).collect()
    assert len(got) == 1
    got = got[0]

    ys = [_floor_cents(c * 100) for c in small_cents]
    pats: dict[int, int] = {}
    for v1, v2, v3 in zip(ys, ys[1:], ys[2:]):
        r1 = (v2 < v1) + (v3 < v1)
        r2 = (v1 <= v2) + (v3 < v2)
        r3 = (v1 <= v3) + (v2 <= v3)
        p = r1 * 9 + r2 * 3 + r3
        pats[p] = pats.get(p, 0) + 1
    nt = sum(pats.values())
    ssum = float(
        sum(
            (_q9_then_dec6((c / nt) * math.log(c / nt)) for c in pats.values()),
            Decimal(0),
        )
    )
    assert (got.n_triples, got.n_patterns) == (nt, len(pats))
    assert got.perm_entropy_nats == pytest.approx(-ssum, abs=2e-6)
    assert got.perm_entropy_norm == pytest.approx(-ssum / math.log(6), abs=2e-6)


# ---------------------------------------------------------------------------
# events_entropy_rate
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(1, 2), st.sampled_from(["a", "b", "c"])),
        max_size=16,
    )
)
def test_entropy_rate_matches_bruteforce(hand, seq):
    from rugpull_data_pipeline_spark.plans.stats_eval import _entropy_rate

    seq = list(seq) + [(9, "a"), (9, "b"), (9, "a")]  # >= 2 prev states
    rows = [(i, 100 + i, u, et, 1.0) for i, (u, et) in enumerate(seq)]
    _mk_events(hand, rows)
    got = hand.sql(_entropy_rate(SPARK)).collect()[0]

    per_user: dict[int, list] = {}
    for u, et in seq:
        per_user.setdefault(u, []).append(et)
    cells: dict[tuple, int] = {}
    for chain in per_user.values():
        for a, b in zip(chain, chain[1:]):
            cells[(a, b)] = cells.get((a, b), 0) + 1
    ci: dict[str, int] = {}
    for (a, _), c in cells.items():
        ci[a] = ci.get(a, 0) + c
    tot = sum(cells.values())
    ssum = float(
        sum(
            (
                _q9_then_dec6((c / tot) * math.log(c / ci[a]))
                for (a, _), c in cells.items()
            ),
            Decimal(0),
        )
    )
    n_states = len(ci)
    assert (got.n_transitions, got.n_states) == (tot, n_states)
    assert got.entropy_rate_nats == pytest.approx(-ssum, abs=2e-6)
    assert got.entropy_rate_norm == pytest.approx(
        -ssum / math.log(n_states), abs=2e-6
    )


# ---------------------------------------------------------------------------
# window_crosscorr_leadlag
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 5000)),
        min_size=10,
        max_size=14,
    )
)
def test_crosscorr_matches_bruteforce(hand, day_pairs):
    from rugpull_data_pipeline_spark.plans.stats_eval import _crosscorr

    rows = []
    for di, (ca, cb) in enumerate(day_pairs):
        rows.append((2 * di, di * 86400, 1, "click", ca / 100.0))
        rows.append((2 * di + 1, di * 86400 + 1, 1, "purchase", cb / 100.0))
    _mk_events(hand, rows)
    got = {
        (r.type_a, r.type_b, r.lag): r
        for r in hand.sql(_crosscorr(SPARK)).collect()
    }

    a = {di: _floor_cents(ca) / 100.0 for di, (ca, _) in enumerate(day_pairs)}
    b = {di: _floor_cents(cb) / 100.0 for di, (_, cb) in enumerate(day_pairs)}
    for lag in range(-2, 3):
        xy = [
            (a[di], b[di + lag]) for di in a if (di + lag) in b
        ]
        n = len(xy)
        key = ("click", "purchase", lag)
        if n < 8:
            assert key not in got
            continue
        d9 = lambda v: _dec(v, "1e-9")  # noqa: E731
        sx = float(sum((d9(x) for x, _ in xy), Decimal(0)))
        sy = float(sum((d9(y) for _, y in xy), Decimal(0)))
        sxy = float(sum((d9(x * y) for x, y in xy), Decimal(0)))
        sxx = float(sum((d9(x * x) for x, _ in xy), Decimal(0)))
        syy = float(sum((d9(y * y) for _, y in xy), Decimal(0)))
        den = math.sqrt(
            max(n * sxx - sx * sx, 0.0) * max(n * syy - sy * sy, 0.0)
        )
        assert got[key].n_days == n
        if den == 0.0:
            assert got[key].xcorr_r is None
        else:
            assert got[key].xcorr_r == pytest.approx(
                (n * sxy - sx * sy) / den, abs=2e-6
            )


# ---------------------------------------------------------------------------
# profile_simpson_paradox
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 4),  # user id -> arm by parity
            st.sampled_from([100, 900]),  # cents -> low / high stratum
            st.booleans(),  # purchase?
        ),
        max_size=20,
    )
)
def test_simpson_matches_bruteforce(hand, evts):
    from rugpull_data_pipeline_spark.plans import registry

    # guarantee every (arm, stratum) cell is populated so no 0-denominator
    evts = list(evts) + [
        (2, 100, True), (1, 100, False), (2, 900, False), (1, 900, True)
    ]
    rows = [
        (i, 100 + i, u, "purchase" if buy else "click", c / 100.0)
        for i, (u, c, buy) in enumerate(evts)
    ]
    _mk_events(hand, rows)
    got = {r.stratum: r for r in registry.get("profile_simpson_paradox")
                                 .builder(hand, "unused").collect()}

    cells: dict[tuple, list] = {}
    for u, c, buy in evts:
        arm = "A" if u % 2 == 0 else "B"
        stratum = "high" if _floor_cents(c) >= 500 else "low"
        cell = cells.setdefault((stratum, arm), [0, 0])
        cell[0] += 1
        cell[1] += int(buy)
    strata = sorted({s for s, _ in cells})
    wide = {
        s: (
            cells.get((s, "A"), [0, 0])[0],
            cells.get((s, "A"), [0, 0])[1],
            cells.get((s, "B"), [0, 0])[0],
            cells.get((s, "B"), [0, 0])[1],
        )
        for s in strata
    }
    wide["TOTAL"] = tuple(
        sum(wide[s][k] for s in strata) for k in range(4)
    )
    dirs = {
        s: (ca * nb > cb * na) - (ca * nb < cb * na)
        for s, (na, ca, nb, cb) in wide.items()
    }
    sdirs = [dirs[s] for s in strata]
    flag = int(
        dirs["TOTAL"] * min(sdirs) < 0 and min(sdirs) == max(sdirs)
    )
    assert set(got) == set(wide)
    for s, (na, ca, nb, cb) in wide.items():
        r = got[s]
        assert (r.n_a, r.c_a, r.n_b, r.c_b, r.dir) == (na, ca, nb, cb, dirs[s])
        assert r.rate_a == pytest.approx(ca / na, abs=2e-6)
        assert r.rate_b == pytest.approx(cb / nb, abs=2e-6)
        assert (r.total_dir, r.simpson_flag) == (dirs["TOTAL"], flag)
