"""Round-6 brute-force property tests, batch 3 — the rest of the r7
carry-over window: Markov stationary distribution, seasonal baseline,
completeness profile, Neyman allocation, inter-arrival stats, VPIN,
Good-Turing frequency-of-frequencies, and the Zipf fit."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import (
    PROP,
    _dec,
    _floor_cents,
    hand_table,
    _mk_docs,
    _mk_events,
    _q9_then_dec6,
)


# ---------------------------------------------------------------------------
# events_markov_stationary
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(1, 2), st.sampled_from(["a", "b", "c"])),
        max_size=16,
    )
)
def test_markov_stationary_matches_bruteforce(hand, seq):
    from rugpull_data_pipeline_spark.plans import registry

    seq = list(seq) + [(9, "a"), (9, "b")]  # at least one transition
    rows = [(i, 100 + i, u, et, 1.0) for i, (u, et) in enumerate(seq)]
    _mk_events(hand, rows)
    got = {r.event_type: r.stationary_w
           for r in registry.get("events_markov_stationary")
                    .builder(hand, "unused").collect()}

    # transitions per user in (ts, event_id) order
    per_user: dict[int, list] = {}
    for i, (u, et) in enumerate(seq):
        per_user.setdefault(u, []).append(et)
    counts: dict[str, dict[str, int]] = {}
    for chain in per_user.values():
        for a, b in zip(chain, chain[1:]):
            counts.setdefault(a, {})[b] = counts.get(a, {}).get(b, 0) + 1
    p = {
        src: {dst: c / sum(d.values()) for dst, c in d.items()}
        for src, d in counts.items()
    }
    k = len(p)
    x = {s: 1.0 / k for s in p}
    for _ in range(3):
        acc: dict[str, Decimal] = {}
        for src, w in x.items():
            for dst, prob in p.get(src, {}).items():
                acc[dst] = acc.get(dst, Decimal(0)) + _dec(w * prob, "1e-6")
        x = {dst: float(v) for dst, v in acc.items()}
    assert set(got) == set(x)
    for s, w in x.items():
        assert got[s] == pytest.approx(w, abs=2e-6)


# ---------------------------------------------------------------------------
# window_seasonal_baseline
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5000)),  # (hour, cents)
        min_size=1,
        max_size=16,
    )
)
def test_seasonal_baseline_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _seasonal_baseline

    rows = [
        (i, h * 3600 + i, 1, "click", c / 100.0) for i, (h, c) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = {r.event_id: r for r in hand.sql(_seasonal_baseline(SPARK)).collect()}

    cells: dict[int, list] = {}
    for h, c in pts:
        cells.setdefault(h, []).append(c / 100.0)
    means = {
        h: float(sum((_dec(v, "1e-9") for v in vs), Decimal(0))) / len(vs)
        for h, vs in cells.items()
    }
    for i, (h, c) in enumerate(pts):
        r = got[i]
        assert (r.hr, r.n_cell) == (h, len(cells[h]))
        assert r.cell_mean == pytest.approx(means[h], abs=2e-6)
        assert r.seasonal_dev == pytest.approx(c / 100.0 - means[h], abs=2e-6)


# ---------------------------------------------------------------------------
# profile_completeness_nulls
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.booleans(), st.booleans()),  # (value null?, props null?)
        min_size=1,
        max_size=12,
    )
)
def test_completeness_matches_bruteforce(hand, flags):
    from rugpull_data_pipeline_spark.plans.feature_ops import _completeness

    hand_table(
        hand,
        "events",
        [
            (
                i,
                None,  # ts null on every row — the all-null column case
                1,
                "click",
                None if nv else 1.0,
                None if np_ else "{}",
            )
            for i, (nv, np_) in enumerate(flags)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {r.col_name: r for r in hand.sql(_completeness(SPARK)).collect()}

    n = len(flags)
    expect = {
        "event_id": 0,
        "ts": n,
        "user_id": 0,
        "event_type": 0,
        "value": sum(1 for nv, _ in flags if nv),
        "props": sum(1 for _, np_ in flags if np_),
    }
    assert set(got) == set(expect)
    for col, n_null in expect.items():
        assert (got[col].n_rows, got[col].n_null) == (n, n_null)
        assert got[col].null_frac == pytest.approx(round(n_null / n, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# sample_stratified_neyman
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 5000)),
        max_size=16,
    )
)
def test_neyman_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.stats_eval import _NEYMAN_BUDGET, _neyman

    pts = list(pts) + [("z", 100), ("z", 900)]  # one spread stratum: tw > 0
    rows = [(i, 10 * i, 1, et, c / 100.0) for i, (et, c) in enumerate(pts)]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_neyman(SPARK)).collect()}

    strata: dict[str, list] = {}
    for et, c in pts:
        strata.setdefault(et, []).append(c / 100.0)
    wgt = {}
    for et, vs in strata.items():
        n = float(len(vs))
        s1 = float(sum((_dec(v, "1e-6") for v in vs), Decimal(0)))
        s2 = float(sum((_dec(v * v, "1e-6") for v in vs), Decimal(0)))
        var = s2 / n - (s1 / n) ** 2
        sd = math.sqrt(max(var, 0.0))
        wgt[et] = (n, sd, n * sd)
    tw = float(sum((_dec(w, "1e-6") for _, _, w in wgt.values()), Decimal(0)))
    assert set(got) == set(wgt)
    for et, (n, sd, w) in wgt.items():
        assert got[et].n_rows == int(n)
        assert got[et].std_pop == pytest.approx(sd, abs=2e-6)
        # floor() at an exact integer boundary is knife-edge under float
        # divide — allow one-off only when within an ulp of the boundary
        exact = _NEYMAN_BUDGET * w / tw
        alloc = math.floor(exact)
        assert got[et].alloc_n in {alloc, alloc - 1, alloc + 1}
        assert abs(got[et].alloc_n - exact) <= 1.0


# ---------------------------------------------------------------------------
# events_interarrival_stats
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 86400), min_size=2, max_size=16))
def test_interarrival_matches_bruteforce(hand, times):
    from rugpull_data_pipeline_spark.plans.stats_eval import _interarrival

    rows = [(i, t, 1, "click", 1.0) for i, t in enumerate(times)]
    _mk_events(hand, rows)
    got = hand.sql(_interarrival(SPARK)).collect()[0]

    # order by (t, event_id): stable sort on (t, index)
    ordered = [t for t, _ in sorted(zip(times, range(len(times))))]
    gaps = [b - a for a, b in zip(ordered, ordered[1:])]
    gaps_sorted = sorted(gaps)
    n = len(gaps)
    # median = smallest gap value with 2 * count_le >= n (no interpolation)
    grid = sorted(set(gaps))
    med = min(v for v in grid if 2 * sum(1 for g in gaps if g <= v) >= n)
    assert (got.n_gaps, got.min_gap_s, got.max_gap_s) == (n, gaps_sorted[0], gaps_sorted[-1])
    assert got.median_gap_s == med
    assert got.mean_gap_s == pytest.approx(sum(gaps) / n, abs=2e-6)


# ---------------------------------------------------------------------------
# window_vpin_toxicity
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(1, 99999), min_size=1, max_size=18))
def test_vpin_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.stats_eval import _VPIN_BUCKET, _vpin

    rows = [(i, 10 * i, 1, "click", c / 100.0) for i, c in enumerate(cents_list)]
    _mk_events(hand, rows)
    got = hand.sql(_vpin(SPARK)).collect()[0]

    vs = [_floor_cents(c) for c in cents_list]
    # tick rule: sign of the last nonzero change; first trade pinned +1
    dirs, last = [], 1
    for i, v in enumerate(vs):
        if i > 0:
            dv = v - vs[i - 1]
            if dv > 0:
                last = 1
            elif dv < 0:
                last = -1
        dirs.append(last)
    cum = 0
    buckets: dict[int, list] = {}
    for v, d_ in zip(vs, dirs):
        b = buckets.setdefault(cum // _VPIN_BUCKET, [0, 0])
        b[0 if d_ == 1 else 1] += v
        cum += v
    total = sum(b + s for b, s in buckets.values())
    vpin = float(
        sum(
            (_q9_then_dec6(abs(b - s) / (b + s)) for b, s in buckets.values()),
            Decimal(0),
        )
    ) / len(buckets)
    assert got.n_buckets == len(buckets)
    assert got.total_volume_cents == total
    assert got.vpin == pytest.approx(round(vpin, 6), abs=2e-6)


# ---------------------------------------------------------------------------
# profile_freq_of_freq / text_zipf_fit on random token multisets
# ---------------------------------------------------------------------------

_TOKEN_COUNTS = st.lists(st.integers(1, 9), min_size=2, max_size=12)


@settings(**PROP)
@given(_TOKEN_COUNTS)
def test_freq_of_freq_matches_bruteforce(hand, counts):
    from rugpull_data_pipeline_spark.plans.stats_eval import _freq_of_freq

    text = " ".join(f"t{i}" for i, c in enumerate(counts) for _ in range(c))
    _mk_docs(hand, [(0, text, "en", "s1")])
    got = {r.r: r for r in hand.sql(_freq_of_freq(SPARK)).collect()}

    nr: dict[int, int] = {}
    for c in counts:
        nr[c] = nr.get(c, 0) + 1
    n_occ = sum(r * t for r, t in nr.items())
    bands = sorted(nr)
    assert sorted(got) == bands[:50]
    for i, r in enumerate(bands):
        row = got[r]
        assert row.n_types == nr[r]
        assert row.occurrences == r * nr[r]
        assert row.mass_share == pytest.approx(round(r * nr[r] / n_occ, 6), abs=1e-9)
        if i + 1 < len(bands) and bands[i + 1] == r + 1:
            expect = (r + 1) * nr[r + 1] / nr[r]
            assert row.gt_adjusted_r == pytest.approx(round(expect, 6), abs=1e-9)
        else:
            assert row.gt_adjusted_r is None


@settings(**PROP)
@given(_TOKEN_COUNTS)
def test_zipf_fit_matches_bruteforce(hand, counts):
    from rugpull_data_pipeline_spark.plans.stats_eval import _zipf

    # two extra types with distinct counts guarantee >= 2 ranks
    counts = list(counts) + [11, 12]
    text = " ".join(f"t{i:02d}" for i, c in enumerate(counts) for _ in range(c))
    _mk_docs(hand, [(0, text, "en", "s1")])
    row = hand.sql(_zipf(SPARK)).collect()[0]

    freq = sorted(
        ((f"t{i:02d}", c) for i, c in enumerate(counts)),
        key=lambda tc: (-tc[1], tc[0]),
    )[:100]
    pts = [
        (float(_dec(math.log(rk), "1e-9")), float(_dec(math.log(c), "1e-9")))
        for rk, (_tok, c) in enumerate(freq, start=1)
    ]
    n = float(len(pts))
    sx = float(sum((_dec(x, "1e-6") for x, _ in pts), Decimal(0)))
    sy = float(sum((_dec(y, "1e-6") for _, y in pts), Decimal(0)))
    sxy = float(sum((_dec(x * y, "1e-6") for x, y in pts), Decimal(0)))
    sxx = float(sum((_dec(x * x, "1e-6") for x, _ in pts), Decimal(0)))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row.n_terms == len(pts)
    assert row.zipf_slope == pytest.approx(slope, abs=2e-5)
    assert row.intercept == pytest.approx((sy - slope * sx) / n, abs=2e-5)


# ---------------------------------------------------------------------------
# text_bigram_kneser_ney
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=8),
        min_size=1,
        max_size=4,
    )
)
@pytest.mark.slow_property
def test_bigram_kneser_ney_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans import registry

    docs = docs + [["a", "b", "a", "c"]]  # at least one scorable doc
    _mk_docs(
        hand,
        [(i, " ".join(toks), "en", "s1") for i, toks in enumerate(docs)],
    )
    got = {r.doc_id: r for r in registry.get("text_bigram_kneser_ney")
                                .builder(hand, "unused").collect()}

    # global bigram statistics over ' '-split tokens, docs with >= 2
    cb: dict[tuple, int] = {}
    per_doc: dict[int, list] = {}
    for i, toks in enumerate(docs):
        if len(toks) < 2:
            continue
        bgs = list(zip(toks, toks[1:]))
        per_doc[i] = bgs
        for bg in bgs:
            cb[bg] = cb.get(bg, 0) + 1
    c1: dict[str, int] = {}
    n1p: dict[str, int] = {}
    n1f: dict[str, int] = {}
    for (w1, w2), c in cb.items():
        c1[w1] = c1.get(w1, 0) + c
        n1p[w1] = n1p.get(w1, 0) + 1
        n1f[w2] = n1f.get(w2, 0) + 1
    tt = len(cb)
    lp7 = {
        bg: float(
            _dec(
                math.log(
                    (cb[bg] - 0.75) / c1[bg[0]]
                    + 0.75 * n1p[bg[0]] / c1[bg[0]] * (n1f[bg[1]] / tt)
                ),
                "1e-7",
            )
        )
        for bg in cb
    }
    assert set(got) == set(per_doc)
    for i, bgs in per_doc.items():
        s = sum((_dec(lp7[bg], "1e-6") for bg in bgs), Decimal(0))
        n = len(bgs)
        big_n = int(-s * 10**6)  # exact: s has 6-dp scale
        expect = ((2 * big_n + n) // (2 * n)) / 1e6
        assert got[i].n_bigrams == n
        assert got[i].avg_nll_kn == pytest.approx(expect, abs=1e-9)
