"""Round-9 brute-force property tests for the analytics tier: t-closeness
EMD, weighted Bellman-Ford shortest paths, boosted stumps, sequential
support, DAU/WAU/MAU, nearest-value join, PR-AUC, KS separation, and the
peak-hour mode — the operators whose algebra the hash-compare alone can't
explain. Each test rebuilds the answer in plain Python over
hypothesis-generated hand data and compares it to the Spark SQL/builder
run against hand temp views (the test_property_* convention)."""

from __future__ import annotations


import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from tests.helpers import PROP, hand_table, _mk_events, _mk_lineitem, _round6


def _mk_customer(spark, rows):
    hand_table(
        spark,
        "customer",
        [(i, f"c{i}", nat, bal, seg) for i, (nat, seg, bal) in enumerate(rows)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )


# ---------------------------------------------------------------------------
# quality_t_closeness — exact EMD over the ordered band grid
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # nation
            st.sampled_from(["A", "B"]),  # segment
            st.integers(-3000, 5000),  # acctbal (integer -> exact banding)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_t_closeness_matches_bruteforce(hand, rows):
    from rugpull_data_pipeline_spark.plans.analytics_ops import _t_closeness

    _mk_customer(hand, [(n, s, float(b)) for n, s, b in rows])
    got = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in hand.sql(_t_closeness(SPARK)).collect()
    }

    import math

    bands = sorted({math.floor(b / 1000.0) for _, _, b in rows})
    m = len(bands)
    N = len(rows)
    gcum, c = {}, 0
    for band in bands:
        c += sum(1 for _, _, b in rows if math.floor(b / 1000.0) == band)
        gcum[band] = c
    groups = {(n, s) for n, s, _ in rows}
    for g in groups:
        mine = [b for n, s, b in rows if (n, s) == g]
        ng = len(mine)
        acc, cn = 0, 0
        for band in bands:
            cn += sum(1 for b in mine if math.floor(b / 1000.0) == band)
            acc += abs(cn * N - gcum[band] * ng)
        emd = 0.0 if m <= 1 else acc / (ng * N * (m - 1))
        r = got[g]
        assert r.n_rows == ng
        assert r.emd == pytest.approx(_round6(emd), abs=1e-9)
        assert r.fails_t25 == (1 if r.emd > 0.25 else 0)
    assert set(got) == groups


# ---------------------------------------------------------------------------
# graph_sssp_bellman3 — 3-round relaxation vs brute force
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 9)),  # (order, part)
        min_size=1,
        max_size=30,
    ),
    st.sets(st.integers(0, 9), min_size=1, max_size=3),  # seed part keys
)
def test_sssp_matches_bruteforce(hand, pairs, seeds):
    li = [
        (o, p, i, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", 1_700_000_000 + i)
        for i, (o, p) in enumerate(pairs)
    ]
    _mk_lineitem(hand, li)
    all_parts = sorted({p for _, p in pairs} | seeds)
    hand_table(
        hand,
        "part",
        [(p, f"p{p}", "B", "T", 1 if p in seeds else 2, 10.0) for p in all_parts],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    got = [
        (r.rn, r.node, r.dist)
        for r in registry.get("graph_sssp_bellman3").builder(hand, "unused").collect()
    ]

    by_order: dict[int, set[int]] = {}
    for o, p in pairs:
        by_order.setdefault(o, set()).add(p)
    wcount: dict[tuple[int, int], int] = {}
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                wcount[(a, b)] = wcount.get((a, b), 0) + 1
    adj: dict[int, list[tuple[int, int]]] = {}
    for (a, b), c in wcount.items():
        w = max(1, 11 - min(10, c))
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    dist = {p: 0 for p in seeds}
    for _ in range(3):
        nxt = dict(dist)
        for u, du in dist.items():
            for v, w in adj.get(u, []):
                if du + w < nxt.get(v, 10**9):
                    nxt[v] = du + w
        dist = nxt
    ranked = sorted(
        ((d, n) for n, d in dist.items() if n not in seeds)
    )[:20]
    expect = [(i + 1, n, d) for i, (d, n) in enumerate(ranked)]
    assert got == expect


# ---------------------------------------------------------------------------
# mlprep_boosted_stumps2 — exact two-round stump fit
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 40),  # cents score
            st.integers(0, 5),  # hour bucket
            st.booleans(),  # purchase
        ),
        min_size=4,
        max_size=60,
    )
)
def test_boosted_stumps_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.analytics_ops import _boosted_stumps

    rows = [
        (i, 1_700_000_000 + h * 3600 + (i % 60), i % 7,
         "purchase" if y else "click", c / 100.0)
        for i, (c, h, y) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    out = {r.stage: r for r in hand.sql(_boosted_stumps(SPARK)).collect()}

    # stage 1: exact gain over the cents grid
    grid = sorted({c for c, _, _ in pts})
    n_tot = len(pts)
    y_tot = sum(1 for _, _, y in pts if y)
    best1 = None
    for t in grid:
        nl = sum(1 for c, _, _ in pts if c <= t)
        yl = sum(1 for c, _, y in pts if c <= t and y)
        nr, yr = n_tot - nl, y_tot - yl
        if nl == 0 or nr == 0:
            continue
        gain = yl * yl / nl + yr * yr / nr
        if best1 is None or gain > best1[0] + 1e-12:
            best1 = (gain, t, nl, yl, nr, yr)
    if best1 is None:
        assert 1 not in out
        return
    gain, t1, nl, yl, nr, yr = best1
    r1 = out[1]
    assert (r1.threshold, r1.n_left, r1.n_right) == (t1, nl, nr)
    ml, mr = yl / nl, yr / nr
    assert r1.mean_left == pytest.approx(_round6(ml), abs=1e-9)
    assert r1.mean_right == pytest.approx(_round6(mr), abs=1e-9)

    # stage 2: residual stump on the hour grid
    hours = sorted({(1_700_000_000 + h * 3600 + (i % 60)) // 3600 % 24
                    for i, (_, h, _) in enumerate(pts)})
    def resid(i, c, y):
        return (1 if y else 0) - (ml if c <= t1 else mr)
    per_hour = {}
    for i, (c, h, y) in enumerate(pts):
        hh = (1_700_000_000 + h * 3600 + (i % 60)) // 3600 % 24
        s, n = per_hour.get(hh, (0.0, 0))
        per_hour[hh] = (s + resid(i, c, y), n + 1)
    rt = sum(s for s, _ in per_hour.values())
    nt = sum(n for _, n in per_hour.values())
    best2 = None
    rl = nl2 = 0
    for hh in hours:
        s, n = per_hour[hh]
        rl, nl2 = rl + s, nl2 + n
        nr2 = nt - nl2
        if nl2 == 0 or nr2 == 0:
            continue
        g2 = rl * rl / nl2 + (rt - rl) * (rt - rl) / nr2
        if best2 is None or g2 > best2[0] + 1e-9:
            best2 = (g2, hh, nl2, nr2, rl, rt - rl)
    if best2 is None:
        assert 2 not in out
        return
    _, t2, nl2, nr2, rl, rr = best2
    r2 = out[2]
    assert (r2.threshold, r2.n_left, r2.n_right) == (t2, nl2, nr2)
    assert r2.mean_left == pytest.approx(_round6(rl / nl2), abs=1e-6)
    assert r2.mean_right == pytest.approx(_round6(rr / nr2), abs=1e-6)


# ---------------------------------------------------------------------------
# events_sequential_support — first-occurrence ordering
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.sampled_from(["a", "b", "c"]),  # type
            st.integers(0, 50),  # seconds offset
        ),
        min_size=1,
        max_size=40,
    )
)
def test_sequential_support_matches_bruteforce(hand, evs):
    from rugpull_data_pipeline_spark.plans.analytics_ops import _seq_support

    rows = [
        (i, 1_700_000_000 + t, u, ty, 1.0) for i, (u, ty, t) in enumerate(evs)
    ]
    _mk_events(hand, rows)
    got = {
        (r.type_a, r.type_b): r for r in hand.sql(_seq_support(SPARK)).collect()
    }

    first: dict[tuple[int, str], int] = {}
    for u, ty, t in evs:
        k = (u, ty)
        first[k] = min(first.get(k, 10**18), 1_700_000_000 + t)
    users = {u for u, _, _ in evs}
    types = sorted({ty for _, ty, _ in evs})
    for a in types:
        for b in types:
            if a == b:
                continue
            both = [
                u for u in users if (u, a) in first and (u, b) in first
            ]
            if not both:
                assert (a, b) not in got
                continue
            nseq = sum(
                1
                for u in both
                if first[(u, a)] < first[(u, b)]
                or (first[(u, a)] == first[(u, b)] and a < b)
            )
            r = got[(a, b)]
            assert r.n_both == len(both)
            assert r.n_seq == nseq


# ---------------------------------------------------------------------------
# events_dau_wau_mau — sliding distinct windows
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.dictionaries(
        st.integers(0, 4),  # user
        st.sets(st.integers(0, 20), min_size=1, max_size=10),  # active days
        min_size=1,
        max_size=5,
    )
)
def test_dau_wau_mau_matches_bruteforce(hand, per_user):
    from rugpull_data_pipeline_spark.plans import registry

    rows = []
    eid = 0
    for u, days in per_user.items():
        for d in days:
            rows.append((eid, d * 86400 + 60, u, "click", 1.0))
            eid += 1
    _mk_events(hand, rows)
    got = {r.day_idx: r for r in registry.get("events_dau_wau_mau")
                                 .builder(hand, "unused").collect()}

    days_present = sorted({d for ds in per_user.values() for d in ds})
    for d in days_present:
        dau = sum(1 for ds in per_user.values() if d in ds)
        wau = sum(
            1 for ds in per_user.values() if any(d - 6 <= x <= d for x in ds)
        )
        mau = sum(
            1 for ds in per_user.values() if any(d - 29 <= x <= d for x in ds)
        )
        r = got[d]
        assert (r.dau, r.wau, r.mau) == (dau, wau, mau)
        assert r.stickiness == pytest.approx(_round6(dau / wau), abs=1e-9)
    assert set(got) == set(days_present)


# ---------------------------------------------------------------------------
# join_nearest_value_1d — nearest distinct catalog cents
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(st.integers(0, 300), min_size=1, max_size=20),  # catalog cents
    st.lists(st.integers(0, 300), min_size=1, max_size=6),  # probe cents
)
def test_nearest_value_matches_bruteforce(hand, cat, probes):
    from rugpull_data_pipeline_spark.plans.analytics_ops import _nearest_value

    hand_table(
        hand,
        "part",
        [(k, f"p{k}", "B", "T", 1, c / 100.0) for k, c in enumerate(cat)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    rows = [
        ((i + 1) * 500, 1_700_000_000 + i, i, "click", c / 100.0)
        for i, c in enumerate(probes)
    ]
    _mk_events(hand, rows)
    got = {r.event_id: r for r in hand.sql(_nearest_value(SPARK)).collect()}

    cset = sorted(set(cat))
    for i, c in enumerate(probes):
        eid = (i + 1) * 500
        prev = max((x for x in cset if x <= c), default=None)
        nxt = min((x for x in cset if x > c), default=None)
        if prev is None:
            near = nxt
        elif nxt is None:
            near = prev
        else:
            near = prev if c - prev <= nxt - c else nxt
        r = got[eid]
        assert r.probe_cents == c
        assert r.nearest_cents == near
        assert r.dist_cents == abs(c - near)
    assert set(got) == {(i + 1) * 500 for i in range(len(probes))}


# ---------------------------------------------------------------------------
# eval_pr_auc_trapezoid + eval_ks_separation — exact curve recomputation
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.booleans()),  # (cents, purchase)
        min_size=2,
        max_size=60,
    )
)
def test_pr_auc_and_ks_match_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.analytics_ops import (
        _ks_separation,
        _pr_auc,
    )

    rows = [
        (i, 1_700_000_000 + i, i % 3, "purchase" if y else "click", c / 100.0)
        for i, (c, y) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    pr_rows = hand.sql(_pr_auc(SPARK)).collect()
    ks_rows = hand.sql(_ks_separation(SPARK)).collect()

    grid_desc = sorted({c for c, _ in pts}, reverse=True)
    pos = sum(1 for _, y in pts if y)
    neg = len(pts) - pos
    # PR-AUC
    auc, prev_rec, prev_prec = 0.0, 0.0, 1.0
    for t in grid_desc:
        tp = sum(1 for c, y in pts if c >= t and y)
        pp = sum(1 for c, _ in pts if c >= t)
        prec = tp / pp
        rec = tp / pos if pos else None
        if rec is not None:
            auc += (rec - prev_rec) * (prec + prev_prec) / 2
            prev_rec, prev_prec = rec, prec
    assert len(pr_rows) == 1
    r = pr_rows[0]
    assert (r.n_pos, r.n_neg, r.n_thresholds) == (pos, neg, len(grid_desc))
    if pos:
        assert r.pr_auc == pytest.approx(_round6(auc), abs=1e-6)
    else:
        assert r.pr_auc is None
    # KS
    if pos and neg:
        best = None
        for t in sorted({c for c, _ in pts}):
            cp = sum(1 for c, y in pts if c <= t and y)
            cn = sum(1 for c, y in pts if c <= t and not y)
            sep = abs(cp * neg - cn * pos)
            if best is None or sep > best[0]:
                best = (sep, t)
        assert len(ks_rows) == 1
        k = ks_rows[0]
        assert (k.n_pos, k.n_neg, k.ks_at_cents) == (pos, neg, best[1])
        assert k.ks_stat == pytest.approx(_round6(best[0] / (pos * neg)), abs=1e-9)
    else:
        assert not ks_rows


# ---------------------------------------------------------------------------
# agg_mode_peak_hour — deterministic argmax with hour tie-break
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 23)),
        min_size=1,
        max_size=50,
    )
)
def test_mode_peak_hour_matches_bruteforce(hand, evs):
    from rugpull_data_pipeline_spark.plans.analytics_ops import _mode_peak_hour

    rows = [
        (i, 1_700_000_000 // 86400 * 86400 + h * 3600 + i % 60, i, ty, 1.0)
        for i, (ty, h) in enumerate(evs)
    ]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_mode_peak_hour(SPARK)).collect()}

    for ty in {t for t, _ in evs}:
        counts: dict[int, int] = {}
        for t, h in evs:
            if t == ty:
                counts[h] = counts.get(h, 0) + 1
        peak = min(
            counts, key=lambda h: (-counts[h], h)
        )
        n_type = sum(counts.values())
        r = got[ty]
        assert (r.peak_hour, r.n_at_peak) == (peak, counts[peak])
        assert r.peak_share == pytest.approx(
            _round6(counts[peak] / n_type), abs=1e-9
        )
