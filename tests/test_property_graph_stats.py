"""Round-6 brute-force property tests for the r6-window queries whose
algebra had only hand-built fixtures so far: the graph family (triangle
counting, k-core) on RANDOM graphs, and the remaining statistics window
(McNemar, chi-square, mutual information, winsorized mean, daily OLS,
series correlation, k-anonymity).

The oracle hash-compare proves Spark == DuckDB on the same algebra; these
prove the algebra itself against textbook definitions on random inputs,
replicating the floor-cents / decimal(38,6)-quantized-sum chains exactly
(the test_stats_eval.py convention)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _floor_cents, hand_table, _mk_docs, _mk_events


def _dec6(x: float) -> Decimal:
    """Replicate Spark's cast(double as decimal(38,6)): shortest decimal
    repr (BigDecimal.valueOf == Python repr), HALF_UP to 6 dp."""
    return Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP)


def _dec9(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)


# ---------------------------------------------------------------------------
# Graph family on random graphs
# ---------------------------------------------------------------------------

_EDGES = st.sets(
    st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(lambda e: e[0] < e[1]),
    min_size=1,
    max_size=14,
)


@settings(**PROP)
@given(_EDGES)
def test_triangle_count_matches_bruteforce(hand, edge_set):
    """Inject an ARBITRARY graph through the co-occurrence build (one
    2-user event group per edge) and check per-user triangle counts
    against O(n^3) enumeration — exercises the degree-ordered orientation
    on graphs that are NOT unions of cliques."""
    from rugpull_data_pipeline_spark.plans import registry

    rows, eid = [], 0
    for k, (u, v) in enumerate(sorted(edge_set)):
        # both members inside one hour bucket; group size 2 <= cap
        rows.append((eid, 2 * k, u, f"e{k}", 1.0)); eid += 1
        rows.append((eid, 2 * k + 1, v, f"e{k}", 1.0)); eid += 1
    _mk_events(hand, rows)
    got = {r.user_id: r.n_triangles
           for r in registry.get("graph_triangle_count")
                    .builder(hand, "unused").collect()}

    edges = set(edge_set)
    nodes = sorted({n for e in edges for n in e})
    expect: dict[int, int] = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            for c in nodes[nodes.index(b) + 1:]:
                if ((a, b) in edges and (a, c) in edges and (b, c) in edges):
                    for n in (a, b, c):
                        expect[n] = expect.get(n, 0) + 1
    assert got == expect  # only triangle corners appear; counts exact


@settings(**PROP)
@given(_EDGES)
def test_kcore_peel_matches_bruteforce(hand, edge_set):
    """One full k=2 peel round (degree, prune, re-degree) on random
    graphs, injected straight through the edges argument."""
    from rugpull_data_pipeline_spark.plans.feature_ops import _KCORE_K, _kcore

    edges = sorted(edge_set)
    vals = ", ".join(f"({u}, {v})" for u, v in edges)
    src = f"SELECT * FROM (VALUES {vals}) AS t(u, v)"
    got = {r.user_id: r.core_degree for r in hand.sql(
        _kcore(SPARK, src)).collect()}

    deg0: dict[int, int] = {}
    for u, v in edges:
        deg0[u] = deg0.get(u, 0) + 1
        deg0[v] = deg0.get(v, 0) + 1
    alive = {n for n, d in deg0.items() if d >= _KCORE_K}
    deg1: dict[int, int] = {}
    for u, v in edges:
        if u in alive and v in alive:
            deg1[u] = deg1.get(u, 0) + 1
            deg1[v] = deg1.get(v, 0) + 1
    expect = {n: d for n, d in deg1.items() if d >= _KCORE_K}
    assert got == expect


# ---------------------------------------------------------------------------
# Eval / statistics window
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.tuples(st.integers(0, 3000), st.booleans()), max_size=14))
def test_mcnemar_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.stats_eval import (
        _MCN_T_A, _MCN_T_B, _mcnemar,
    )

    pts = list(pts) + [(700, True)]  # non-empty
    rows = [
        (i, 10 * i, 1, "purchase" if pos else "click", c / 100.0)
        for i, (c, pos) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_mcnemar(SPARK)).collect()[0]

    b = c_ = ra = rb = 0
    for cents, pos in pts:
        s = _floor_cents(cents)
        y, pa, pb = int(pos), int(s >= _MCN_T_A), int(s >= _MCN_T_B)
        ra += pa == y
        rb += pb == y
        b += pa != y and pb == y
        c_ += pa == y and pb != y
    assert (got.n, got.right_a, got.right_b) == (len(pts), ra, rb)
    assert (got.b_only_b, got.c_only_a) == (b, c_)
    if b + c_ == 0:
        assert got.mcnemar_chi2 is None
    else:
        assert got.mcnemar_chi2 == pytest.approx((b - c_) ** 2 / (b + c_), abs=1e-6)
        cc = max(abs(b - c_) - 1, 0) ** 2 / (b + c_)
        assert got.mcnemar_cc == pytest.approx(cc, abs=1e-6)


_DOC_GRID = st.lists(
    st.tuples(st.sampled_from(["en", "fr", "zh"]), st.sampled_from(["s1", "s2"])),
    min_size=2,
    max_size=20,
)


@settings(**PROP)
@given(_DOC_GRID)
def test_chi2_matches_bruteforce(hand, cells):
    from rugpull_data_pipeline_spark.plans import registry

    _mk_docs(hand, [(i, "w", l, s) for i, (l, s) in enumerate(cells)])
    got = registry.get("agg_chi2_independence").builder(hand, "unused").collect()[0]

    n = len(cells)
    obs: dict[tuple[str, str], int] = {}
    for key in cells:
        obs[key] = obs.get(key, 0) + 1
    langs = sorted({l for l, _ in cells})
    srcs = sorted({s for _, s in cells})
    rl = {l: sum(v for (a, _), v in obs.items() if a == l) for l in langs}
    cs = {s: sum(v for (_, b), v in obs.items() if b == s) for s in srcs}
    total = Decimal(0)
    for l in langs:  # the SQL grid includes structural zeros
        for s in srcs:
            e = rl[l] * cs[s] / n
            o = obs.get((l, s), 0)
            total += _dec6((o - e) * (o - e) / e)
    assert got.n_docs == n
    assert got.dof == (len(langs) - 1) * (len(srcs) - 1)
    assert got.chi2 == pytest.approx(float(total), abs=2e-6)


@settings(**PROP)
@given(_DOC_GRID)
def test_mutual_info_matches_bruteforce(hand, cells):
    from rugpull_data_pipeline_spark.plans import registry

    _mk_docs(hand, [(i, "w", l, s) for i, (l, s) in enumerate(cells)])
    got = registry.get("agg_mutual_info").builder(hand, "unused").collect()[0]

    n = len(cells)
    obs: dict[tuple[str, str], int] = {}
    for key in cells:
        obs[key] = obs.get(key, 0) + 1
    rl = {l: sum(v for (a, _), v in obs.items() if a == l) for l in {l for l, _ in cells}}
    cs = {s: sum(v for (_, b), v in obs.items() if b == s) for s in {s for _, s in cells}}
    mi = sum(
        (_dec6((c / n) * math.log(c * n / (rl[l] * cs[s]))) for (l, s), c in obs.items()),
        Decimal(0),
    )
    hl = sum((_dec6((v / n) * math.log(n / v)) for v in rl.values()), Decimal(0))
    hs = sum((_dec6((v / n) * math.log(n / v)) for v in cs.values()), Decimal(0))
    assert got.mi_nats == pytest.approx(float(mi), abs=2e-6)
    assert got.h_lang == pytest.approx(float(hl), abs=2e-6)
    assert got.h_source == pytest.approx(float(hs), abs=2e-6)
    if hl > 0 and hs > 0:
        assert got.nmi == pytest.approx(
            float(mi) / math.sqrt(float(hl) * float(hs)), abs=2e-6
        )
    else:
        assert got.nmi == 0.0


@settings(**PROP)
@given(st.lists(st.integers(0, 5000), min_size=1, max_size=16))
def test_winsorized_mean_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.stats_eval import _winsorized

    rows = [(i, 10 * i, 1, "click", c / 100.0) for i, c in enumerate(cents_list)]
    _mk_events(hand, rows)
    got = hand.sql(_winsorized(SPARK)).collect()[0]

    vals = sorted(_floor_cents(c) for c in cents_list)
    n = len(vals)
    # smallest grid value whose cumulative count crosses the threshold
    grid = sorted(set(vals))
    le = {v: sum(1 for x in vals if x <= v) for v in grid}
    p10 = min(v for v in grid if 10 * le[v] >= n)
    p90 = min(v for v in grid if 10 * le[v] >= 9 * n)
    wsum = sum((_dec6(min(max(v, p10), p90) / 100.0) for v in vals), Decimal(0))
    rsum = sum((_dec6(v / 100.0) for v in vals), Decimal(0))
    assert (got.p10_cents, got.p90_cents) == (p10, p90)
    assert got.winsorized_mean == pytest.approx(float(wsum) / n, abs=2e-6)
    assert got.raw_mean == pytest.approx(float(rsum) / n, abs=2e-6)


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(1, 9000)),  # (day, cents)
        min_size=2,
        max_size=16,
    ).filter(lambda xs: len({d for d, _ in xs}) >= 2)
)
def test_linreg_daily_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _linreg_daily

    rows = [
        (i, d * 86400, 1, "click", c / 100.0) for i, (d, c) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_linreg_daily(SPARK)).collect()[0]

    # daily mean: decimal(38,9)-exact value sum / count; x = datediff from
    # 2024-01-01 (epoch-day 19723), so day d of 1970 maps to d - 19723.
    per_day: dict[int, list[float]] = {}
    for d, c in pts:
        per_day.setdefault(d, []).append(c / 100.0)
    xs, ys = [], []
    for d, vs in sorted(per_day.items()):
        xs.append(d - 19723)
        ys.append(float(sum((_dec9(v) for v in vs), Decimal(0))) / len(vs))
    n = len(xs)
    sx = float(sum((_dec9(float(x)) for x in xs), Decimal(0)))
    sy = float(sum((_dec9(y) for y in ys), Decimal(0)))
    sxy = float(sum((_dec9(x * y) for x, y in zip(xs, ys)), Decimal(0)))
    sxx = float(sum((_dec9(float(x * x)) for x in xs), Decimal(0)))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert got.n_days == n
    assert got.slope_per_day == pytest.approx(slope, abs=2e-6)
    assert got.intercept == pytest.approx((sy - slope * sx) / n, abs=2e-6)


def test_series_correlation_matches_replica(hand):
    """30 aligned hourly buckets, two deterministic mixed series — Pearson
    from the same decimal-exact co-moments as the SQL."""
    from rugpull_data_pipeline_spark.plans.pipeline_ops import _series_correlation

    va = [float((i * 37) % 11 + 1) for i in range(30)]
    vb = [float((i * 23) % 7 + 2) for i in range(30)]
    rows = []
    for i in range(30):
        rows.append((i, i * 3600, 1, "a", va[i]))
        rows.append((100 + i, i * 3600, 1, "b", vb[i]))
    _mk_events(hand, rows)
    row = hand.sql(_series_correlation(SPARK)).collect()[0]
    assert (row.type_a, row.type_b, row.n_buckets) == ("a", "b", 30)
    n = 30.0
    sx, sy = sum(va), sum(vb)  # integers-valued doubles: decimal sums exact
    sxy = sum(a * b for a, b in zip(va, vb))
    sxx, syy = sum(a * a for a in va), sum(b * b for b in vb)
    r = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert row.pearson_r == pytest.approx(round(r, 6), abs=1e-9)


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # nation
            st.sampled_from(["AUTO", "BLDG"]),  # segment
            st.integers(-2500, 9500),  # acctbal cents-free dollars
        ),
        min_size=1,
        max_size=24,
    )
)
def test_k_anonymity_matches_bruteforce(hand, custs):
    from rugpull_data_pipeline_spark.plans.quality_ops import _k_anonymity

    hand_table(
        hand,
        "customer",
        [(i, n, s, float(b)) for i, (n, s, b) in enumerate(custs)],
        "c_custkey long, c_nationkey int, c_mktsegment string, c_acctbal double",
    )
    got = {r.k: r for r in hand.sql(_k_anonymity(SPARK)).collect()}

    grp: dict[tuple, int] = {}
    for n, s, b in custs:
        key = (n, s, math.floor(b / 1000.0))
        grp[key] = grp.get(key, 0) + 1
    total = len(custs)
    assert sorted(got) == [2, 5, 10]
    for k in (2, 5, 10):
        viol = [sz for sz in grp.values() if sz < k]
        assert got[k].n_groups == len(grp)
        assert got[k].n_violating_groups == len(viol)
        assert got[k].rows_at_risk == sum(viol)
        assert got[k].risk_rate == pytest.approx(sum(viol) / total, abs=1e-6)
