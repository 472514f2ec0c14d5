"""Round-6 brute-force property tests, batch 4 — r6 driver-window
operators whose algebra previously had only hand fixtures: BM25
retrieval, calibration bins, leave-one-out target encoding, the decision
stump, and the ridge closed-form solve."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from tests.helpers import (
    DOCS_N,
    PROP,
    _dec,
    _floor_cents,
    _mk_docs,
    _mk_events,
    _q9_then_dec6,
)


# ---------------------------------------------------------------------------
# text_keyword_bm25
# ---------------------------------------------------------------------------

_VOCAB = ["table", "stream", "fast", "noise", "filler", "pad"]


@settings(**PROP)
@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    )
)
def test_bm25_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.llm_ops import _bm25

    docs = docs + [["table", "stream", "pad"]]  # at least one hit
    _mk_docs(hand, [(i, " ".join(toks), "en", "s1") for i, toks in enumerate(docs)])
    got = {r.doc_id: r for r in hand.sql(_bm25(SPARK)).collect()}

    terms = ("table", "stream", "fast")
    k1, b = 1.2, 0.75
    dl = {i: len(toks) for i, toks in enumerate(docs)}
    nd = len(docs)
    ntok = sum(dl.values())
    tf = {
        (i, t): toks.count(t)
        for i, toks in enumerate(docs)
        for t in terms
        if t in toks
    }
    df = {t: sum(1 for (i, tt) in tf if tt == t) for t in terms}
    expect = {}
    for i in range(nd):
        score, hits = Decimal(0), 0
        for t in terms:
            if (i, t) not in tf:
                continue
            hits += 1
            idf = math.log(1.0 + (nd - df[t] + 0.5) / (df[t] + 0.5))
            num = tf[(i, t)] * (k1 + 1)
            den = tf[(i, t)] + k1 * (1 - b + b * dl[i] * nd / ntok)
            score += _q9_then_dec6(idf * num / den)
        if hits:
            expect[i] = (float(score), hits)
    # top-10 by (score desc, doc_id); <= 9 docs here so all hits surface
    assert set(got) == set(expect)
    for i, (score, hits) in expect.items():
        assert got[i].n_terms_hit == hits
        assert got[i].bm25_score == pytest.approx(round(score, 6), abs=2e-6)


# ---------------------------------------------------------------------------
# eval_calibration_bins
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.tuples(st.integers(0, 900), st.booleans()), max_size=16))
def test_calibration_bins_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.stats_eval import _calibration

    pts = list(pts) + [(500, True)]  # max score > 0
    rows = [
        (i, 10 * i, 1, "purchase" if pos else "click", c / 100.0)
        for i, (c, pos) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = {r.bin: r for r in hand.sql(_calibration(SPARK)).collect()}

    scored = [(_floor_cents(c), int(pos)) for c, pos in pts]
    m = max(s for s, _ in scored)
    bins: dict[int, list] = {}
    for s, y in scored:
        b = bins.setdefault(10 * s // (m + 1), [0, 0, 0])
        b[0] += 1
        b[1] += y
        b[2] += s
    assert set(got) == set(bins)
    for bn, (c, pos, ssum) in bins.items():
        r = got[bn]
        assert (r.n_events, r.n_pos) == (c, pos)
        assert r.mean_pred == pytest.approx(round(ssum / (c * m), 6), abs=1e-9)
        assert r.pos_rate == pytest.approx(round(pos / c, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# mlprep_target_encode_loo
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 5000)),
        min_size=1,
        max_size=14,
    )
)
def test_target_encode_loo_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _TE_SMOOTH, _target_encode

    rows = [(i, 10 * i, 1, et, c / 100.0) for i, (et, c) in enumerate(pts)]
    _mk_events(hand, rows)
    got = {r.event_id: r for r in hand.sql(_target_encode(SPARK)).collect()}

    vals = [c / 100.0 for _, c in pts]
    gmean = float(sum((_dec(v, "1e-6") for v in vals), Decimal(0))) / len(vals)
    per_type: dict[str, list] = {}
    for et, c in pts:
        per_type.setdefault(et, []).append(c / 100.0)
    sums = {
        et: float(sum((_dec(v, "1e-6") for v in vs), Decimal(0)))
        for et, vs in per_type.items()
    }
    for i, (et, c) in enumerate(pts):
        v = c / 100.0
        s, cnt = sums[et], len(per_type[et])
        r = got[i]
        if cnt > 1:
            assert r.te_loo == pytest.approx((s - v) / (cnt - 1), abs=2e-6)
        else:
            assert r.te_loo is None
        smooth = (s - v + _TE_SMOOTH * gmean) / (cnt - 1 + _TE_SMOOTH)
        assert r.te_smooth == pytest.approx(smooth, abs=2e-6)


# ---------------------------------------------------------------------------
# mlprep_decision_stump
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 600), st.booleans()),
        min_size=1,
        max_size=16,
    )
)
def test_decision_stump_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.stats_eval import _stump

    rows = [
        (i, 10 * i, 1, "purchase" if pos else "click", c / 100.0)
        for i, (c, pos) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = hand.sql(_stump(SPARK)).collect()[0]

    scored = [(_floor_cents(c), int(pos)) for c, pos in pts]
    np_ = sum(y for _, y in scored)
    nn = len(scored) - np_
    best = None
    for v in sorted({s for s, _ in scored}):
        pos_le = sum(y for s, y in scored if s <= v)
        cnt_le = sum(1 for s, _ in scored if s <= v)
        neg_le = cnt_le - pos_le
        errs = min(pos_le, neg_le) + min(np_ - pos_le, nn - neg_le)
        if best is None or (errs, v) < best:
            best = (errs, v)
    errs, v = best
    assert (got.threshold_cents, got.misclassified) == (v, errs)
    n = len(scored)
    assert got.accuracy == pytest.approx(round((n - errs) / n, 6), abs=1e-9)


# ---------------------------------------------------------------------------
# mlprep_ridge_closed_form
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(["u", "v", "w", "x"]), min_size=1, max_size=8),
            st.integers(1, 400),  # n_chars
        ),
        min_size=2,
        max_size=10,
    )
)
def test_ridge_closed_form_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.feature_ops import _ridge

    docs = docs + [(["u", "v"], 50), (["u"], 300)]  # Syy > 0 guaranteed
    _mk_docs(
        hand,
        [
            (i, " ".join(toks), "en", "s1", nc)
            for i, (toks, nc) in enumerate(docs)
        ],
        DOCS_N,
    )
    row = hand.sql(_ridge(SPARK)).collect()[0]

    feats = [
        (float(nc), float(len(toks)), float(len(set(toks))))
        for toks, nc in docs
    ]
    n = float(len(feats))

    def ds(f):
        return float(sum((_dec(f(y, x1, x2), "1e-6") for y, x1, x2 in feats), Decimal(0)))

    sx1 = ds(lambda y, x1, x2: x1)
    sx2 = ds(lambda y, x1, x2: x2)
    sy = ds(lambda y, x1, x2: y)
    s11 = ds(lambda y, x1, x2: x1 * x1)
    s22 = ds(lambda y, x1, x2: x2 * x2)
    s12 = ds(lambda y, x1, x2: x1 * x2)
    s1y = ds(lambda y, x1, x2: x1 * y)
    s2y = ds(lambda y, x1, x2: x2 * y)
    syy = ds(lambda y, x1, x2: y * y)
    lam = 10.0
    a11 = s11 - sx1 * sx1 / n + lam
    a22 = s22 - sx2 * sx2 / n + lam
    a12 = s12 - sx1 * sx2 / n
    b1 = s1y - sx1 * sy / n
    b2 = s2y - sx2 * sy / n
    styy = syy - sy * sy / n
    det = a11 * a22 - a12 * a12
    w1 = (b1 * a22 - b2 * a12) / det
    w2 = (b2 * a11 - b1 * a12) / det
    assert row.n_rows == int(n)
    assert row.w1 == pytest.approx(w1, abs=2e-6)
    assert row.w2 == pytest.approx(w2, abs=2e-6)
    assert row.intercept == pytest.approx(
        sy / n - w1 * sx1 / n - w2 * sx2 / n, abs=2e-6
    )
    assert row.r2_explained == pytest.approx((w1 * b1 + w2 * b2) / styy, abs=1e-4)


# ---------------------------------------------------------------------------
# graph_pagerank_power3 on random transition sequences
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(1, 2), st.sampled_from(["a", "b", "c", "d"])),
        max_size=16,
    )
)
@pytest.mark.slow_property
def test_pagerank_matches_bruteforce(hand, seq):
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _PR_D, _PR_ITERS

    seq = list(seq) + [(9, "a"), (9, "b")]  # at least one edge
    rows = [(i, 100 + i, u, et, 1.0) for i, (u, et) in enumerate(seq)]
    _mk_events(hand, rows)
    got = {r.event_type: r.pagerank
           for r in registry.get("graph_pagerank_power3").builder(hand, "unused").collect()}

    per_user: dict[int, list] = {}
    for i, (u, et) in enumerate(seq):
        per_user.setdefault(u, []).append(et)
    cnt: dict[tuple, int] = {}
    for chain in per_user.values():
        for a, b in zip(chain, chain[1:]):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
    outs: dict[str, int] = {}
    for (a, _b), c in cnt.items():
        outs[a] = outs.get(a, 0) + c
    w = {(a, b): c / outs[a] for (a, b), c in cnt.items()}
    nodes = sorted({et for _, et in seq})
    n = float(len(nodes))
    r = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITERS):
        nxt = {}
        for v in nodes:
            contrib = sum(
                (_dec(r[a] * ww, "1e-18") for (a, b), ww in w.items() if b == v),
                Decimal(0),
            )
            nxt[v] = (1.0 - _PR_D) / n + _PR_D * float(contrib)
        r = nxt
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(round(r[v], 6), abs=2e-6)


# ---------------------------------------------------------------------------
# graph_adamic_adar on random bipartite incidence
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.sets(
        st.tuples(st.integers(1, 5), st.sampled_from(["a", "b", "c", "d"])),
        max_size=14,
    )
)
def test_adamic_adar_matches_bruteforce(hand, incidence):
    from rugpull_data_pipeline_spark.plans import registry

    incidence = set(incidence) | {(9, "a"), (9, "b")}  # one shared user
    rows = [(i, 10 * i, u, et, 1.0) for i, (u, et) in enumerate(sorted(incidence))]
    _mk_events(hand, rows)
    got = {
        (r.type_a, r.type_b): r
        for r in registry.get("graph_adamic_adar").builder(hand, "unused").collect()
    }

    deg: dict[int, int] = {}
    for u, _et in incidence:
        deg[u] = deg.get(u, 0) + 1
    expect: dict[tuple, list] = {}
    for u, d_ in deg.items():
        if not (2 <= d_ <= 32):
            continue
        types = sorted(et for uu, et in incidence if uu == u)
        for i, a in enumerate(types):
            for b in types[i + 1:]:
                e = expect.setdefault((a, b), [0, Decimal(0)])
                e[0] += 1
                e[1] += _dec(1.0 / math.log(d_), "1e-6")
    assert set(got) == set(expect)
    for pair, (c, s) in expect.items():
        assert got[pair].common_users == c
        assert got[pair].adamic_adar == pytest.approx(round(float(s), 6), abs=1e-9)
