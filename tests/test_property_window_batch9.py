"""Round-6 brute-force property tests, batch 9 — r6 driver-window queries
that until now had only the oracle gate: quantile binning, JL random
projection, CCNet boilerplate, incremental exact dedup, and 2-round
label propagation."""

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
    _h60,
    _mk_docs,
    _mk_embeddings,
    _mk_events,
)


# ---------------------------------------------------------------------------
# mlprep_quantile_binning
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 50), min_size=1, max_size=24))
def test_quantile_binning_matches_bruteforce(hand, small_cents):
    from rugpull_data_pipeline_spark.plans.stats_eval import _QBIN_K, _quantile_bins

    # tiny value domain forces heavy tie groups through the one-bin rule
    rows = [(i, 10 * i, 1, "click", c / 100.0) for i, c in enumerate(small_cents)]
    _mk_events(hand, rows)
    got = {r.bin: r for r in hand.sql(_quantile_bins(SPARK)).collect()}

    vs = sorted(_floor_cents(c) for c in small_cents)
    n = len(vs)
    bins: dict[int, list] = {}
    for v in sorted(set(vs)):
        cum_lt = sum(1 for x in vs if x < v)
        b = min(_QBIN_K - 1, cum_lt * _QBIN_K // n)
        bins.setdefault(b, []).extend(x for x in vs if x == v)
    assert set(got) == set(bins)
    for b, members in bins.items():
        assert got[b].n_rows == len(members)
        assert (got[b].lo_cents, got[b].hi_cents) == (min(members), max(members))


# ---------------------------------------------------------------------------
# sim_random_projection16
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.lists(st.integers(-8, 8), min_size=4, max_size=4),
        min_size=1,
        max_size=6,
    )
)
def test_random_projection_matches_bruteforce(hand, vecs):
    from rugpull_data_pipeline_spark.plans.feature_ops import _JL_OUT, _jl_project

    # quarter-unit floats are exact in float32, so the double cast is exact
    emb = [[q / 4.0 for q in v] for v in vecs]
    _mk_embeddings(hand, [(i, e, 0) for i, e in enumerate(emb)])
    got = {
        (r.vec_id, r.out_dim): r.pv
        for r in hand.sql(_jl_project(SPARK)).collect()
    }

    def sign(j, dim):
        return 1.0 if _h60(f"jl-{j}:{dim}") % 2 == 1 else -1.0

    expect = {}
    for vid, e in enumerate(emb):
        if vid >= 8:
            continue
        for j in range(_JL_OUT):
            s = sum(
                (_dec(v * sign(j, dim + 1), "1e-9") for dim, v in enumerate(e)),
                Decimal(0),
            )
            expect[(vid, j)] = float(s) / math.sqrt(_JL_OUT)
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert got[k] == pytest.approx(v, abs=2e-6)


# ---------------------------------------------------------------------------
# text_boilerplate_ccnet
# ---------------------------------------------------------------------------


_CCNET_DOC = st.lists(
    st.sampled_from(["nav", "home", "buy", "the", "cat", "ran"]),
    min_size=1,
    max_size=10,
)


@settings(**PROP)
@given(st.lists(_CCNET_DOC, min_size=1, max_size=8))
def test_boilerplate_ccnet_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.traindata_ops import (
        _BOILER_DF,
        _SEG,
        _boilerplate,
    )

    # five extra docs share one 4-word segment -> guaranteed boilerplate
    docs = list(docs) + [["nav", "home", "buy", "the"]] * 5
    _mk_docs(hand, [(i, " ".join(t), "en", "s0") for i, t in enumerate(docs)])
    got = {r.doc_id: r for r in hand.sql(_boilerplate(SPARK)).collect()}

    segs_per_doc = {}
    for i, toks in enumerate(docs):
        nseg = math.ceil(len(toks) / _SEG)
        segs_per_doc[i] = [
            " ".join(toks[(k - 1) * _SEG : (k - 1) * _SEG + _SEG])
            for k in range(1, nseg + 1)
        ]
    df_count: dict[str, int] = {}
    for i, segs in segs_per_doc.items():
        for s in set(segs):
            df_count[s] = df_count.get(s, 0) + 1
    assert set(got) == set(segs_per_doc)
    for i, segs in segs_per_doc.items():
        boiler = sum(1 for s in segs if df_count[s] >= _BOILER_DF)
        assert got[i].n_segments == len(segs)
        assert got[i].n_boilerplate == boiler
        assert got[i].boiler_frac == pytest.approx(boiler / len(segs), abs=2e-6)


# ---------------------------------------------------------------------------
# dedup_incremental_newonly
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 12),  # source index: 0-9 base, 10-12 incoming
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
        ),
        min_size=1,
        max_size=16,
    )
)
def test_incremental_newonly_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _incremental

    _mk_docs(hand, [(i, text, "en", f"src{s}") for i, (s, text) in enumerate(docs)])
    got = [(r.doc_id, r.source) for r in hand.sql(_incremental(SPARK)).collect()]

    base_texts = {text for s, text in docs if s <= 9}
    seen, expect = set(), []
    for i, (s, text) in enumerate(docs):
        if s <= 9:
            continue
        if text in base_texts or text in seen:
            continue
        seen.add(text)
        expect.append((i, f"src{s}"))
    assert got == sorted(expect)


# ---------------------------------------------------------------------------
# graph_label_prop2
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 8),  # user
            st.sampled_from(["a", "b"]),  # event type
            st.integers(0, 2),  # hour bucket
        ),
        min_size=2,
        max_size=20,
    )
)
def test_label_prop2_matches_bruteforce(hand, memberships):
    from rugpull_data_pipeline_spark.plans import registry as reg

    rows = [
        (i, hb * 3600 + 60, u, et, 1.0)
        for i, (u, et, hb) in enumerate(memberships)
    ]
    _mk_events(hand, rows)
    got = [
        (r.community, r.n_members)
        for r in reg.get("graph_label_prop2").builder(hand, "unused").collect()
    ]

    groups: dict[tuple, set] = {}
    for u, et, hb in memberships:
        groups.setdefault((et, hb), set()).add(u)
    edges = set()
    for members in groups.values():  # all groups are far below the 40 cap
        ms = sorted(members)
        for i, u in enumerate(ms):
            for v in ms[i + 1 :]:
                edges.add((u, v))
    nodes = sorted({u for e in edges for u in e})
    if not nodes:
        assert got == []
        return
    nbrs: dict[int, list] = {u: [u] for u in nodes}  # self-loop
    for u, v in edges:
        nbrs[u].append(v)
        nbrs[v].append(u)
    label = {u: u for u in nodes}
    for _ in range(2):
        # synchronous update: most frequent neighbor label, tie -> smallest
        new = {}
        for u in nodes:
            cnt: dict[int, int] = {}
            for v in nbrs[u]:
                cnt[label[v]] = cnt.get(label[v], 0) + 1
            new[u] = min(
                cnt, key=lambda lb: (-cnt[lb], lb)
            )
        label = new
    comm: dict[int, int] = {}
    for u in nodes:
        comm[label[u]] = comm.get(label[u], 0) + 1
    expect = sorted(comm.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == expect
