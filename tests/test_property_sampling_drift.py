"""Round-6 brute-force property tests, batch 6 — drift profiling and the
deterministic samplers from the r7 carry-over: PSI drift, JSD source
drift, hash class rebalancing, and the group-aware holdout."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _dec, _h60, _mk_docs, _mk_events, _q9_then_dec6


# ---------------------------------------------------------------------------
# profile_drift_psi
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 11000)),  # (day, cents)
        min_size=1,
        max_size=20,
    )
)
def test_psi_drift_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.traindata_ops import (
        _PSI_BINS,
        _PSI_PRIOR,
    )
    from rugpull_data_pipeline_spark.plans import registry

    rows = [
        (i, day * 86400 + i, 1, "click", c / 100.0)
        for i, (day, c) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = registry.get("profile_drift_psi").builder(hand, "unused").collect()
    assert len(got) == 1
    got = got[0]

    ca = [0] * _PSI_BINS
    cb = [0] * _PSI_BINS
    for day, c in pts:
        v = c / 100.0
        b = min(9, max(0, int(math.floor(v / 10))))
        (ca if day % 2 == 0 else cb)[b] += 1
    ta, tb = sum(ca), sum(cb)
    smooth_tot = _PSI_PRIOR * _PSI_BINS
    psi = float(
        sum(
            (
                _dec(
                    ((ca[b] + _PSI_PRIOR) / (ta + smooth_tot)
                     - (cb[b] + _PSI_PRIOR) / (tb + smooth_tot))
                    * math.log(
                        ((ca[b] + _PSI_PRIOR) / (ta + smooth_tot))
                        / ((cb[b] + _PSI_PRIOR) / (tb + smooth_tot))
                    ),
                    "1e-6",
                )
                for b in range(_PSI_BINS)
            ),
            Decimal(0),
        )
    )
    assert (got.n_even_days, got.n_odd_days) == (ta, tb)
    assert got.psi == pytest.approx(psi, abs=2e-6)


# ---------------------------------------------------------------------------
# profile_jsd_source_drift
# ---------------------------------------------------------------------------


_JSD_DOC = st.lists(
    st.sampled_from(["apple", "bird", "cat", "dog", "eel"]),
    min_size=1,
    max_size=8,
)


@settings(**PROP)
@given(st.lists(st.tuples(st.integers(0, 2), _JSD_DOC), min_size=2, max_size=8))
def test_jsd_drift_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans import registry

    # two fixed docs guarantee >= 2 sources so the rest-corpus is nonempty
    docs = list(docs) + [(0, ["apple", "cat"]), (1, ["bird", "bird", "dog"])]
    _mk_docs(
        hand,
        [(i, " ".join(toks), "en", f"s{src}") for i, (src, toks) in enumerate(docs)],
    )
    got = {r.source: r for r in registry.get("profile_jsd_source_drift")
                                .builder(hand, "unused").collect()}

    counts: dict[tuple, int] = {}
    for src, toks in docs:
        for t in toks:
            counts[(f"s{src}", t)] = counts.get((f"s{src}", t), 0) + 1
    corpus: dict[str, int] = {}
    ns: dict[str, int] = {}
    for (s, t), c in counts.items():
        corpus[t] = corpus.get(t, 0) + c
        ns[s] = ns.get(s, 0) + c
    nt = sum(corpus.values())
    ln2 = math.log(2.0)
    for s in ns:
        terms_p, terms_q, qsum = Decimal(0), Decimal(0), Decimal(0)
        n_types = 0
        for (s2, t), c in counts.items():
            if s2 != s:
                continue
            n_types += 1
            p = c / ns[s]
            q = (corpus[t] - c) / (nt - ns[s])
            terms_p += _q9_then_dec6(p * math.log(2.0 * p / (p + q)))
            terms_q += _q9_then_dec6(
                q * math.log(2.0 * q / (p + q)) if q > 0 else 0.0
            )
            qsum += _q9_then_dec6(q)
        jsd = 0.5 * (float(terms_p) + float(terms_q)) + 0.5 * ln2 * (
            1.0 - float(qsum)
        )
        assert got[s].n_tok == ns[s]
        assert got[s].n_types == n_types
        assert got[s].jsd_vs_rest == pytest.approx(jsd, abs=2e-6)


# ---------------------------------------------------------------------------
# sample_class_rebalance
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.sampled_from(["click", "view", "purchase"]), min_size=2, max_size=20
    )
)
def test_class_rebalance_matches_bruteforce(hand, types):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _rebalance

    types = list(types) + ["click", "view"]  # >= 2 classes
    rows = [(i, 100 + i, 1, et, 1.0) for i, et in enumerate(types)]
    _mk_events(hand, rows)
    got = {r.event_id: r for r in hand.sql(_rebalance(SPARK)).collect()}

    by_type: dict[str, list] = {}
    for i, et in enumerate(types):
        by_type.setdefault(et, []).append(i)
    mc = min(len(v) for v in by_type.values())
    expect = {}
    for et, ids in by_type.items():
        ranked = sorted(ids, key=lambda i: (_h60(str(i)), i))
        for rn, i in enumerate(ranked, start=1):
            if rn <= mc:
                expect[i] = (et, rn)
    assert set(got) == set(expect)
    for i, (et, rn) in expect.items():
        assert (got[i].event_type, got[i].sample_rank) == (et, rn)


# ---------------------------------------------------------------------------
# sample_group_holdout
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(1, 40), min_size=1, max_size=20))
def test_group_holdout_matches_bruteforce(hand, users):
    from rugpull_data_pipeline_spark.plans.traindata_ops import (
        _HOLDOUT_BUCKETS,
        _group_holdout,
    )

    rows = [(i, 100 + i, u, "click", 1.0) for i, u in enumerate(users)]
    _mk_events(hand, rows)
    got = {r.event_id: r for r in hand.sql(_group_holdout(SPARK)).collect()}

    assert set(got) == set(range(len(users)))
    for i, u in enumerate(users):
        b = _h60(str(u)) % _HOLDOUT_BUCKETS
        assert got[i].user_bucket == b
        assert got[i].split == ("test" if b == 0 else "train")
        # the leakage guard itself: same user -> same split, always
    by_user = {}
    for i, u in enumerate(users):
        by_user.setdefault(u, set()).add(got[i].split)
    assert all(len(s) == 1 for s in by_user.values())
