"""Round-8 brute-force property tests, batch 2 — the mining-tier graph
and counting operators whose statistics are exact integer algebra:
degree assortativity, bitmap distinct counting, co-occurrence lift,
3-hop BFS reach, and OOV rates."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from tests.helpers import PROP, hand_table, _mk_events, _mk_lineitem, _round6


def _mk_order_pairs(spark, pairs):
    rows = [
        (o, p, i, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", 1_700_000_000 + i)
        for i, (o, p) in enumerate(pairs)
    ]
    _mk_lineitem(spark, rows)


def _copurchase_sym(pairs):
    """Directed-symmetric distinct co-purchase edge set, brute force."""
    by_order: dict[int, set[int]] = {}
    for o, p in pairs:
        by_order.setdefault(o, set()).add(p)
    edges = set()
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    edges.add((a, b))
    return edges


# ---------------------------------------------------------------------------
# graph_degree_assortativity — exact integer Pearson moments
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 7)),  # (order, part)
        min_size=2,
        max_size=40,
    )
)
def test_assortativity_matches_bruteforce(hand, pairs):
    _mk_order_pairs(hand, pairs)
    row = (
        registry.get("graph_degree_assortativity").builder(hand, "unused").collect()[0]
    )

    edges = _copurchase_sym(pairs)
    deg: dict[int, int] = {}
    for a, _b in edges:
        deg[a] = deg.get(a, 0) + 1
    xs = [(deg[a], deg[b]) for a, b in edges]
    n = len(xs)
    assert row.n_directed_edges == n
    if n == 0:
        assert row.assortativity is None
        return
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    if den == 0:
        assert row.assortativity is None
    else:
        assert row.assortativity == pytest.approx(
            _round6((n * sxy - sx * sy) / den), abs=1e-9
        )


# ---------------------------------------------------------------------------
# graph_bfs_frontier3 — cumulative reach per hop
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9)),
        min_size=1,
        max_size=40,
    ),
    st.sets(st.integers(0, 9), min_size=0, max_size=4),  # seed part keys
)
@pytest.mark.slow_property
def test_bfs_frontier_matches_bruteforce(hand, pairs, seeds):
    _mk_order_pairs(hand, pairs)
    all_parts = sorted({p for _, p in pairs} | seeds)
    hand_table(
        hand,
        "part",
        [
            (p, f"part{p}", "B", "T", 1 if p in seeds else 5, 1.0)
            for p in all_parts
        ],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    got = {
        r.hop: r.n_reached
        for r in registry.get("graph_bfs_frontier3").builder(hand, "unused").collect()
    }

    edges = _copurchase_sym(pairs)
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    reached = set(seeds)
    expect = {0: len(reached)}
    for hop in (1, 2, 3):
        reached |= {d for s in list(reached) for d in adj.get(s, ())}
        expect[hop] = len(reached)
    assert got == expect


# ---------------------------------------------------------------------------
# agg_bitmap_distinct — popcount sum equals exact distinct, word counts
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 300)),
        min_size=1,
        max_size=60,
    )
)
def test_bitmap_distinct_matches_sets(hand, evs):
    from rugpull_data_pipeline_spark.plans.mining_ops import _bitmap_distinct

    rows = [
        (i, 1_700_000_000 + i, u, t, 1.0) for i, (t, u) in enumerate(evs)
    ]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_bitmap_distinct(SPARK)).collect()}

    for t in {t for t, _ in evs}:
        users = {u for tt, u in evs if tt == t}
        words = {u // 64 for u in users}
        assert got[t].n_distinct_bitmap == len(users)
        assert got[t].n_distinct_exact == len(users)
        assert got[t].n_words == len(words)
    assert set(got) == {t for t, _ in evs}


# ---------------------------------------------------------------------------
# events_cooccurrence_lift — support/lift from distinct user-type sets
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.sampled_from(["x", "y", "z"])),
        min_size=1,
        max_size=40,
    )
)
def test_cooccurrence_lift_matches_bruteforce(hand, evs):
    rows = [
        (i, 1_700_000_000 + i, u, t, 1.0) for i, (u, t) in enumerate(evs)
    ]
    _mk_events(hand, rows)
    got = {
        (r.type_a, r.type_b): r
        for r in registry.get("events_cooccurrence_lift").builder(hand, "unused").collect()
    }

    users = {u for u, _ in evs}
    by_type: dict[str, set[int]] = {}
    for u, t in evs:
        by_type.setdefault(t, set()).add(u)
    n = len(users)
    types = sorted(by_type)
    expect = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            both = len(by_type[a] & by_type[b])
            if both:
                expect[(a, b)] = both
    assert set(got) == set(expect)
    for (a, b), both in expect.items():
        r = got[(a, b)]
        assert r.n_both == both
        assert r.n_a == len(by_type[a]) and r.n_b == len(by_type[b])
        assert r.support == pytest.approx(_round6(both / n), abs=1e-9)
        assert r.lift == pytest.approx(
            _round6(both * n / (len(by_type[a]) * len(by_type[b]))), abs=1e-9
        )


# ---------------------------------------------------------------------------
# text_oov_rate — top-10 vocabulary (count desc, token asc) + occurrence
# counting per source
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.lists(
                st.sampled_from([f"w{i}" for i in range(14)]),
                min_size=1,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_oov_rate_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.mining_ops import _OOV_TOP_K, _oov

    hand_table(
        hand,
        "documents",
        hand.createDataFrame(
            [(i, " ".join(toks), "en", src) for i, (src, toks) in enumerate(docs)],
            "doc_id long, text string, lang string, source string",
        ).selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars"
        ),
    )
    got = {r.source: r for r in hand.sql(_oov(SPARK)).collect()}

    counts: dict[str, int] = {}
    for _, toks in docs:
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
    vocab = {
        t
        for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :_OOV_TOP_K
        ]
    }
    for src in {s for s, _ in docs}:
        occ = [t for s, toks in docs if s == src for t in toks]
        oov = sum(1 for t in occ if t not in vocab)
        assert got[src].n_tokens == len(occ)
        assert got[src].n_oov == oov
        assert got[src].oov_rate == pytest.approx(
            _round6(oov / len(occ)), abs=1e-9
        )
    assert set(got) == {s for s, _ in docs}
