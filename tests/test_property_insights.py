"""Brute-force property tests for the round-11 bank (insights_ops):
Cliff's delta tie accounting, Lorenz decile shares, degree Gini, and the
audience-overlap Jaccard — the banked operators whose algebra the hash
compare alone can't explain (the test_property_* convention)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, hand_table, _mk_events


# ---------------------------------------------------------------------------
# eval_cliffs_delta — explicit gt/lt/tie pair counts
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.booleans()),
        min_size=2,
        max_size=40,
    ).filter(lambda r: any(y for _, y in r) and any(not y for _, y in r))
)
def test_cliffs_delta_matches_bruteforce(hand, rows):
    from rugpull_data_pipeline_spark.plans.insights_ops import _cliffs_delta

    _mk_events(
        hand,
        [
            (i, i, 1, "purchase" if y else "click", float(v))
            for i, (v, y) in enumerate(rows)
        ],
    )

    r = hand.sql(_cliffs_delta(SPARK)).collect()[0]
    pos = [v * 100 for v, y in rows if y]
    neg = [v * 100 for v, y in rows if not y]
    gt = sum(1 for p in pos for n in neg if p > n)
    lt = sum(1 for p in pos for n in neg if p < n)
    tie = sum(1 for p in pos for n in neg if p == n)
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    assert (r["n_gt"], r["n_lt"], r["n_tie"]) == (gt, lt, tie)
    assert r["cliffs_delta"] == pytest.approx(
        (gt - lt) / (len(pos) * len(neg)), abs=1e-6
    )


# ---------------------------------------------------------------------------
# agg_lorenz_deciles — cumulative decile shares
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(1, 9999), min_size=1, max_size=50))
def test_lorenz_deciles_match_bruteforce(hand, bals):
    from rugpull_data_pipeline_spark.plans.insights_ops import _lorenz

    hand_table(
        hand,
        "customer",
        [(i, f"c{i}", 0, bals[i] / 100.0, "SEG") for i in range(len(bals))],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )

    got = {r["decile"]: r for r in hand.sql(_lorenz(SPARK)).collect()}
    ordered = sorted(
        ((bals[i], i) for i in range(len(bals)))
    )  # (cents, key) rank order
    n, tot = len(ordered), sum(v for v, _ in ordered)
    by_dec: dict[int, int] = {}
    for rn0, (v, _) in enumerate(ordered):
        by_dec[10 * rn0 // n] = by_dec.get(10 * rn0 // n, 0) + v
    cum = 0
    for dec in sorted(by_dec):
        cum += by_dec[dec]
        r = got[dec]
        assert r["decile_cents"] == by_dec[dec]
        assert r["cum_share"] == pytest.approx(cum / tot, abs=1e-6)
    assert set(got) == set(by_dec)


# ---------------------------------------------------------------------------
# graph_degree_gini — rank-formula Gini over the degree grid
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 9)),  # (order, part)
        min_size=2,
        max_size=40,
    )
)
def test_degree_gini_matches_bruteforce(hand, op_rows):
    from rugpull_data_pipeline_spark.plans import registry

    hand_table(
        hand,
        "lineitem",
        [(o, p) for o, p in op_rows],
        "l_orderkey long, l_partkey long",
    )

    out = registry.get("graph_degree_gini").builder(hand, "unused").collect()
    op = sorted(set(op_rows))
    edges = set()
    for i in range(len(op)):
        for j in range(len(op)):
            if op[i][0] == op[j][0] and op[i][1] < op[j][1]:
                edges.add((op[i][1], op[j][1]))
    if not edges:
        assert out == [] or out[0]["n_nodes"] is None or out[0]["n_nodes"] == 0
        return
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    # rank order (deg, node) matches the query's ORDER BY deg, node
    ranked = sorted((dv, node) for node, dv in deg.items())
    n, tot = len(ranked), sum(d for d, _ in ranked)
    gini = sum(
        (2 * (i + 1) - n - 1) * d for i, (d, _) in enumerate(ranked)
    ) / (n * tot)
    r = out[0]
    assert r["n_nodes"] == n
    assert r["n_half_edges"] == tot
    assert r["degree_gini"] == pytest.approx(gini, abs=1e-6)


# ---------------------------------------------------------------------------
# events_user_overlap_types — audience Jaccard
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.sampled_from(["view", "click", "purchase"]),
                  st.integers(0, 8)),
        min_size=1,
        max_size=40,
    )
)
def test_user_overlap_matches_bruteforce(hand, tu):
    from rugpull_data_pipeline_spark.plans import registry

    _mk_events(hand, [(i, i, u, t, 1.0) for i, (t, u) in enumerate(tu)])

    got = {
        (r["type_a"], r["type_b"]): r
        for r in registry.get("events_user_overlap_types")
                 .builder(hand, "unused").collect()
    }
    sets: dict[str, set[int]] = {}
    for t, u in tu:
        sets.setdefault(t, set()).add(u)
    types = sorted(sets)
    expect_pairs = set()
    for i in range(len(types)):
        for j in range(i + 1, len(types)):
            a, b = types[i], types[j]
            both = len(sets[a] & sets[b])
            if both:
                expect_pairs.add((a, b))
                r = got[(a, b)]
                assert r["n_both"] == both
                assert r["jaccard"] == pytest.approx(
                    both / len(sets[a] | sets[b]), abs=1e-6
                )
                assert r["containment"] == pytest.approx(
                    both / min(len(sets[a]), len(sets[b])), abs=1e-6
                )
    assert set(got) == expect_pairs
