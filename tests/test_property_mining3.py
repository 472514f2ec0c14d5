"""Round-8 brute-force property tests, batch 3 — sampling, privacy,
ranking and projection shapes: systematic sampling (including the
portable-hash rank order), l-diversity failure counts, the bipartite
top-20 with its deterministic tie order, and decile gains/lift with
exact ntile semantics."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, hand_table, _mk_events, _mk_lineitem, _round6


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# sample_systematic_every_k — the portable-hash rank order and membership
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b"])),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],  # event_id unique
    )
)
def test_systematic_matches_bruteforce(hand, evs):
    from rugpull_data_pipeline_spark.plans.mining_ops import _SYS_K, _systematic

    rows = [(e, 1_700_000_000 + e, e % 5, t, 1.0) for e, t in evs]
    _mk_events(hand, rows)
    got = {r.event_type: r for r in hand.sql(_systematic(SPARK)).collect()}

    for t in {t for _, t in evs}:
        ids = [e for e, tt in evs if tt == t]
        ranked = sorted(ids, key=lambda e: (_hash60(str(e)), e))
        sampled = ranked[::_SYS_K]  # rn % K == 1 <=> positions 1, K+1, ...
        assert got[t].n_total == len(ids)
        assert got[t].n_sampled == len(sampled)
        assert got[t].id_checksum == sum(sampled)
    assert set(got) == {t for _, t in evs}


# ---------------------------------------------------------------------------
# quality_l_diversity — failure counts over the QI grid
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # nationkey
            st.sampled_from(["M1", "M2"]),  # segment
            st.integers(-3000, 3000),  # acctbal (int dollars)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_l_diversity_matches_bruteforce(hand, custs):
    from rugpull_data_pipeline_spark.plans.mining_ops import _l_diversity

    hand_table(
        hand,
        "customer",
        [(i, f"c{i}", nk, float(ab), seg) for i, (nk, seg, ab) in enumerate(custs)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    row = hand.sql(_l_diversity(SPARK)).collect()[0]

    groups: dict[tuple, list[int]] = {}
    for nk, seg, ab in custs:
        # floor division on the double, the dialect-safe band
        groups.setdefault((nk, seg), []).append(int(ab // 1000))
    assert row.n_groups == len(groups)
    for l, (gf, rf) in {
        2: (row.groups_fail_l2, row.rows_fail_l2),
        3: (row.groups_fail_l3, row.rows_fail_l3),
    }.items():
        failing = {g: v for g, v in groups.items() if len(set(v)) < l}
        assert gf == len(failing)
        assert rf == sum(len(v) for v in failing.values())


# ---------------------------------------------------------------------------
# graph_bipartite_project — top-20 weights and the (w desc, a, b) tie order
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 8)),
        min_size=1,
        max_size=50,
    )
)
def test_bipartite_top20_matches_bruteforce(hand, pairs):
    from rugpull_data_pipeline_spark.plans.mining_ops import _bipartite

    rows = [
        (o, p, i, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", 1_700_000_000 + i)
        for i, (o, p) in enumerate(pairs)
    ]
    _mk_lineitem(hand, rows)
    got = [(r.rn, r.part_a, r.part_b, r.n_orders)
           for r in hand.sql(_bipartite(SPARK)).collect()]

    by_order: dict[int, set[int]] = {}
    for o, p in pairs:
        by_order.setdefault(o, set()).add(p)
    w: dict[tuple[int, int], int] = {}
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                w[(a, b)] = w.get((a, b), 0) + 1
    ranked = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    expect = [(i + 1, a, b, c) for i, ((a, b), c) in enumerate(ranked)]
    assert got == expect


# ---------------------------------------------------------------------------
# eval_lift_gains_decile — exact ntile semantics over (score desc, event_id)
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 300), st.booleans()),  # (cents score, purchase)
        min_size=1,
        max_size=60,
    )
)
def test_lift_gains_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.mining_ops import _lift_gains

    rows = [
        (i, 1_700_000_000 + i, i % 3,
         "purchase" if y else "click", c / 100.0)
        for i, (c, y) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = {r.decile: r for r in hand.sql(_lift_gains(SPARK)).collect()}

    # floor(value*100) recovers the integer cents exactly for /100.0 inputs
    # up to fp dust: recompute the same way the SQL does.
    import math

    scored = sorted(
        ((math.floor((c / 100.0) * 100.0), i, y) for i, (c, y) in enumerate(pts)),
        key=lambda r: (-r[0], r[1]),
    )
    n = len(scored)
    base, rem = divmod(n, 10)
    deciles: list[list[tuple]] = []
    pos = 0
    for d in range(10):
        size = base + (1 if d < rem else 0)
        if size == 0:
            continue
        deciles.append(scored[pos:pos + size])
        pos += size
    tot_pos = sum(1 for _, _, y in scored if y)
    tot_n = n
    cum_pos = cum_n = 0
    for d, bucket in enumerate(deciles, start=1):
        npos = sum(1 for _, _, y in bucket if y)
        cum_pos += npos
        cum_n += len(bucket)
        r = got[d]
        assert r.n == len(bucket) and r.n_pos == npos
        if tot_pos == 0:
            assert r.gain is None and r.cum_lift is None
        else:
            assert r.gain == pytest.approx(_round6(cum_pos / tot_pos), abs=1e-9)
            assert r.cum_lift == pytest.approx(
                _round6((cum_pos / cum_n) / (tot_pos / tot_n)), abs=1e-9
            )
    assert set(got) == set(range(1, len(deciles) + 1))
