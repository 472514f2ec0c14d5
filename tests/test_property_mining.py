"""Round-8 brute-force property tests for the mining tier: skyline
dominance, isotonic (PAVA) calibration, weighted medians, and
gaps-and-islands — the operators whose algebra the hash-compare alone
can't explain. Each test rebuilds the answer in plain Python over
hypothesis-generated hand data and compares it to the Spark SQL/builder
run against hand temp views (the test_property_* convention)."""

from __future__ import annotations


import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, hand_table, _mk_events, _mk_lineitem, _round6


# ---------------------------------------------------------------------------
# skyline_pareto_parts — every survivor undominated, every non-survivor
# dominated (the quadratic definition the O(n log grid) plan must equal)
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 20)),  # (price_c, size)
        min_size=1,
        max_size=30,
    )
)
def test_skyline_matches_bruteforce_dominance(hand, parts):
    from rugpull_data_pipeline_spark.plans.mining_ops import skyline_pareto_parts

    rows = [(i, pc / 100.0, sz) for i, (pc, sz) in enumerate(parts)]
    hand_table(
        hand,
        "part",
        [(k, f"part{k}", "B", "T", sz, pr) for k, pr, sz in rows],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    got = {r.p_partkey for r in skyline_pareto_parts(hand, "unused").collect()}

    def dominated(i):
        pc_i, sz_i = parts[i]
        return any(
            (pc_j <= pc_i and sz_j >= sz_i) and (pc_j < pc_i or sz_j > sz_i)
            for j, (pc_j, sz_j) in enumerate(parts)
            if j != i
        )

    expect = {i for i in range(len(parts)) if not dominated(i)}
    assert got == expect


# ---------------------------------------------------------------------------
# mlprep_isotonic_pava — the SQL minimax fit must equal the classical
# pool-adjacent-violators solution (weighted, per-bin)
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 19), st.booleans()),  # (bin, is_purchase)
        min_size=1,
        max_size=60,
    )
)
def test_isotonic_matches_pava(hand, pts):
    from rugpull_data_pipeline_spark.plans import registry

    rows = [
        (i, 1_700_000_000 + i, i % 7,
         "purchase" if y else "click", b * 25.0 + 1.0)
        for i, (b, y) in enumerate(pts)
    ]
    _mk_events(hand, rows)
    got = {r.bin: r for r in registry.get("mlprep_isotonic_pava")
                             .builder(hand, "unused").collect()}

    # classical weighted PAVA over the ordered bin grid
    grid = sorted({b for b, _ in pts})
    w = {b: sum(1 for bb, _ in pts if bb == b) for b in grid}
    p = {b: sum(1 for bb, y in pts if bb == b and y) for b in grid}
    blocks = []  # [w_sum, p_sum, [bins]]
    for b in grid:
        blocks.append([w[b], p[b], [b]])
        while len(blocks) > 1 and (
            blocks[-2][1] * blocks[-1][0] > blocks[-1][1] * blocks[-2][0]
        ):  # prev mean > cur mean, exact integer cross-multiply
            wc, pc, bc = blocks.pop()
            blocks[-1][0] += wc
            blocks[-1][1] += pc
            blocks[-1][2].extend(bc)
    fit = {}
    for wc, pc, bins in blocks:
        for b in bins:
            fit[b] = pc / wc
    assert set(got) == set(grid)
    for b in grid:
        assert got[b].n == w[b] and got[b].n_pos == p[b]
        assert got[b].raw_rate == pytest.approx(_round6(p[b] / w[b]), abs=1e-9)
        assert got[b].iso_rate == pytest.approx(_round6(fit[b]), abs=1e-9), (
            f"bin {b}: sql {got[b].iso_rate} != pava {fit[b]}"
        )
    # monotonicity is the operator's contract, assert it independently
    seq = [got[b].iso_rate for b in grid]
    assert all(a <= b + 1e-12 for a, b in zip(seq, seq[1:]))


# ---------------------------------------------------------------------------
# agg_weighted_median — first grid point whose doubled cumulative weight
# covers the total, recomputed exactly
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "N", "R"]),
            st.integers(1, 400),  # price cents
            st.integers(1, 9),  # integer quantity
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_matches_bruteforce(hand, items):
    from rugpull_data_pipeline_spark.plans.mining_ops import _weighted_median

    rows = [
        (i, i, i, 1, float(q), pc / 100.0, 0.0, 0.0, f, "O",
         1_700_000_000 + i)
        for i, (f, pc, q) in enumerate(items)
    ]
    _mk_lineitem(hand, rows)
    got = {r.flag: r for r in hand.sql(_weighted_median(SPARK)).collect()}

    flags = {f for f, _, _ in items}
    for f in flags:
        grid: dict[int, int] = {}
        for ff, pc, q in items:
            if ff == f:
                grid[pc] = grid.get(pc, 0) + q
        tot = sum(grid.values())
        cum = 0
        median_pc = None
        for pc in sorted(grid):
            cum += grid[pc]
            if 2 * cum >= tot:
                median_pc = pc
                break
        assert got[f].weighted_median == pytest.approx(median_pc / 100.0)
        assert got[f].total_qty == pytest.approx(float(tot))
    assert set(got) == flags


# ---------------------------------------------------------------------------
# window_gaps_islands — run detection over random day sets
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.dictionaries(
        st.integers(0, 3),  # user_id
        st.sets(st.integers(0, 25), min_size=1, max_size=15),  # day indices
        min_size=1,
        max_size=4,
    )
)
def test_gaps_islands_matches_bruteforce(hand, per_user):
    from rugpull_data_pipeline_spark.plans.mining_ops import _gaps_islands

    rows = []
    eid = 0
    for u, days in per_user.items():
        for d in days:
            # two events on some days: duplicates must not split islands
            for _ in range(1 + (d % 2)):
                rows.append((eid, d * 86400 + eid % 3600, u, "click", 1.0))
                eid += 1
    _mk_events(hand, rows)
    got = {r.user_id: r for r in hand.sql(_gaps_islands(SPARK)).collect()}

    for u, days in per_user.items():
        ordered = sorted(days)
        runs = []
        cur = 1
        for a, b in zip(ordered, ordered[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        assert got[u].n_islands == len(runs)
        assert got[u].longest_run == max(runs)
        assert got[u].active_days == len(days)
    assert set(got) == set(per_user)
