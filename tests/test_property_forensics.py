"""Brute-force property tests for the round-11 debut tiers
(forensics_ops / robustness_ops): Mann-Whitney pair counting and tie
correction, Hill tail order statistics, concordance-index grid pair
counting, rank-biased overlap, one-way ANOVA sums, PPS systematic draw
arithmetic, and ingest-batch token novelty — the operators whose algebra
the hash compare alone can't explain (the test_property_* convention)."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from tests.helpers import DOC_TEXT, PROP, hand_table, _mk_docs, _mk_events


def _user_events(spark, rows):
    """rows: list of (user_id, event_type, value, epoch_seconds)."""
    _mk_events(spark, [(i, t, u, ty, float(v)) for i, (u, ty, v, t) in enumerate(rows)])


# ---------------------------------------------------------------------------
# eval_mann_whitney_u — U, tie correction, rank-biserial
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.booleans()),
        min_size=2,
        max_size=40,
    ).filter(lambda r: any(y for _, y in r) and any(not y for _, y in r))
)
def test_mann_whitney_matches_bruteforce(hand, rows):
    from rugpull_data_pipeline_spark.plans.forensics_ops import _r6u  # noqa: F401

    _user_events(
        hand,
        [
            (1, "purchase" if y else "click", v, i)
            for i, (v, y) in enumerate(rows)
        ],
    )
    out = {r["contrast_type"]: r for r in registry.get("eval_mann_whitney_u")
                                          .builder(hand, "unused").collect()}
    pos = [v * 100 for v, y in rows if y]
    neg = [v * 100 for v, y in rows if not y]
    gt = sum(1 for p in pos for n in neg if p > n)
    tie = sum(1 for p in pos for n in neg if p == n)
    u2 = 2 * gt + tie
    r = out["click"]
    assert (r["n_purchase"], r["n_other"]) == (len(pos), len(neg))
    assert r["u_doubled"] == u2
    n1, n2 = len(pos), len(neg)
    n = n1 + n2
    from collections import Counter

    t3 = sum(c**3 - c for c in Counter(pos + neg).values())
    var = n1 * n2 / 12 * ((n + 1) - (t3 / (n * (n - 1)) if n > 1 else 0.0))
    if var > 0:
        z = (u2 - n1 * n2) / (2 * math.sqrt(var))
        assert r["z_stat"] == pytest.approx(z, abs=2e-6)
    assert r["rank_biserial"] == pytest.approx(
        (u2 - n1 * n2) / (n1 * n2), abs=2e-6
    )


# ---------------------------------------------------------------------------
# agg_hill_tail_index — top-50 order statistics and quantized ln sums
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(st.integers(1, 400), min_size=51, max_size=120),
)
# Exact xi = 0.5765385, on the 6-dp half boundary: a float sum of the logs
# reads ...5000000043, a decimal sum divided in double ...4999999998.
@example(vals=[259, 263, 331, 377, 389] + [1] * 102)
def test_hill_tail_matches_bruteforce(hand, vals):
    from rugpull_data_pipeline_spark.plans.forensics_ops import _hill_tail

    _user_events(hand, [(1, "click", v, i) for i, v in enumerate(vals)])
    rows = hand.sql(_hill_tail(SPARK)).collect()
    cents = sorted((v * 100 for v in vals), reverse=True)
    top50, x51 = cents[:50], cents[50]

    def ln9(v):
        return Decimal(str(round(math.log(v), 9)))

    xi = sum(ln9(v) for v in top50) / 50 - ln9(x51)
    assert len(rows) == 1
    r = rows[0]
    assert r["x_k1_cents"] == x51
    assert r["n_values"] == len(vals)
    assert r["hill_xi"] == pytest.approx(float(xi), abs=2e-6)
    if xi != 0:
        xi6 = xi.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        assert r["tail_alpha"] == pytest.approx(1.0 / float(xi6), abs=2e-6)


# ---------------------------------------------------------------------------
# eval_concordance_index — grid pair counting vs explicit subject pairs
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.booleans(),        # converts?
            st.integers(0, 9),    # conversion delay (days)
            st.integers(0, 12),   # click count
        ),
        min_size=2,
        max_size=25,
    ).filter(lambda subs: any(ev for ev, _, _ in subs))
)
@pytest.mark.slow_property
def test_concordance_index_matches_bruteforce(hand, subs):

    day = 86400
    horizon = 30 * day  # a late sentinel event pins the censor time
    rows = [(9999, "error", 1.0, horizon)]
    for u, (ev, delay, clicks) in enumerate(subs):
        rows.append((u, "view", 1.0, 0))
        if ev:
            rows.append((u, "purchase", 1.0, delay * day))
        rows.extend((u, "click", 1.0, 1 + j) for j in range(clicks))
    _user_events(hand, rows)
    r = registry.get("eval_concordance_index").builder(hand, "unused").collect()[0]

    mc = max(c for _, _, c in subs)
    width = max(1, (mc + 1) // 10)
    subjects = [
        (1 if ev else 0, delay if ev else horizon // day,
         min(9, clicks // width))
        for ev, delay, clicks in subs
    ]
    comparable = concordant = tied = 0
    for ei, ti, ri in subjects:
        if not ei:
            continue
        for ej, tj, rj in subjects:
            if tj > ti:
                comparable += 1
                if ri > rj:
                    concordant += 1
                elif ri == rj:
                    tied += 1
    assert r["n_subjects"] == len(subs)
    assert r["comparable"] == comparable
    assert r["concordant"] == concordant
    assert r["tied_score"] == tied
    if comparable:
        assert r["c_index"] == pytest.approx(
            (2 * concordant + tied) / (2 * comparable), abs=2e-6
        )


# ---------------------------------------------------------------------------
# eval_rank_biased_overlap — explicit ranking intersection curve
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(1, 9999)),
        min_size=2,
        max_size=60,
    )
)
def test_rbo_matches_bruteforce(hand, parts):
    from rugpull_data_pipeline_spark.plans.robustness_ops import _rbo

    hand_table(
        hand,
        "lineitem",
        [
            (pk, float(q), p / 100.0)
            for pk, (q, p) in enumerate(parts)
        ],
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    r = hand.sql(_rbo(SPARK)).collect()[0]

    qty = {pk: q for pk, (q, _) in enumerate(parts)}
    rev = {pk: p for pk, (_, p) in enumerate(parts)}
    ra = {
        pk: i + 1
        for i, pk in enumerate(
            sorted(qty, key=lambda k: (-qty[k], k))
        )
        if i < 50
    }
    rb = {
        pk: i + 1
        for i, pk in enumerate(
            sorted(rev, key=lambda k: (-rev[k], k))
        )
        if i < 50
    }
    ms = [max(ra[pk], rb[pk]) for pk in set(ra) & set(rb)]
    x = {d: sum(1 for m in ms if m <= d) for d in range(1, 51)}
    rbo = sum(x[d] / d / 2**d for d in range(1, 51))
    assert r["overlap_at_10"] == x[10]
    assert r["overlap_at_50"] == x[50]
    assert r["rbo"] == pytest.approx(rbo, abs=2e-6)


# ---------------------------------------------------------------------------
# eval_anova_oneway — exact integer SS algebra
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 300)),
        min_size=6,
        max_size=50,
    ).filter(lambda r: len({g for g, _ in r}) >= 2
             and len(r) > len({g for g, _ in r}))
)
def test_anova_matches_bruteforce(hand, rows):
    from rugpull_data_pipeline_spark.plans.forensics_ops import _anova

    _user_events(hand, [(1, g, v, i) for i, (g, v) in enumerate(rows)])
    out = hand.sql(_anova(SPARK)).collect()
    groups: dict[str, list[int]] = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v * 100)
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    tot = sum(sum(v) for v in groups.values())
    ssb = sum(sum(v) ** 2 / len(v) for v in groups.values()) - tot**2 / n
    ssw = sum(
        sum(x * x for x in v) - sum(v) ** 2 / len(v)
        for v in groups.values()
    )
    assert len(out) == 1
    r = out[0]
    assert (r["k_groups"], r["n_total"]) == (k, n)
    assert r["ss_between"] == pytest.approx(ssb / 1e4, abs=2e-6)
    assert r["ss_within"] == pytest.approx(ssw / 1e4, abs=2e-6)
    if ssw > 0:
        assert r["f_stat"] == pytest.approx(
            (ssb / (k - 1)) / (ssw / (n - k)), abs=2e-5
        )


# ---------------------------------------------------------------------------
# sample_pps_systematic — draw arithmetic on the cumulative weight line
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(st.integers(1, 500), min_size=1, max_size=40),
)
def test_pps_matches_bruteforce(hand, weights):
    from rugpull_data_pipeline_spark.plans.robustness_ops import _pps

    hand_table(
        hand,
        "part",
        [(pk, w / 100.0) for pk, w in enumerate(weights)],
        "p_partkey long, p_retailprice double",
    )
    out = {r["p_partkey"]: r for r in hand.sql(_pps(SPARK)).collect()}

    def h(pk: int) -> int:
        return int(hashlib.md5(f"pps:{pk}".encode()).hexdigest()[:15], 16)

    order = sorted(range(len(weights)), key=lambda pk: (h(pk), pk))
    tot = sum(weights)
    step = max(1, tot // 64)
    start = step // 2

    def f(x: int) -> int:
        return (x - start) // step + 1 if x >= start else 0

    cum = 0
    expected = {}
    for pk in order:
        lo, hi = cum, cum + weights[pk]
        draws = f(hi) - f(lo)
        if draws >= 1:
            expected[pk] = (lo, draws)
        cum = hi
    assert set(out) == set(expected)
    for pk, (lo, draws) in expected.items():
        assert out[pk]["cum_before"] == lo
        assert out[pk]["n_draws"] == draws
    # Systematic PPS invariant: total draws == number of grid points in
    # (0, tot] (a point AT zero falls in no (w_lo, w_hi] interval, which
    # only happens in the degenerate step=1/start=0 case).
    assert sum(r["n_draws"] for r in out.values()) == f(tot) - f(0)


# ---------------------------------------------------------------------------
# text_token_novelty — first-seen batch accounting
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=24,
    )
)
@pytest.mark.slow_property
def test_token_novelty_matches_bruteforce(hand, docs):

    _mk_docs(hand, [(i, " ".join(toks)) for i, toks in enumerate(docs)], DOC_TEXT)
    out = {r["ingest_batch"]: r
           for r in registry.get("text_token_novelty")
                    .builder(hand, "unused").collect()}

    mx = len(docs) - 1
    batch_of = {i: min(7, i * 8 // (mx + 1)) for i in range(len(docs))}
    per: dict[int, dict[str, int]] = {}
    for i, toks in enumerate(docs):
        b = per.setdefault(batch_of[i], {})
        for t in toks:
            b[t] = b.get(t, 0) + 1
    first = {}
    for b in sorted(per):
        for t in per[b]:
            first.setdefault(t, b)
    for b, counts in per.items():
        r = out[b]
        new_types = sum(1 for t in counts if first[t] == b)
        new_occ = sum(c for t, c in counts.items() if first[t] == b)
        assert r["vocab_types"] == len(counts)
        assert r["new_types"] == new_types
        assert r["n_tokens"] == sum(counts.values())
        assert r["token_novelty_rate"] == pytest.approx(
            new_occ / sum(counts.values()), abs=2e-6
        )
