"""Round-8 brute-force property tests, batch 4 — the decimal-discipline
shapes: WoE/IV with quantized IV terms, TTR with 9-dp per-row
quantization before the decimal mean, and the classical seasonal
decomposition's full quantization chain (decimal daily means → windowed
trend → 9-dp residuals → per-dow seasonal means)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, hand_table, _mk_events


def _q(x: float, scale: str) -> Decimal:
    # Spark round()/cast(double as decimal) go through BigDecimal.valueOf,
    # i.e. the shortest round-trip decimal repr — Decimal(repr(x)).
    return Decimal(repr(x)).quantize(Decimal(scale), ROUND_HALF_UP)


# ---------------------------------------------------------------------------
# mlprep_woe_iv
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(st.sampled_from(["M1", "M2", "M3"]), st.booleans()),
        min_size=2,
        max_size=40,
    )
)
def test_woe_iv_matches_bruteforce(hand, custs):
    from rugpull_data_pipeline_spark.plans.mining_ops import _woe_iv

    hand_table(
        hand,
        "customer",
        [
            (i, f"c{i}", 0, -10.0 if neg else 10.0, seg)
            for i, (seg, neg) in enumerate(custs)
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    got = {r.segment: r for r in hand.sql(_woe_iv(SPARK)).collect()}

    segs = sorted({s for s, _ in custs})
    pos = {s: sum(1 for ss, neg in custs if ss == s and neg) for s in segs}
    neg = {s: sum(1 for ss, nn in custs if ss == s and not nn) for s in segs}
    P, N = sum(pos.values()), sum(neg.values())
    iv_terms = []
    for s in segs:
        r = got[s]
        assert r.n_pos == pos[s] and r.n_neg == neg[s]
        if pos[s] > 0 and neg[s] > 0:
            rate = (pos[s] / P) / (neg[s] / N)
            assert r.woe == pytest.approx(
                float(_q(math.log(rate), "1e-6")), abs=1e-9
            )
            iv_terms.append(
                _q((pos[s] / P - neg[s] / N) * math.log(rate), "1e-9")
            )
        else:
            assert r.woe is None
    if iv_terms:
        iv = float(_q(float(sum(iv_terms)), "1e-6"))
        for s in segs:
            assert got[s].iv == pytest.approx(iv, abs=1e-9)
    else:
        assert all(got[s].iv is None for s in segs)
    assert set(got) == set(segs)


# ---------------------------------------------------------------------------
# text_ttr_diversity
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.lists(
                st.sampled_from(["tok", "agg", "row", "key", "pad"]),
                min_size=1,
                max_size=10,
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_ttr_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.mining_ops import _ttr

    hand_table(
        hand,
        "documents",
        hand.createDataFrame(
            [(i, " ".join(toks), lang, "s1") for i, (lang, toks) in enumerate(docs)],
            "doc_id long, text string, lang string, source string",
        ).selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars"
        ),
    )
    got = {r.lang: r for r in hand.sql(_ttr(SPARK)).collect()}

    for lang in {l for l, _ in docs}:
        ttrs = [
            _q(len(set(toks)) / len(toks), "1e-9")
            for l, toks in docs
            if l == lang
        ]
        r = got[lang]
        assert r.n_docs == len(ttrs)
        # davg: exact decimal(38,6)-quantized sum of the 9-dp values, then
        # one double division — the 9-dp inputs are exactly representable
        # at 6-dp quantization? No: dsum quantizes each ttr to 6 dp first.
        quant6 = [t.quantize(Decimal("1e-6"), ROUND_HALF_UP) for t in ttrs]
        avg = float(sum(quant6)) / len(quant6)
        assert r.avg_ttr == pytest.approx(float(_q(avg, "1e-6")), abs=1e-9)
        assert r.min_ttr == pytest.approx(float(_q(float(min(ttrs)), "1e-6")), abs=1e-9)
        assert r.max_ttr == pytest.approx(float(_q(float(max(ttrs)), "1e-6")), abs=1e-9)
    assert set(got) == {l for l, _ in docs}


# ---------------------------------------------------------------------------
# window_stl_decompose — full quantization chain on integer-valued series
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(st.integers(0, 20), min_size=7, max_size=20),  # one value per day
)
def test_stl_matches_bruteforce(hand, series):
    from rugpull_data_pipeline_spark.plans.mining_ops import _stl

    rows = [
        (i, d * 86400 + 10, 0, "click", float(v))
        for i, (d, v) in enumerate(enumerate(series))
    ]
    _mk_events(hand, rows)
    got = {r.dow: r for r in hand.sql(_stl(SPARK)).collect()}

    # one event per day, integer value -> dm = value exactly
    dm = [Decimal(v) for v in series]
    resid: dict[int, list[Decimal]] = {}
    for i in range(len(series)):
        if i - 3 < 0 or i + 3 >= len(series):
            continue  # n_win < 7: excluded
        trend = float(sum(dm[i - 3:i + 4])) / 7.0
        r9 = _q(float(dm[i]) - trend, "1e-9")
        resid.setdefault(i % 7, []).append(r9)
    expect = {
        dow: float(_q(float(sum(v)) / len(v), "1e-6")) for dow, v in resid.items()
    }
    assert set(got) == set(expect)
    for dow, s in expect.items():
        assert got[dow].n_days == len(resid[dow])
        assert got[dow].seasonal == pytest.approx(s, abs=1e-9)
