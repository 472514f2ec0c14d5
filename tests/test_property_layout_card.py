"""Round-6 brute-force property tests, batch 7 — the layout/ETL tail of
the r7 carry-over: dataset card, partition-skew advisor, whitespace
normalization, and the deterministic hash bootstrap."""

from __future__ import annotations

import math
import re
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from tests.helpers import PROP, _dec, _h60, hand_table, _mk_docs, _mk_events


# ---------------------------------------------------------------------------
# traindata_dataset_card
# ---------------------------------------------------------------------------


_CARD_DOC = st.tuples(
    st.sampled_from(["en", "fr"]),
    st.sampled_from(["s0", "s1"]),
    st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=4),
)


@settings(**PROP)
@given(st.lists(_CARD_DOC, min_size=1, max_size=12))
def test_dataset_card_matches_bruteforce(hand, docs):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _dataset_card

    rows = [
        (i, " ".join(toks), lang, src, len(" ".join(toks)))
        for i, (lang, src, toks) in enumerate(docs)
    ]
    _mk_docs(
        hand,
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = {
        (r.lang, r.source): r for r in hand.sql(_dataset_card(SPARK)).collect()
    }

    slices: dict[tuple, list] = {}
    for lang, src, toks in docs:
        slices.setdefault((lang, src), []).append(toks)
    assert set(got) == set(slices)
    for key, members in slices.items():
        r = got[key]
        n_docs = len(members)
        n_toks = sum(len(t) for t in members)
        n_voc = sum(len(set(t)) for t in members)
        uniq = len({" ".join(t) for t in members})
        assert r.n_docs == n_docs
        assert r.n_chars_total == sum(len(" ".join(t)) for t in members)
        assert r.n_tokens_total == n_toks
        assert r.n_unique_texts == uniq
        assert r.exact_dup_rate == pytest.approx(
            (n_docs - uniq) / n_docs, abs=2e-6
        )
        assert r.avg_doc_tokens == pytest.approx(n_toks / n_docs, abs=2e-6)
        assert r.type_token_ratio == pytest.approx(n_voc / n_toks, abs=2e-6)


# ---------------------------------------------------------------------------
# layout_partition_skew_advisor
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(
    st.lists(st.tuples(st.integers(1, 4), st.integers(1, 9)), min_size=1, max_size=30)
)
def test_skew_advisor_matches_bruteforce(hand, pts):
    from rugpull_data_pipeline_spark.plans.traindata_ops import _skew_advisor

    rows = [(f"2024-0{m}-0{d}",) for m, d in pts]
    hand_table(
        hand,
        "lineitem",
        hand.createDataFrame(rows, "ship string").select(
            F.col("ship").cast("date").alias("l_shipdate")
        ),
    )
    got = {r.part_month: r for r in hand.sql(_skew_advisor(SPARK)).collect()}

    per_month: dict[str, int] = {}
    for m, _ in pts:
        per_month[f"2024-0{m}"] = per_month.get(f"2024-0{m}", 0) + 1
    counts = sorted(per_month.values())
    h = (len(counts) - 1) * 0.5
    lo = math.floor(h)
    med = counts[lo] + (h - lo) * (counts[min(lo + 1, len(counts) - 1)] - counts[lo])
    total = sum(counts)
    assert set(got) == set(per_month)
    for month, n in per_month.items():
        r = got[month]
        assert r.n_rows == n
        assert r.row_share == pytest.approx(n / total, abs=2e-6)
        assert r.skew_vs_median == pytest.approx(n / med, abs=2e-6)
        assert r.advised_salt == max(1, math.ceil(n / med))


# ---------------------------------------------------------------------------
# text_whitespace_normalize
# ---------------------------------------------------------------------------


_WS_TEXT = st.text(
    alphabet=list("ab é中\x00\x01\t\n\x1f") + [" "], min_size=0, max_size=20
)


@settings(**PROP)
@given(st.lists(_WS_TEXT, min_size=1, max_size=8))
def test_whitespace_normalize_matches_bruteforce(hand, texts):
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _ws_normalize

    rows = [(i, t, "en", "s0") for i, t in enumerate(texts)]
    _mk_docs(hand, rows)
    got = {r.doc_id: r for r in hand.sql(_ws_normalize(SPARK)).collect()}

    for i, t in enumerate(texts):
        clean = re.sub(r"[ ]+", " ", re.sub(r"[\x00-\x1f]", " ", t)).strip(" ")
        assert got[i].raw_len == len(t)
        assert got[i].clean_len == len(clean)
        assert got[i].collapsed == (len(clean) < len(t))


# ---------------------------------------------------------------------------
# sample_bootstrap_hash
# ---------------------------------------------------------------------------


@settings(**PROP)
@given(st.lists(st.integers(0, 99999), min_size=0, max_size=14))
def test_bootstrap_matches_bruteforce(hand, cents_list):
    from rugpull_data_pipeline_spark.plans.feature_ops import (
        _BOOT_B,
        _POIS_CDF,
        _bootstrap,
    )

    # six fixed rows (ids 1000..1005) guarantee every replicate draws a
    # nonzero total Poisson weight (verified: min replicate weight is 3)
    vals = {i: c / 100.0 for i, c in enumerate(cents_list)}
    vals.update({1000 + j: (j + 1) * 1.25 for j in range(6)})
    _mk_events(hand, [(i, 100 + i, 1, "click", v) for i, v in vals.items()])
    got = hand.sql(_bootstrap(SPARK)).collect()[0]

    cdf = [float(t) for t in _POIS_CDF]

    def pois_k(i: int, b: int) -> int:
        u = _h60(f"{i}-{b}") / 1152921504606846976.0
        for j, t in enumerate(cdf):
            if u < t:
                return j
        return 5

    ms = []
    for b in range(_BOOT_B):
        s = sum((_dec(v * pois_k(i, b), "1e-6") for i, v in vals.items()), Decimal(0))
        kk = sum(pois_k(i, b) for i in vals)
        assert kk > 0
        ms.append(float(s) / kk)
    mean = float(sum((_dec(v, "1e-6") for v in vals.values()), Decimal(0))) / len(vals)
    sq = float(sum((_dec(m * m, "1e-6") for m in ms), Decimal(0))) / _BOOT_B
    sm = float(sum((_dec(m, "1e-6") for m in ms), Decimal(0))) / _BOOT_B
    var = max(sq - sm * sm, 0.0)  # the plan clamps epsilon-negatives
    assert got.n_replicates == _BOOT_B
    assert got.mean_value == pytest.approx(mean, abs=2e-6)
    assert got.boot_lo == pytest.approx(min(ms), abs=2e-6)
    assert got.boot_hi == pytest.approx(max(ms), abs=2e-6)
    assert got.boot_sd == pytest.approx(math.sqrt(var), abs=2e-5)
