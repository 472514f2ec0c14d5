"""Handcrafted-case semantics tests for the round-3 quality operators,
beyond the DuckDB oracle gate: known repetition ratios, a known top BPE
merge pair, and a constructed semantic-dup/non-dup pair."""

from __future__ import annotations

import pytest

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans.quality_ops import (
    _bpe_pairs,
    _repetition,
    _semantic_dedup,
    _semantic_iv,
)
from tests.helpers import DOC_TEXT, hand_table, _mk_docs, _mk_embeddings


@pytest.fixture
def crafted_views(hand):
    """Registrars for crafted documents and embeddings tables."""

    def set_docs(rows):
        _mk_docs(hand, rows, DOC_TEXT)

    def set_embs(rows):
        _mk_embeddings(hand, rows, "vec_id long, embedding array<float>")

    return set_docs, set_embs


def test_repetition_score_handcrafted(hand, crafted_views):
    set_docs, _ = crafted_views
    set_docs(
        [
            (1, "a b c a b c a b c"),  # 7 grams: abc x3, bca x2, cab x2
            (2, "w x y z q r s t"),  # 6 grams, all unique
        ]
    )
    rows = {r["doc_id"]: r for r in hand.sql(_repetition(SPARK)).collect()}
    r1 = rows[1]
    assert (r1["n_grams"], r1["n_distinct"]) == (7, 3)
    assert r1["dup_gram_ratio"] == pytest.approx(1 - 3 / 7, abs=1e-6)
    assert r1["top_gram_frac"] == pytest.approx(3 / 7, abs=1e-6)
    assert r1["is_repetitive"] == 1
    r2 = rows[2]
    # No gram repeats: ratio 0, and the top-gram term must NOT fire just
    # because the doc is short (max(c)=1 guard).
    assert r2["dup_gram_ratio"] == 0.0
    assert r2["is_repetitive"] == 0


def test_bpe_top_pair_handcrafted(hand, crafted_views):
    set_docs, _ = crafted_views
    set_docs([(1, "a b a b"), (2, "a b"), (3, "c d")])
    rows = hand.sql(_bpe_pairs(SPARK)).collect()
    assert rows[0]["rank"] == 1
    assert rows[0]["pair"] == "a|b"  # 2 in doc1 + 1 in doc2
    assert rows[0]["n_occurrences"] == 3
    counts = {r["pair"]: r["n_occurrences"] for r in rows}
    assert counts["b|a"] == 1 and counts["c|d"] == 1


@pytest.mark.slow_property
def test_semantic_dedup_handcrafted(hand, crafted_views):
    _, set_embs = crafted_views
    dim = 8

    def e(i, scale=1.0):
        v = [0.0] * dim
        v[i] = scale
        return v

    rows = [(i, e(i)) for i in range(8)]  # centroids = unit basis vectors
    rows.append((8, e(0, 2.0)))  # colinear with centroid 0 -> cos 1
    v9 = e(0)
    v9[1] = 1.0  # diagonal between e0 and e1 -> cos 1/sqrt(2)
    rows.append((9, v9))
    set_embs(rows)

    out = {r["vec_id"]: r for r in hand.sql(_semantic_dedup(SPARK, _semantic_iv(SPARK))).collect()}
    # Vectors 0..7 are each their own cluster keeper -> excluded.
    assert set(out) == {8, 9}
    assert out[8]["centroid_id"] == 0 and out[8]["keep_id"] == 0
    assert out[8]["cos_to_keeper"] == pytest.approx(1.0, abs=1e-6)
    assert out[8]["is_semantic_dup"] == 1
    # Tie on L2 to centroids 0 and 1 breaks to the lower cid.
    assert out[9]["centroid_id"] == 0
    assert out[9]["cos_to_keeper"] == pytest.approx(2 ** -0.5, abs=1e-4)
    assert out[9]["is_semantic_dup"] == 0


def test_k_anonymity_small_groups_flagged(hand):
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.quality_ops import _k_anonymity

    hand_table(
        hand,
        "customer",
        # QI class A: 5 identical members; class B: a singleton; class C:
        # negative balance lands in band floor(-500/1000) = -1.
        [(i, "c", 1, 1500.0, "AUTO") for i in range(5)]
        + [(10, "c", 2, 1500.0, "AUTO"), (11, "c", 1, -500.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    got = {r.k: r for r in hand.sql(_k_anonymity(SPARK)).collect()}
    assert sorted(got) == [2, 5, 10]
    assert all(got[k].n_groups == 3 for k in got)
    # k=2: the two singletons violate; k=5: 5-member class is exactly k.
    assert (got[2].n_violating_groups, got[2].rows_at_risk) == (2, 2)
    assert (got[5].n_violating_groups, got[5].rows_at_risk) == (2, 2)
    # k=10: every class violates.
    assert (got[10].n_violating_groups, got[10].rows_at_risk) == (3, 7)
    assert got[10].risk_rate == 1.0
