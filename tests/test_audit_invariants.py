"""Semantic invariants for the sketch/ANN accuracy audits (r6 driver
window) on the sf0.001 corpus — the structural facts that must hold for
ANY corpus, independent of the DuckDB hash compare:

- the (b, r) banding configs are NESTED (an r=8 collision implies the
  r=4 collision implies r=2 implies r=1), so candidate and captured
  counts are monotone along the chain;
- every recall is hits/k in [0, 1];
- the theoretical S-curve column is exactly 1 - (1 - 0.5^r)^b.
"""

from __future__ import annotations

import pytest

from rugpull_data_pipeline_spark.plans import registry

SF = "/root/testdata/sf0.001"


def test_lsh_band_sensitivity_nesting_and_scurve(spark):
    rows = {
        r.config: r
        for r in registry.get("audit_lsh_band_sensitivity")
        .builder(spark, SF)
        .collect()
    }
    assert set(rows) == {"b16r1", "b08r2", "b04r4", "b02r8"}
    chain = ["b16r1", "b08r2", "b04r4", "b02r8"]
    for fine, coarse in zip(chain, chain[1:]):
        assert rows[fine].n_candidates >= rows[coarse].n_candidates
        assert rows[fine].n_true_captured >= rows[coarse].n_true_captured
    universe = {r.n_true_universe for r in rows.values()}
    assert len(universe) == 1  # same collision universe for every config
    for r in rows.values():
        assert 0 <= r.n_true_captured <= min(r.n_candidates, r.n_true_universe)
        theo = 1.0 - (1.0 - 0.5**r.rows_per_band) ** r.n_bands
        assert r.theo_p_at_05 == pytest.approx(theo, abs=5e-7)  # 6-dp column
        assert r.n_bands * r.rows_per_band == 16


def test_ann_recall_bounds_and_ratio(spark):
    rows = registry.get("audit_ann_recall").builder(spark, SF).collect()
    assert rows  # sf0.001 has queries
    for r in rows:
        assert 0 <= r.hits <= r.k_exact
        assert r.recall_at_10 == pytest.approx(r.hits / r.k_exact, abs=2e-6)


def test_multiprobe_recall_bounds_and_ratio(spark):
    rows = registry.get("audit_multiprobe_recall").builder(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.hits_home <= r.k_exact
        assert 0 <= r.hits_multi <= r.k_exact
        assert r.recall_home == pytest.approx(r.hits_home / r.k_exact, abs=2e-6)
        assert r.recall_multi == pytest.approx(r.hits_multi / r.k_exact, abs=2e-6)
    # probing Hamming-1 neighbor buckets must strictly widen the candidate
    # pool somewhere on a real corpus — multi-probe exists to raise recall
    assert sum(r.hits_multi for r in rows) >= sum(r.hits_home for r in rows)


def test_minhash_estimate_audit_bounds(spark):
    rows = registry.get("audit_minhash_estimate").builder(spark, SF).collect()
    for r in rows:
        d = r.asDict()
        est = d.get("jaccard_est")
        exact = d.get("jaccard_exact")
        if est is not None:
            assert 0.0 <= est <= 1.0
        if exact is not None:
            assert 0.0 <= exact <= 1.0
