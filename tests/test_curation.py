"""Semantics checks for the curation/vector-index batch beyond the oracle
hash-compare (tests/test_correctness_oracle.py covers every registered
query; these assert the properties the hash can't express)."""

from __future__ import annotations

from rugpull_data_pipeline_spark.plans import registry

from .conftest import SF_ORACLE


def test_cc_fixpoint_matches_union_find(spark, sf_dir):
    """The iterative CC labels must equal a driver-side union-find ground
    truth over the same edge set (the non-SQL query's oracle)."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in registry.get("dedup_ngram_jaccard")
        .builder(spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    clusters: dict[int, list[int]] = {}
    for x in list(parent):
        clusters.setdefault(find(x), []).append(x)
    expected = sorted(
        (root, len(members), min(members))
        for root, members in clusters.items()
        if len(members) > 1
    )

    got = [
        (r.cluster_id, r.n_members, r.keep_doc_id)
        for r in registry.get("dedup_cc_fixpoint").builder(spark, sf_dir).collect()
    ]
    assert got == expected
    # Min-label CC invariant: every cluster is labeled by its smallest member.
    assert all(cid == keep for cid, _, keep in got)


def test_quantize_codes_bounded(spark, sf_dir):
    """Quantized codes are 0..254, so code_sum fits 64 codes x 254 and the
    per-vector range brackets the first element's code."""
    rows = registry.get("sim_embedding_quantize").builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.min_q <= r.max_q
        assert 0 <= r.code_0 <= 254
        assert 0 <= r.code_sum <= 64 * 254


def test_centroid_self_assignment(spark, sf_dir):
    """Each centroid vector must assign to itself at distance 0 (exact
    integer L2 guarantees this; float math would not)."""
    rows = {
        r.vec_id: r
        for r in registry.get("sim_centroid_assign").builder(spark, sf_dir).collect()
    }
    for cid in range(8):
        assert rows[cid].centroid_id == cid
        assert rows[cid].dist2_q == 0
    # total coverage: every vector got exactly one assignment
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{SF_ORACLE}/embeddings.parquet'"
    ).fetchone()[0]
    assert len(rows) == n


def test_stratified_sample_rates(spark, sf_dir):
    """Hash-bucket sampling keeps ~25% of 'en', ~75% of the rest, and the
    decision is a pure row function (same doc never flips)."""
    import duckdb

    df = registry.get("text_stratified_sample").builder(spark, sf_dir)
    kept = df.groupBy("lang").count().collect()
    kept_by_lang = {r.lang: r["count"] for r in kept}
    totals = dict(
        duckdb.sql(
            f"SELECT lang, count(*) FROM '{SF_ORACLE}/documents.parquet' GROUP BY lang"
        ).fetchall()
    )
    en_rate = kept_by_lang.get("en", 0) / totals["en"]
    rest_kept = sum(v for k, v in kept_by_lang.items() if k != "en")
    rest_total = sum(v for k, v in totals.items() if k != "en")
    assert 0.10 <= en_rate <= 0.40, en_rate
    assert 0.60 <= rest_kept / rest_total <= 0.90
    # determinism: a second evaluation returns the identical sample
    ids1 = sorted(r.doc_id for r in df.collect())
    ids2 = sorted(r.doc_id for r in df.collect())
    assert ids1 == ids2


def test_cms_estimates_are_upper_bounds(spark, sf_dir):
    """Count-min guarantees est >= true count (one-sided error)."""
    rows = registry.get("agg_cms_heavy_hitters").builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.est_count >= r.true_count


def test_q14_single_nonnull_row(spark, sf_dir):
    rows = registry.get("q14_promo_revenue").builder(spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0].promo_revenue_pct is not None
    assert 0.0 <= rows[0].promo_revenue_pct <= 100.0


def test_ohlc_invariants(spark, sf_dir):
    """low <= open/close <= high, and volume aggregates all ticks."""
    rows = registry.get("window_ohlc_candles").builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.low <= r.high
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high
        assert r.n_ticks >= 1


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing invariants the oracle hash can't express: token totals are
    conserved, pack ids are dense from 0 per source, and every pack except
    a source's last holds ≥ the 2048-token budget once its straddling doc
    (which began inside the window) is counted."""
    packs = registry.get("text_pack_sequences").builder(spark, sf_dir).collect()
    docs = registry.bind_views(spark, sf_dir).sql(
        "select source, sum(size(split(trim(text), '\\\\s+'))) as n "
        "from documents group by source"
    ).collect()
    total_by_source = {r.source: r.n for r in docs}

    by_source: dict[str, list] = {}
    for r in packs:
        by_source.setdefault(r.source, []).append(r)
    assert set(by_source) == set(total_by_source)
    for source, rows in by_source.items():
        rows.sort(key=lambda r: r.pack_id)
        # conservation: every token lands in exactly one pack
        assert sum(r.pack_tokens for r in rows) == total_by_source[source]
        # density: pack ids are 0..n-1 with no gaps (packs fill in order)
        assert [r.pack_id for r in rows] == list(range(len(rows)))
        # fill: pack ids being dense means the first doc of pack p+1 starts
        # at offset ≥ (p+1)·2048, and that offset IS the prefix sum of
        # pack_tokens through pack p — so every non-final prefix crosses
        # its pack boundary (no underfilled pack except the source's last)
        prefix = 0
        for r in rows[:-1]:
            prefix += r.pack_tokens
            assert prefix >= (r.pack_id + 1) * 2048, (source, r.pack_id, prefix)
        assert all(r.n_docs >= 1 for r in rows)
