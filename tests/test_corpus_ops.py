"""Semantics tests for the round-2 corpus operators beyond the oracle gate:
k-means vs a NumPy replica, z-order layout row-group pruning, CDC merge
delete/insert semantics, and substring-dedup symmetry."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.plans.corpus_ops import _zval
from tests.helpers import DOC_TEXT, _mk_docs


def test_kmeans_matches_numpy_replica(spark, sf_dir):
    got = {
        int(r["cluster"]): (int(r["n_points"]), float(r["inertia"]))
        for r in registry.get("kmeans_lloyd_fit").builder(spark, sf_dir).collect()
    }

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    X = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    k, iters = 8, 4
    cents = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes lowest index on ties
        for c in range(k):
            if (assign == c).any():
                cents[c] = X[assign == c].mean(axis=0)
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)

    for c in range(k):
        n = int((assign == c).sum())
        inertia = float(d2[assign == c, c].sum()) if n else 0.0
        assert got[c][0] == n, f"cluster {c} size: spark {got[c][0]} vs numpy {n}"
        assert got[c][1] == pytest.approx(inertia, rel=1e-6)


def test_zorder_layout_bounds_both_dims(spark, sf_dir, tmp_path):
    """Files written in z-order have narrow min/max on BOTH predicate
    columns; a linear sort clusters only its own column. This is the
    row-group-pruning payoff the layout_zorder_stats query models."""
    # Hash the keys to uniform 0..255 dims so the domain is full at every
    # scale factor (raw l_suppkey spans only 0..9 at sf0.001).
    base = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.pmod(F.xxhash64("l_orderkey"), F.lit(256)).alias("a"),
            F.pmod(F.xxhash64("l_partkey", F.lit(999)), F.lit(256)).alias("b"),
        )
        .withColumn("z", F.expr(_zval("a", "b", SPARK)))
    )
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    base.repartitionByRange(32, "z").sortWithinPartitions("z").write.parquet(zpath)
    base.repartitionByRange(32, "a").sortWithinPartitions("a").write.parquet(lpath)

    def spans(path, col):
        out = []
        ds = pq.ParquetDataset(path)
        for frag in ds.fragments:
            md = frag.metadata
            idx = {c: i for i, c in enumerate(frag.physical_schema.names)}[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append(st.max - st.min)
        return out

    def avg(xs):
        return sum(xs) / len(xs)

    # A file straddling a high z-bit boundary legitimately spans one dim's
    # whole domain, so the pruning claim is about the AVERAGE file, not the
    # worst one.
    z_a, z_b = avg(spans(zpath, "a")), avg(spans(zpath, "b"))
    l_b = avg(spans(lpath, "b"))
    # Z-order: the typical file bounds both dims well below the 0..255
    # domain — scans with a predicate on either column skip most files.
    assert z_a <= 144 and z_b <= 144, (z_a, z_b)
    # Linear layout: the non-sorted dim spans ~the whole domain everywhere.
    assert l_b >= 240, l_b


def test_cdc_merge_semantics(spark, sf_dir):
    got = registry.get("cdc_merge_apply").builder(spark, sf_dir).toPandas()

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    last = (
        ev.sort_values(["ts", "event_id"])
        .groupby("user_id")
        .last()
        .reset_index()
    )
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")
    snap_keys = set(
        cust.loc[(cust.c_custkey >= 50) & (cust.c_custkey <= 199), "c_custkey"]
    )
    deleted = set(last.loc[last.event_type == "error", "user_id"])
    upserted = set(last.loc[last.event_type != "error", "user_id"])

    got_keys = set(got["key"])
    assert got_keys == (snap_keys | upserted) - deleted
    # deleted keys are gone even when present in the snapshot
    assert not (deleted & got_keys)
    origins = got.set_index("key")["origin"]
    for k in got_keys:
        if k in upserted and k in snap_keys:
            assert origins[k] == "update"
        elif k in upserted:
            assert origins[k] == "insert"
        else:
            assert origins[k] == "unchanged"


def test_substring_dedup_flags_cross_doc_windows(spark, sf_dir):
    df = registry.get("dedup_substring_spans").builder(spark, sf_dir).toPandas()
    assert (df["n_dup_windows"] <= df["n_windows"]).all()
    assert ((df["dup_ratio"] >= 0) & (df["dup_ratio"] <= 1)).all()
    # cross-doc duplication is symmetric: a duplicated window implicates at
    # least two documents, so dup counts cannot be concentrated in one row
    if (df["n_dup_windows"] > 0).any():
        assert (df["n_dup_windows"] > 0).sum() >= 2


def test_bm25_scores_handmade(hand):
    import math
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.llm_ops import _bm25

    _mk_docs(hand, [(1, "table table x y"), (2, "table z")], DOC_TEXT)
    rows = hand.sql(_bm25(SPARK)).collect()
    # N=2, ntok=6, df(table)=2 -> idf = ln(1.2); dl1=4, dl2=2, avgdl=3.
    idf = math.log(1.2)
    s1 = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 4 / 3))
    s2 = idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / 3))
    assert [r.doc_id for r in rows] == [1, 2]
    assert rows[0].bm25_score == pytest.approx(s1, abs=1e-5)
    assert rows[1].bm25_score == pytest.approx(s2, abs=1e-5)
    assert rows[0].n_terms_hit == 1


def test_suffix_prefix_overlap_directional(hand):
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.llm_ops import _suffix_prefix_overlap

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    a = "x1 x2 " + shared          # ends with the shared window
    b = shared + " y1 y2"          # starts with it
    c = "z1 z2 z3 z4 z5 z6 z7 z8"  # unrelated
    _mk_docs(hand, [(1, a), (2, b), (3, c)], DOC_TEXT)
    got = [(r.doc_a, r.doc_b) for r in hand.sql(_suffix_prefix_overlap(SPARK)).collect()]
    assert got == [(1, 2)]  # directional: A's suffix -> B's prefix only


def test_bigram_kneser_ney_handmade(hand):
    import math
    from rugpull_data_pipeline_spark.plans import registry

    # bigrams: (a,b) x2, (a,c) x1 -> c1(a)=3, N1+(a.)=2, N1+(.b)=N1+(.c)=1,
    # T=2. P(b|a)=1.25/3+0.75*(2/3)*0.5=2/3; P(c|a)=0.25/3+0.25=1/3.
    _mk_docs(
        hand,
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        DOC_TEXT,
    )
    got = {r.doc_id: r for r in registry.get("text_bigram_kneser_ney")
                                .builder(hand, "unused").collect()}
    assert sorted(got) == [1, 2, 3]  # the 1-token doc has no bigrams
    assert got[1].n_bigrams == 1
    assert got[1].avg_nll_kn == pytest.approx(-math.log(2 / 3), abs=2e-6)
    assert got[3].avg_nll_kn == pytest.approx(-math.log(1 / 3), abs=2e-6)
    assert got[1].avg_nll_kn == got[2].avg_nll_kn
