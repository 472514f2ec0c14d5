"""Cross-engine agreement on DEGENERATE inputs for the variance-shaped
statistics: constant series and single-state chains used to make one
engine throw while the other returned NaN/NULL (Spark 4 runs ANSI, so
double x/0 THROWS; DuckDB's sqrt(negative) THROWS). After the
greatest/nullif guards, both engines must return the same NULL-shaped
answer — this test runs the SAME hand data through the Spark builder
AND the DuckDB oracle builder and compares."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.functions.scalars import DUCK, SPARK
from tests.helpers import hand_table, _mk_docs, _mk_embeddings, _mk_events


def _both(spark, events_rows, builder):
    """Run builder(SPARK) on a temp view and builder(DUCK) on the same
    frame registered in DuckDB; return (spark_rows, duck_df)."""
    pdf = pd.DataFrame(
        events_rows, columns=["event_id", "t", "user_id", "event_type", "value"]
    )
    _mk_events(spark, pdf)
    con = duckdb.connect()
    dpdf = pdf.assign(ts=pd.to_datetime(pdf["t"], unit="s")).drop(columns=["t"])
    con.register("events", dpdf)
    srows = spark.sql(builder(SPARK)).collect()
    ddf = con.execute(builder(DUCK)).fetchdf()
    con.close()
    return srows, ddf


def _constant_daily(n_days=8, cents=500):
    return [
        (i, i * 86400, 1, "click", cents / 100.0) for i in range(n_days)
    ]


def test_acf_lags_constant_series_is_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.mlprep_ops import _acf_lags

    srows, ddf = _both(hand, _constant_daily(), _acf_lags)
    assert len(srows) == 3 and len(ddf) == 3
    assert all(r.acf is None for r in srows)
    assert ddf["acf"].isna().all()


def test_series_correlation_constant_pair_is_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.pipeline_ops import _series_correlation

    rows = []
    for i in range(30):  # >= 24 shared hourly buckets, both series constant
        rows.append((2 * i, i * 3600, 1, "a", 5.0))
        rows.append((2 * i + 1, i * 3600, 1, "b", 7.0))
    srows, ddf = _both(hand, rows, _series_correlation)
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].pearson_r is None
    assert ddf["pearson_r"].isna().all()


def test_neyman_all_constant_strata_alloc_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _neyman

    rows = [(i, 10 * i, 1, ["a", "b"][i % 2], 5.0) for i in range(8)]
    srows, ddf = _both(hand, rows, _neyman)
    assert len(srows) == 2 and len(ddf) == 2
    for r in srows:
        assert r.std_pop == 0.0
        assert r.alloc_n is None  # total weight 0 -> NULL, not an error
    assert (ddf["std_pop"] == 0.0).all()
    assert ddf["alloc_n"].isna().all()


def test_zscore_constant_type_yields_no_rows_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.curation import _zscore_outliers

    # 6.11: floor-cents quantization makes ex2 - mu^2 epsilon-negative
    rows = [(i, 10 * i, 1, "click", 6.11) for i in range(5)]
    srows, ddf = _both(hand, rows, _zscore_outliers)
    assert srows == [] and len(ddf) == 0


def test_bootstrap_single_constant_row_sd_zero_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.feature_ops import _bootstrap

    rows = [(i, 10 * i, 1, "click", 6.11) for i in range(4)]
    srows, ddf = _both(hand, rows, _bootstrap)
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].boot_sd is not None and not math.isnan(srows[0].boot_sd)
    assert srows[0].boot_sd == ddf["boot_sd"].iloc[0]


def test_ab_ztest_zero_conversions_z_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _ab_ztest

    # no purchases at all: pooled rate 0 -> z denominator 0 -> NULL
    rows = [(i, i * 86400, 1, "click", 1.0) for i in range(6)]
    srows, ddf = _both(hand, rows, _ab_ztest)
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].z_score is None
    assert ddf["z_score"].isna().all()


def test_ab_ztest_empty_arm_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _ab_ztest

    # every event on an odd day: arm A is empty -> rate_a and z are NULL
    rows = [
        (i, 86400 + i, 1, ["click", "purchase"][i % 2], 1.0) for i in range(6)
    ]
    srows, ddf = _both(hand, rows, _ab_ztest)
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].n1 == 0
    assert srows[0].rate_a is None and srows[0].z_score is None
    assert ddf["rate_a"].isna().all() and ddf["z_score"].isna().all()


def test_single_class_eval_metrics_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import (
        _auc,
        _brier,
        _ks_drift,
        _threshold_sweep,
    )

    # a slice with clicks only (no purchases), all on even days: AUC has
    # one class, recall has no positives, Brier's climatology is 0, KS
    # has an empty odd-day sample — each was an ANSI divide on Spark
    rows = [(i, i * 2 * 86400 + i, 1, "click", 5.0 + i) for i in range(4)]
    srows, ddf = _both(hand, rows, _auc)
    assert srows[0].auc is None and ddf["auc"].isna().all()
    srows, ddf = _both(hand, rows, _threshold_sweep)
    assert all(r.recall_ is None for r in srows)
    assert ddf["recall_"].isna().all()
    srows, ddf = _both(hand, rows, _brier)
    assert srows[0].brier_skill is None and ddf["brier_skill"].isna().all()
    srows, ddf = _both(hand, rows, _ks_drift)
    assert srows[0].ks_stat is None and ddf["ks_stat"].isna().all()


def test_kappa_unanimous_raters_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _cohens_kappa

    # every doc short and low-vocab: both gates say drop for everything,
    # expected agreement is 1 and kappa undefined — NULL on both engines
    docs = [(i, "tiny", "en", "s0") for i in range(4)]
    hand_table(
        hand,
        "documents",
        hand.createDataFrame(
            docs, "doc_id long, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")),
    )
    con = duckdb.connect()
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"])
    con.register("documents", pdf.assign(n_chars=pdf["text"].str.len()))
    srows = hand.sql(_cohens_kappa(SPARK)).collect()
    ddf = con.execute(_cohens_kappa(DUCK)).fetchdf()
    con.close()
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].observed_agree == 1.0
    assert srows[0].kappa is None
    assert ddf["kappa"].isna().all()


def test_pmi_single_token_docs_empty_both_engines(hand):
    from rugpull_data_pipeline_spark.plans import registry

    # single-token docs have no bigrams: Spark's sequence(1, 0) DESCENDS
    # and ANSI element_at threw on the out-of-bounds probe before the
    # size >= 2 prefilter; DuckDB's empty range() always skipped them
    docs = [(i, t, "en", "s0") for i, t in enumerate(["", "solo", "a b"])]
    _mk_docs(hand, docs)
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"]),
    )
    srows = registry.get("text_pmi_collocations").builder(hand, "unused").collect()
    drows = con.execute(registry.get("text_pmi_collocations").oracle).fetchall()
    con.close()
    # the one bigram ('a','b') is below the min-count threshold -> empty,
    # identically, with no ANSI error on the single-token docs
    assert srows == [] and drows == []


def test_zipf_single_term_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _zipf

    docs = [(0, "word", "en", "s0"), (1, "word", "en", "s0")]
    _mk_docs(hand, docs)
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"]),
    )
    srows = hand.sql(_zipf(SPARK)).collect()
    ddf = con.execute(_zipf(DUCK)).fetchdf()
    con.close()
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].n_terms == 1
    assert srows[0].zipf_slope is None and srows[0].intercept is None
    assert ddf["zipf_slope"].isna().all()


def test_cosine_zero_vector_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.llm_ops import _sim_topk

    # one all-zero vector among normal ones: its cosines are NULL (0 norm)
    # on BOTH engines — previously an ANSI DIVIDE_BY_ZERO on Spark —
    # and NULLS sort LAST under DESC in both, so ranks agree exactly
    vecs = [
        (0, [1.0, 0.0, 2.0, 0.5], 0),
        (1, [0.0, 0.0, 0.0, 0.0], 1),  # zero vector
        (2, [0.5, 1.0, 0.0, 2.0], 0),
        (3, [1.0, 1.0, 1.0, 1.0], 1),
    ]
    _mk_embeddings(hand, vecs)
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(vecs, columns=["vec_id", "embedding", "label"]),
    )
    srows = [
        (r.query_id, r.vec_id, r.cosine, r.rnk)
        for r in hand.sql(_sim_topk(SPARK)).collect()
    ]
    ddf = con.execute(_sim_topk(DUCK)).fetchdf()
    drows = [
        (int(r.query_id), int(r.vec_id),
         None if pd.isna(r.cosine) else float(r.cosine), int(r.rnk))
        for r in ddf.itertuples()
    ]
    con.close()
    assert sorted(srows) == sorted(drows)
    # the zero vector's cosines are NULL wherever it appears
    assert all(c is None for q, v, c, _ in srows if q == 1 or v == 1)


def test_ewma_all_null_values_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.pipeline_ops import _ewma_halflife

    # count(*) > 0 but count(value) = 0: every 8-lag window is all-NULL,
    # the weight sum is 0 — previously an ANSI DIVIDE_BY_ZERO on Spark
    rows = [(i, 10 * i, 1, "click", None) for i in range(6)]
    srows, ddf = _both(hand, rows, _ewma_halflife)
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].n == 6
    assert srows[0].sum_ewma is None and srows[0].max_ewma is None
    assert ddf["sum_ewma"].isna().all() and ddf["max_ewma"].isna().all()


def test_entropy_rate_single_state_norm_null_both_engines(hand):
    from rugpull_data_pipeline_spark.plans.stats_eval import _entropy_rate

    rows = [(i, 100 + i, 1, "click", 1.0) for i in range(6)]
    srows, ddf = _both(hand, rows, _entropy_rate)
    assert len(srows) == 1 and len(ddf) == 1
    assert srows[0].n_states == 1
    assert srows[0].entropy_rate_nats == 0.0
    assert srows[0].entropy_rate_norm is None  # ln(1) = 0 -> NULL
    assert ddf["entropy_rate_norm"].isna().all()


def test_hits_edgeless_graph_null_scores_both_engines(hand):
    """Every user has exactly ONE event: nodes exist but the transition
    edge set is empty, so the L1 norm is 0. The DuckDB oracle's
    `val / nullif(norm, 0)` yields NULL authority/hub; the Spark builder
    used to return unnormalized 0.0 — a silent value divergence the
    row-count-only sweep missed (ADVICE r6). Both engines must now agree
    on NULL. The Spark side exercises the real DataFrame builder, not the
    oracle SQL."""
    import duckdb as _duckdb

    from rugpull_data_pipeline_spark.plans import mlprep_ops

    rows = [(i, i * 3600, i, t, 1.0) for i, t in
            enumerate(["click", "buy", "view"])]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "t", "user_id", "event_type", "value"]
    )
    _mk_events(hand, pdf)
    srows = mlprep_ops.graph_hits_power3(hand, "unused").collect()

    con = _duckdb.connect()
    dpdf = pdf.assign(ts=pd.to_datetime(pdf["t"], unit="s")).drop(columns=["t"])
    con.register("events", dpdf)
    ddf = con.execute(mlprep_ops._hits_oracle(DUCK)).fetchdf()
    con.close()

    assert len(srows) == 3 and len(ddf) == 3
    assert all(r.authority is None and r.hub is None for r in srows)
    assert ddf["authority"].isna().all() and ddf["hub"].isna().all()


def test_higher_order_funcs_empty_text_csv_empty_string_both_engines(hand):
    """A zero-token document: `split('', ' ')` yields [''] on both engines,
    the length>4 filter empties it, and the csv join of the EMPTY list must
    be '' on both — DuckDB's bare array_to_string returns NULL there
    (round-7 empty-text sweep catch); scalars.arr_join now pins the oracle
    to Spark's '' semantics."""
    import duckdb as _duckdb

    from rugpull_data_pipeline_spark.plans.advanced import _higher_order

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["", "tiny words only"]})
    hand_table(hand, "documents", pdf)
    srows = hand.sql(_higher_order(SPARK)).collect()

    con = _duckdb.connect()
    con.register("documents", pdf)
    ddf = con.execute(_higher_order(DUCK)).fetchdf()
    con.close()

    assert [r.long_tokens_csv for r in srows] == ["", "words"]
    assert list(ddf["long_tokens_csv"]) == ["", "words"]
