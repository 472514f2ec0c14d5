"""Edge-semantics unit tests for the round-4 pipeline operators, on tiny
hand-built frames (oracle parity is covered for every query by
test_correctness_oracle; these pin the boundary behaviors a hash-compare
could only reveal indirectly)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.functions.scalars import SPARK
from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.plans.pipeline_ops import (
    _asof_tolerance,
    _chunk_decontaminate,
    _chunk_sliding,
    _interval_overlap,
    _transition_matrix,
)


def _mk_events(spark, rows):
    df = spark.createDataFrame(
        [(eid, t, uid, et) for eid, t, uid, et in rows],
        "event_id long, t long, user_id long, event_type string",
    ).select(
        "event_id",
        F.col("t").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
    )
    df.createOrReplaceTempView("events")


def _mk_docs(spark, rows):
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )


def test_chunking_boundaries(hand_views):
    spark = hand_views
    _mk_docs(
        spark,
        [
            (1, "a b c d e"),  # shorter than one chunk -> single 5-token chunk
            (2, " ".join(f"t{i}" for i in range(32))),  # exact chunk size
            (3, " ".join(f"t{i}" for i in range(33))),  # one token past
        ],
    )
    rows = spark.sql(_chunk_sliding(SPARK)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.chunk_len)
    assert by_doc[1] == [5]
    # n=32: starts at 1 and 25 (stride 24), lengths 32 and 8
    assert by_doc[2] == [32, 8]
    assert by_doc[3] == [32, 9]
    # chunk ids are dense from 0
    assert [r.chunk_id for r in rows if r.doc_id == 2] == [0, 1]


def test_asof_tolerance_semantics(hand_views):
    spark = hand_views
    _mk_events(
        spark,
        [
            # user 1: two purchases in range -> nearest (dt=100) wins
            (10, 1000, 1, "click"),
            (11, 1899, 1, "purchase"),
            (12, 1100, 1, "purchase"),
            # user 2: equidistant tie -> lower purchase id wins
            (20, 5000, 2, "click"),
            (21, 4900, 2, "purchase"),
            (22, 5100, 2, "purchase"),
            # user 3: exactly at the tolerance boundary -> included
            (30, 10000, 3, "click"),
            (31, 10900, 3, "purchase"),
            # user 4: one second past tolerance -> excluded
            (40, 20000, 4, "click"),
            (41, 20901, 4, "purchase"),
            # user 5: nearest match sits across a bucket boundary
            (50, 899, 5, "click"),
            (51, 901, 5, "purchase"),
        ],
    )
    got = {r.click_id: (r.purchase_id, r.dt_s) for r in spark.sql(
        _asof_tolerance(SPARK)
    ).collect()}
    assert got[10] == (12, 100)
    assert got[20] == (21, 100)
    assert got[30] == (31, 900)
    assert 40 not in got
    assert got[50] == (51, 2)


def test_interval_overlap_semantics(hand_views):
    spark = hand_views
    _mk_events(
        spark,
        [
            # user 1: error starts exactly when signup window ends -> NO pair
            (10, 0, 1, "signup"),
            (11, 7200, 1, "error"),
            # user 2: 1-second overlap at the tail
            (20, 0, 2, "signup"),
            (21, 7199, 2, "error"),
            # user 3: error fully inside the signup window, AND the pair
            # shares two buckets -> must appear exactly once (DISTINCT)
            (30, 0, 3, "signup"),
            (31, 3000, 3, "error"),
        ],
    )
    rows = spark.sql(_interval_overlap(SPARK)).collect()
    got = {(r.signup_id, r.error_id): r.overlap_s for r in rows}
    assert (10, 11) not in got
    assert got[(20, 21)] == 1
    assert got[(30, 31)] == 3600
    assert len(rows) == 2  # no duplicate from the shared-bucket meeting


def test_transition_matrix_rows_normalize(hand_views):
    spark = hand_views
    _mk_events(
        spark,
        [
            # user 1: view -> click -> view -> purchase
            (1, 100, 1, "view"),
            (2, 200, 1, "click"),
            (3, 300, 1, "view"),
            (4, 400, 1, "purchase"),
            # user 2: view -> click
            (5, 100, 2, "view"),
            (6, 200, 2, "click"),
        ],
    )
    rows = spark.sql(_transition_matrix(SPARK)).collect()
    got = {(r.prev_type, r.next_type): (r.n, r.p) for r in rows}
    # transitions: (view,click) x2, (click,view) x1, (view,purchase) x1
    assert got[("view", "click")][0] == 2
    assert got[("view", "click")][1] == pytest.approx(2 / 3)
    assert got[("view", "purchase")][1] == pytest.approx(1 / 3)
    assert got[("click", "view")] == (1, 1.0)
    # each prev row's probabilities sum to 1
    sums = {}
    for (prev, _nxt), (_n, p) in got.items():
        sums[prev] = sums.get(prev, 0.0) + p
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_chunk_decontaminate_flags_embedded_eval_span(hand_views):
    spark = hand_views
    eval_span = " ".join(f"e{i}" for i in range(8))
    _mk_docs(
        spark,
        [
            # eval doc: span deliberately OFF the stride-4 grid (starts at
            # token 2) — the stride-1 eval indexing must still catch it
            (1, "p1 " + eval_span + " s1 s2 s3 s4"),
            # train doc 30 embeds the eval span verbatim mid-document,
            # aligned to the stride-4 grid (position 5 -> chunk start 5)
            (30, "x1 x2 x3 x4 " + eval_span + " y1 y2 y3 y4"),
            (40, " ".join(f"z{i}" for i in range(16))),  # clean train doc
        ],
    )
    rows = spark.sql(_chunk_decontaminate(SPARK)).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert 30 in by_doc and by_doc[30].n_contaminated >= 1
    assert 40 not in by_doc
    r = by_doc[30]
    assert 0 < r.contamination_ratio <= 1.0
    assert r.n_contaminated <= r.n_chunks


def test_twap_weights_by_holding_time(hand_views):
    spark = hand_views
    # one series: value 10 held 100 s, value 20 held 300 s, last sample
    # (value 99) has no successor and must not contribute
    rows = [
        (1, 0, 1, "click", 10.0),
        (2, 100, 1, "click", 20.0),
        (3, 400, 1, "click", 99.0),
        # duplicate-timestamp pair: zero-length hold must be DROPPED, not
        # divide-by-zero or zero-weighted
        (4, 500, 1, "view", 5.0),
        (5, 500, 1, "view", 7.0),
        (6, 600, 1, "view", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, t long, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("t").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    df.createOrReplaceTempView("events")
    from rugpull_data_pipeline_spark.plans.pipeline_ops import _twap_irregular

    got = {r.event_type: r for r in spark.sql(_twap_irregular(SPARK)).collect()}
    # click TWAP = (10*100 + 20*300) / 400 = 17.5
    assert got["click"].twap == pytest.approx(17.5)
    assert got["click"].n_intervals == 2 and got["click"].span_s == 400
    # view: the (5,7) zero-hold pair dropped; only 7 held 100 s survives
    assert got["view"].twap == pytest.approx(7.0)
    assert got["view"].n_intervals == 1


def test_mad_outliers_robust_to_the_outlier_itself(hand_views):
    spark = hand_views
    # 9 values near 10 plus one wild outlier; the z-score filter's own
    # stats would be dragged by the outlier — MAD must not be
    vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.5, 11.0, 9.8, 10.2, 1000.0]
    rows = [(i, i * 60, 1, "click", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, t long, user_id long, event_type string, value double"
    ).select(
        "event_id", F.col("t").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    df.createOrReplaceTempView("events")

    r = {x.event_type: x for x in registry.get("agg_mad_outliers")
                                  .builder(spark, "unused").collect()}["click"]
    assert r.n == 10
    assert r.n_outliers == 1  # exactly the 1000.0
    assert 9.5 <= r.med <= 10.5  # median unmoved by the outlier
    assert r.mad < 1.0


def test_importance_sampling_threshold_is_exact(hand_views):
    spark = hand_views
    docs = [
        (1, "a b c d e f g h", "en"),        # all-distinct: q = 1 -> u < 1e6 always kept
        (2, "a a a a a a a a", "en"),         # q = 1/8 -> kept iff u < 15625
    ]
    spark.createDataFrame(docs, "doc_id long, text string, lang string").createOrReplaceTempView("documents")
    from rugpull_data_pipeline_spark.plans.pipeline_ops import _importance_sample

    rows = {r.doc_id: r for r in spark.sql(_importance_sample(SPARK)).collect()}
    assert 1 in rows and rows[1].quality == 1.0  # q=1 always survives
    if 2 in rows:  # survives only on a < 1.5625% hash draw
        assert rows[2].draw < 15625


def test_winnowing_guarantee_and_short_doc_exclusion(hand_views):
    spark = hand_views
    shared = " ".join(f"s{i}" for i in range(6))  # k + w - 1 = 6 tokens
    _mk_docs(
        spark,
        [
            # two docs sharing a 6-token run at different positions/grids
            (1, "a1 a2 " + shared + " a3 a4 a5"),
            (2, "b1 " + shared + " b2 b3 b4 b5"),
            (3, "c1 c2 c3 c4 c5"),  # 5 tokens < 6 -> no fingerprints at all
            (4, " ".join(f"d{i}" for i in range(12))),  # unrelated
        ],
    )
    from rugpull_data_pipeline_spark.plans.pipeline_ops import (
        _winnow_fingerprint,
        _winnow_pairs,
    )

    fps = spark.sql(_winnow_fingerprint(SPARK)).collect()
    docs_with_fps = {r.doc_id for r in fps}
    assert 3 not in docs_with_fps  # too short to fingerprint
    # the winnowing guarantee: a shared run of k+w-1 tokens yields at
    # least one shared fingerprint regardless of grid phase
    fp1 = {r.fp for r in fps if r.doc_id == 1}
    fp2 = {r.fp for r in fps if r.doc_id == 2}
    assert fp1 & fp2, "shared 6-token run must share a fingerprint"
    pairs = spark.sql(_winnow_pairs(SPARK)).collect()
    # docs 1,2 pair only if they share >= 2 fingerprints — do not assert
    # the pair, but any reported pair must involve docs that HAVE fps
    for r in pairs:
        assert r.doc_a in docs_with_fps and r.doc_b in docs_with_fps
        assert r.n_shared >= 2


def test_pmi_min_count_and_ratio(hand_views):
    spark = hand_views
    # bigram "x y" appears 6 times; "p q" only twice (below min count 5)
    docs = [(i, "x y filler" + str(i)) for i in range(6)]
    docs += [(10, "p q"), (11, "p q")]
    _mk_docs(spark, docs)

    rows = registry.get("text_pmi_collocations").builder(spark, "unused").collect()
    got = {(r.a, r.b): r for r in rows}
    assert ("x", "y") in got
    assert ("p", "q") not in got  # below the min-count threshold
    r = got[("x", "y")]
    assert r.n_ab == 6
    # PMI ratio must exceed 1 (x and y co-occur far above independence)
    assert r.pmi_ratio > 1.0


def _mk_events_valued(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, t long, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.col("t").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    df.createOrReplaceTempView("events")


def test_manifest_prune_zone_maps(hand_views):
    spark = hand_views
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.pipeline_ops import _manifest_prune

    # Two files: slot 0 (hours 0-2) holds cheap rows for user 1..2,
    # slot 1 (hours 3-5) holds one 9.50 row for user 42.
    rows = [
        (0, 100, 1, "click", 1.00),
        (1, 200, 2, "click", 1.50),
        (2, 3 * 3600, 42, "click", 9.50),
    ]
    _mk_events_valued(spark, rows)
    got = {r.probe: r for r in spark.sql(_manifest_prune(SPARK)).collect()}
    # top_value_band (cents >= 900): file 0 zone [100,150] misses -> skipped.
    assert (got["top_value_band"].n_files, got["top_value_band"].n_skipped) == (2, 1)
    assert got["top_value_band"].skip_ratio == 0.5
    # user_point_42: only file 1 contains user 42's range.
    assert got["user_point_42"].n_skipped == 1
    # value_range_1_2 (cents 100..200): file 1 zone [950,950] skipped.
    assert got["value_range_1_2"].n_skipped == 1
    # bytes bookkeeping: scanned + skipped covers both files.
    r = got["top_value_band"]
    assert r.bytes_scanned + r.bytes_skipped == 3 * 64


def test_kcenter_farthest_point_traversal(hand_views):
    spark = hand_views
    from rugpull_data_pipeline_spark.plans.pipeline_ops import (
        sample_kcenter_coreset,
    )

    spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [8.0, 0.0]),
            (2, [0.0, 6.0]),
            (3, [1.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    ).createOrReplaceTempView("embeddings")
    rows = sample_kcenter_coreset(spark, "unused").collect()
    # greedy: seed 0, then the farthest-point order 1 (64), 2 (36), 3 (2);
    # distances are micro-scaled so 8.0 -> 8e6, squared 64e12.
    assert [(r.center_rank, r.vec_id) for r in rows] == [
        (1, 0), (2, 1), (3, 2), (4, 3),
    ]
    M = 10**12
    assert [r.coverage_radius_sq for r in rows] == [64 * M, 36 * M, 2 * M, 0]


def test_bloom_prefilter_no_false_negatives(hand_views):
    spark = hand_views
    # user 7 spends 600.00 on purchases (member); users 1..5 never qualify.
    rows = [(0, 100, 7, "purchase", 600.0)]
    rows += [(i, 200 + i, i, "click", 1.0) for i in range(1, 6)]
    rows += [(10, 300, 7, "view", 2.0)]
    _mk_events_valued(spark, rows)
    got = {
        r.event_type: r
        for r in registry.get("join_bloom_prefilter").builder(spark, "unused").collect()
    }
    # every true member row passes the bloom (no false negatives):
    for r in got.values():
        assert r.n_bloom_pass >= r.n_true_member
        assert r.n_false_pos == r.n_bloom_pass - r.n_true_member
    # user 7's rows are members in both the purchase and view slices.
    assert got["purchase"].n_true_member == 1
    assert got["view"].n_true_member == 1
    assert got["click"].n_true_member == 0
    # 5 non-member clicks; with 3 seeds over 1024 bits and 3 set bits the
    # chance any click passes is ~0 — and deterministic, so pin it.
    assert got["click"].n_bloom_pass == 0 and got["click"].fp_rate == 0.0


def test_sql_scripting_threshold_walk(hand_views):
    spark = hand_views
    from rugpull_data_pipeline_spark.plans.spark4_features import (
        spark4_sql_scripting,
    )

    # 100 one-cent events + one 10.00 spike: thr=1 keeps all 101 (>1%),
    # one doubling to thr=2 leaves only the spike (1 of 101 <= 1%).
    rows = [(i, i, 1, "click", 0.01) for i in range(100)]
    rows.append((100, 200, 1, "purchase", 10.0))
    _mk_events_valued(spark, rows)
    row = spark4_sql_scripting(spark, "unused").collect()[0]
    assert (row.threshold_cents, row.n_above, row.n_total, row.n_iters) == (
        2, 1, 101, 1,
    )


def _kcenter_property(spark_session):
    """Hypothesis-driven: the Spark traversal must equal the pure-Python
    Gonzalez greedy on random small vector sets."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
            min_size=4,
            max_size=10,
            unique=True,
        )
    )
    def inner(pts):
        spark = spark_session
        from rugpull_data_pipeline_spark.plans import registry
        from rugpull_data_pipeline_spark.plans.pipeline_ops import (
            sample_kcenter_coreset,
        )

        spark.createDataFrame(
            [(i, [float(x), float(y)]) for i, (x, y) in enumerate(pts)],
            "vec_id long, embedding array<float>",
        ).createOrReplaceTempView("embeddings")
        registry._VIEWS_FOR[id(spark)] = "unused"  # static_table reads the view
        try:
            rows = sample_kcenter_coreset(spark, "unused").collect()
        finally:
            registry._VIEWS_FOR.pop(id(spark), None)
        # python replica on the micro-quantized integers
        import math
        iv = [
            (i, [math.floor(float(x) * 1e6), math.floor(float(y) * 1e6)])
            for i, (x, y) in enumerate(pts)
        ]

        def d2(a, b):
            return sum((p - q) * (p - q) for p, q in zip(a, b))

        centers = [min(iv, key=lambda t: t[0])]
        dist = {i: d2(v, centers[0][1]) for i, v in iv}
        expect = [(1, centers[0][0], max(dist.values()))]
        for rank in range(2, 5):
            far = max(iv, key=lambda t: (dist[t[0]], -t[0]))
            for i, v in iv:
                dist[i] = min(dist[i], d2(v, far[1]))
            expect.append((rank, far[0], max(dist.values())))
        got = [(r.center_rank, r.vec_id, r.coverage_radius_sq) for r in rows]
        assert got == expect
        # the coverage radius is monotone non-increasing
        radii = [r.coverage_radius_sq for r in rows]
        assert all(a >= b for a, b in zip(radii, radii[1:]))

    return inner


def test_kcenter_matches_bruteforce_greedy(spark):
    _kcenter_property(spark)()


def test_vacuum_plan_flags_expired_and_superseded(hand_views):
    spark = hand_views
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.pipeline_ops import _vacuum_plan

    # Anchor file: day 21, slot 0, 38 rows (2432 B >= tombstone) -> healthy
    # and sets the retention horizon at day 7 + 37 s.
    rows = [(100 + i, 21 * 86400 + i, 1, "click") for i in range(38)]
    # Expired big file: day 0, slot 0, 2 rows, far behind the horizon.
    rows += [(0, 100, 1, "click"), (1, 200, 2, "click")]
    # Expired AND small: day 1, slot 2 (hour 6) -> 'expired' wins the CASE.
    rows += [(10, 86400 + 6 * 3600, 3, "click")]
    # Superseded: day 20, slot 1, 3 rows (192 B < 2400) but retained.
    rows += [(20 + i, 20 * 86400 + 3 * 3600 + i, 4, "click") for i in range(3)]
    _mk_events(spark, rows)
    got = [
        (r.day, r.reason, r.n_files, r.reclaim_bytes, r.first_slot, r.last_slot)
        for r in spark.sql(_vacuum_plan(SPARK)).collect()
    ]
    assert got == [
        ("1970-01-01", "expired", 1, 128, 0, 0),
        ("1970-01-02", "expired", 1, 64, 2, 2),
        ("1970-01-21", "superseded", 1, 192, 1, 1),
    ]  # the healthy day-22 anchor file must NOT appear
