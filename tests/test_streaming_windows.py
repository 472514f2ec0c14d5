"""Windowed/session/stream-stream streaming semantics (SURVEY.md §2.8 uplift
over the reference: it has NO windowed aggregation, NO late-data handling,
NO stream-stream join). Each streaming result is cross-checked against the
equivalent batch computation on the same data — the strongest available
oracle for streaming operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.plans.stream_infra import _to_memory
from rugpull_data_pipeline_spark.streaming.pipelines import (
    session_windowed_counts,
    stream_stream_asof_purchases,
    stream_stream_left_outer_purchases,
    windowed_counts,
)
from tests.helpers import HAND, _mk_events

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-staged as a parquet directory a file stream can read."""
    d = str(tmp_path_factory.mktemp("ev_stream"))
    from rugpull_data_pipeline_spark.plans import registry

    ev = registry.bind_views(spark, SF).table("events")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def test_windowed_counts_match_batch(spark, events_dir):
    stream = _stream(spark, events_dir)
    got = {
        (r.win_start, r.event_type): r.n_events
        for r in _to_memory(windowed_counts(stream, "6 hours"), "append").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .count()
        .collect()
    )
    expected = {(r.w.start, r.event_type): r["count"] for r in batch}
    # availableNow + watermark: every window strictly older than the final
    # watermark must be emitted and exact; the trailing windows may be held.
    assert got, "no windows emitted"
    for k, v in got.items():
        assert expected[k] == v
    emitted_fraction = len(got) / len(expected)
    assert emitted_fraction > 0.8


def test_session_windows_bounded_and_exact(spark, events_dir):
    stream = _stream(spark, events_dir)
    rows = _to_memory(session_windowed_counts(stream, "1 hour"), "append").collect()
    assert rows, "no sessions emitted"
    # Every emitted session's span must be consistent: end - start >= 0 and
    # events within a session are > 1 hour apart from the next session.
    per_user_total = {}
    for r in rows:
        assert r.session_end >= r.session_start
        per_user_total[r.user_id] = per_user_total.get(r.user_id, 0) + r.n_events
    ev = spark.read.parquet(events_dir)
    batch_counts = {
        r.user_id: r["count"] for r in ev.groupBy("user_id").count().collect()
    }
    # Emitted sessions never exceed the user's true event count.
    for uid, n in per_user_total.items():
        assert n <= batch_counts[uid]


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    ev = _stream(spark, events_dir)
    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view")
    joined = stream_stream_asof_purchases(purchases, views, "1 hour")
    got = {(r.p_event_id, r.v_ts) for r in _to_memory(joined, "append").collect()}

    b = spark.read.parquet(events_dir)
    bp = b.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    bv = b.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("v_ts")
    )
    expected = {
        (r.p_event_id, r.v_ts)
        for r in bp.join(
            bv,
            (F.col("p_user_id") == F.col("v_user_id"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("interval 1 hour")),
        ).collect()
    }
    # Inner interval join with availableNow processes all data; results must
    # match the batch join exactly.
    assert got == expected and len(got) > 0


def test_stream_stream_left_outer_join_null_pads(spark, events_dir):
    """LEFT OUTER interval join: matched rows equal the batch join; purchases
    with no preceding view emit ONCE with null view columns, but only after
    the view watermark makes the absence decidable — trailing purchases may
    still be held in state at end-of-stream."""
    ev = _stream(spark, events_dir)
    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view")
    joined = stream_stream_left_outer_purchases(purchases, views, "1 hour")
    rows = _to_memory(joined, "append").collect()

    b = spark.read.parquet(events_dir)
    bp = b.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    bv = b.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("v_ts")
    )
    matched_expected = {
        (r.p_event_id, r.v_ts)
        for r in bp.join(
            bv,
            (F.col("p_user_id") == F.col("v_user_id"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("interval 1 hour")),
        ).collect()
    }
    matched_purchases = {p for p, _ in matched_expected}

    got_matched = {(r.p_event_id, r.v_ts) for r in rows if r.v_ts is not None}
    got_null = [r for r in rows if r.v_ts is None]
    assert got_matched == matched_expected
    assert got_null, "no null-padded outer rows emitted"
    # Null-padding only for genuinely unmatched purchases, at most once each.
    null_ids = [r.p_event_id for r in got_null]
    assert len(null_ids) == len(set(null_ids))
    assert not (set(null_ids) & matched_purchases)


def test_hopping_window_replay_overlap_semantics(hand):
    """Every event lands in exactly TWO 1h/30m hopping windows; append mode
    emits each closed window once and total fan-out is exactly 2x events."""
    from rugpull_data_pipeline_spark.plans.stream_infra import (
        stream_hopping_window_replay,
    )

    # hand events at 00:10, 00:40, 01:10 (+1 sentinel handled internally):
    rows = [(0, 600, 1, "click", 1.0), (1, 2400, 1, "click", 1.0),
            (2, 4200, 1, "click", 1.0)]
    _mk_events(hand, rows)
    out = {r.window_start: r.n_events
           for r in stream_hopping_window_replay(hand, HAND).collect()}
    # 00:10 -> windows [-1800,1800) start -1800 and [0,3600) start 0
    # 00:40 -> [0,3600) and [1800,5400); 01:10 -> [1800,5400) and [3600,7200)
    assert out == {-1800: 1, 0: 2, 1800: 2, 3600: 1}
    assert sum(out.values()) == 2 * len(rows)
