"""ST6 checkpoint recovery + as-of join edge-case semantics.

The reference is fire-and-forget (errors swallowed, no redelivery —
SERVER/combined_subscriber.py:201-205). The Spark build checkpoints, so a
restarted query resumes from the last committed offset: already-processed
files are not re-emitted and late-arriving files are picked up — verified
here by killing and restarting a real query against one checkpoint dir.

The as-of join's tie/missing semantics are pinned by hand-built fixtures
(equal timestamps, no prior match, exact boundary) — the cases a hash
compare over random data might never hit.
"""

from __future__ import annotations

import datetime as dt

from rugpull_data_pipeline_spark.operators.balance import (
    extract_balance_changes,
    parse_blocks,
)
from rugpull_data_pipeline_spark.sources.solana import (
    hot_addresses,
    write_blocks_json,
)
from rugpull_data_pipeline_spark.streaming.pipelines import stream_balance_pipeline
from tests.helpers import hand_table


def test_st6_checkpoint_restart_no_dup_no_loss(spark, tmp_path):
    blocks_dir = str(tmp_path / "blocks")
    watch_dir = str(tmp_path / "watch")
    spark.createDataFrame(
        [(a,) for a in hot_addresses()], "address string"
    ).write.parquet(watch_dir)

    # Phase 1: first half of the stream, then a clean stop.
    write_blocks_json(blocks_dir, n_blocks=8, seed=21, files=2)
    seen: list = []

    def sink(df, epoch_id):
        seen.extend(df.collect())

    q = stream_balance_pipeline(spark, blocks_dir, watch_dir, sink)
    q.processAllAvailable()
    q.stop()
    n_phase1 = len(seen)
    assert n_phase1 > 0

    # Phase 2: more files land; a NEW query on the SAME checkpoint resumes.
    write_blocks_json(blocks_dir, n_blocks=8, seed=22, files=2, file_offset=2)
    q2 = stream_balance_pipeline(spark, blocks_dir, watch_dir, sink)
    q2.processAllAvailable()
    q2.stop()

    batch = extract_balance_changes(
        parse_blocks(spark.read.text(f"{blocks_dir}/blocks_*.json")),
        spark.read.parquet(watch_dir),
    ).collect()
    # No loss: everything the batch run sees was emitted exactly once across
    # the two query incarnations (no re-emission of phase-1 files).
    assert sorted(map(tuple, seen)) == sorted(map(tuple, batch))


def _asof(spark, purchases, views):
    """Run the registered as-of builder against hand-built fixture views."""
    from rugpull_data_pipeline_spark.plans.advanced import join_asof_last_view

    rows = [
        (i, uid, ts, "purchase", float(v), None)
        for i, (uid, ts, v) in enumerate(purchases)
    ] + [
        (100 + i, uid, ts, "view", float(v), None)
        for i, (uid, ts, v) in enumerate(views)
    ]
    hand_table(
        spark,
        "events",
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    )
    out = join_asof_last_view(spark, "unused")
    return {r.event_id: r.last_view_value for r in out.collect()}


def test_asof_edge_semantics(hand):
    t = lambda s: dt.datetime(2024, 1, 1, 12, 0, s)
    got = _asof(
        hand,
        purchases=[
            (1, t(10), 99),   # event 0: views strictly before -> latest wins
            (1, t(20), 99),   # event 1: a view at the SAME instant counts (<=)
            (2, t(10), 99),   # event 2: no prior view for this user -> null
            (3, t(10), 99),   # event 3: only a LATER view exists -> null
        ],
        views=[
            (1, t(5), 1.0),
            (1, t(8), 2.0),
            (1, t(20), 3.0),
            (3, t(30), 4.0),
        ],
    )
    assert got[0] == 2.0
    assert got[1] == 3.0
    assert got[2] is None
    assert got[3] is None
