"""Structured Streaming pipelines mirroring the reference dataflow
(SURVEY.md §2.8 ST1-ST7, §3).

Design notes for scale:

- **Balance extraction is stateless across blocks.** The reference's only
  aggregation state (OwnerMintMap, RECEIVER/common.h:84-86) lives and dies
  inside one transaction of one block, so a micro-batch that contains whole
  blocks needs NO streaming state: the batch extraction operator is exact.
  The stream is therefore `readStream → foreachBatch(extract + sink)` —
  unbounded-state-free by construction, which is the property that survives
  a 1000-executor deployment.

- **One parse and one analysis per micro-batch.** A one-block micro-batch
  costs more in driver work than in bytes, so the batch does each step
  once: the JSON file source parses every block at the scan, at the same
  pruned schema as batch ``read_blocks`` (a text source + ``from_json``
  re-parsed per consumer expression); and the extraction is one
  parameterized SQL statement, analysed once, whose steps nest as
  subqueries because a ``WITH`` chain costs more to analyse for the same
  plan. The fixed file-system work starts no process either: the
  checkpoint logs are written through the FileSystem-based manager
  (``session.get_spark``) and the watchlist is listed with
  ``listStatus``, which on a local file system without libhadoop spares a
  ``readlink`` per log rename and an ``ls -ld`` per listed file.

- **One job per one-partition micro-batch.** The watchlist is bound into
  the extraction as a driver-held array value, so a micro-batch runs no
  collect_set job and no broadcast collect. A micro-batch that arrives as
  one partition (a one-block batch always does) is ``coalesce(1)``'d
  before extraction: its output is then a single partition, which already
  satisfies the GROUP BY's distribution, so the aggregate and the sink
  write run in one job with no Exchange and no AQE stage boundary. A
  multi-partition micro-batch (backlog catch-up) keeps the exchange and
  its parallel aggregate; the choice reads the batch's own partition
  count and adds no option.

- **Stream-static join refresh (ST5).** The reference re-fetches Redis
  watchlists per chunk (SERVER/flightWithRedis.py:81-84). The Spark analogue:
  the dimension is a parquet directory whose files are re-listed inside
  ``foreachBatch`` every micro-batch, and re-collected (at its declared
  schema, so no schema-inference job runs) only when the listing's paths,
  sizes or modification times differ from the last one. An overwrite, an
  appended part file and an in-place rewrite all change the listing, so
  dimension updates are visible to the very next batch — the same
  visibility contract, without a collect per batch.

- **Stateful price-change (ST4/P11).** The 10% threshold emitter
  (SERVER/ingest_prices.py:42-55) keeps last-emitted per pair — genuinely
  stateful, implemented with ``applyInPandasWithState`` (bounded: one row
  of floats per pair).

- **Ordering (ST3).** The reference has no watermark and never drops late
  data; we default to a long watermark and document the difference.
"""

from __future__ import annotations

from typing import Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.balance import (
    extract_balance_changes,
    read_block_stream,
    watch_addresses,
)


def _listing(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """(path, size, modification time) of every file under ``path``, and
    under its subdirectories, via the Hadoop file system the parquet reader
    itself lists with. ``listStatus`` per directory, not ``listFiles``:
    the ``LocatedFileStatus`` that ``listFiles`` builds per file reads
    permission and owner, which the local file system without libhadoop
    gets by starting an ``ls -ld`` process (Spark's ``HadoopFSUtils``
    avoids that constructor for the same reason)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    out, dirs = [], [jpath]
    while dirs:
        for f in fs.listStatus(dirs.pop()):
            if f.isDirectory():
                dirs.append(f.getPath())
            else:
                out.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return sorted(out)


def stream_balance_pipeline(
    spark: SparkSession,
    blocks_dir: str,
    watchlist_dir: str,
    sink: Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
):
    """§3.1 as a stream: block JSON files → balance changes → ``sink``.

    ``watchlist_dir`` is a parquet dimension directory re-listed every
    micro-batch and re-collected when it changed (ST5 refresh semantics).
    ``checkpoint_dir`` defaults to a subdir of ``blocks_dir``
    (restart-from-offset recovery, ST6); pass a fresh directory to force a
    from-scratch replay. Returns the started query.
    """
    blocks = read_block_stream(
        spark,
        f"{blocks_dir}/blocks_*.json",
        max_files_per_trigger=max_files_per_trigger,
    )
    listing, watch = None, []

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal listing, watch
        session = batch_df.sparkSession
        # ST5: re-list every batch, re-collect only when the dimension changed
        current = _listing(session, watchlist_dir)
        if current != listing:
            listing, watch = current, watch_addresses(
                session.read.schema("address string").parquet(watchlist_dir)
            )
        # One partition in: a SinglePartition plan, so the GROUP BY needs no
        # exchange and the whole micro-batch is one job.
        if batch_df.rdd.getNumPartitions() == 1:
            batch_df = batch_df.coalesce(1)
        sink(extract_balance_changes(batch_df, watch), epoch_id)

    return (
        blocks.writeStream.foreachBatch(process)
        .option(
            "checkpointLocation", checkpoint_dir or f"{blocks_dir}/_checkpoint"
        )
        .start()
    )


# --- stateful price-change detection (P11/ST4) -----------------------------

PRICE_EVENT_OUT = T.StructType(
    [
        T.StructField("pair", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("base_price", T.DoubleType()),
        T.StructField("quote_price", T.DoubleType()),
        T.StructField("base_change", T.DoubleType()),
        T.StructField("quote_change", T.DoubleType()),
    ]
)

_PRICE_STATE = T.StructType(
    [
        T.StructField("last_base", T.DoubleType()),
        T.StructField("last_quote", T.DoubleType()),
    ]
)


def _fold_keys(pdf: pd.DataFrame) -> list:
    """Deterministic fold order for the price-change kernels: event time,
    tiebroken by event_id when the caller carries one. Duplicate timestamps
    are GUARANTEED in a 100 TB corpus (and engineered by the sweep's
    --constant-time mode) — sorting on ts alone left the emission chain
    arrival-order dependent and divergent from the oracle's
    `ORDER BY ts, event_id` walk."""
    return ["ts", "event_id"] if "event_id" in pdf.columns else ["ts"]


def _merged(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """One group's rows as one frame. A group arrives as MULTIPLE Arrow
    chunks once it exceeds maxRecordsPerBatch, and sorting per chunk would
    fold out of event-time order (caught by the sf0.1 oracle run), so every
    kernel concatenates and sorts ONCE."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    return pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()


def _price_fold(pair: str, pdfs: Iterator[pd.DataFrame], last) -> tuple:
    """The P11 rule over one pair's rows, shared by both stateful APIs: emit
    a row when base or quote moved >10% vs the LAST EMITTED value — exactly
    SERVER/ingest_prices.py:42-55 (state advances only on emission).
    Returns the new (last_base, last_quote) and the emitted frame or None."""
    last_base, last_quote = last
    rows = []
    merged = _merged(pdfs)
    if len(merged):
        for r in merged.sort_values(_fold_keys(merged)).itertuples():
            base, quote = float(r.base_price), float(r.quote_price)
            if last_base is None:
                emit, bc, qc = True, None, None
            else:
                bc = abs(base - last_base) / last_base if last_base else None
                qc = abs(quote - last_quote) / last_quote if last_quote else None
                emit = (bc is not None and bc > 0.10) or (qc is not None and qc > 0.10)
            if emit:
                rows.append((pair, r.ts, base, quote, bc, qc))
                last_base, last_quote = base, quote
    frame = pd.DataFrame(rows, columns=PRICE_EVENT_OUT.fieldNames()) if rows else None
    return (last_base, last_quote), frame


def _make_price_change_fn(ttl_ms: int | None):
    """Build the stateful kernel with the TTL captured in the closure
    (cloudpickle ships closures by value, so the executor-side function sees
    the configured TTL — a module global would reset on executor import)."""

    def _price_change_fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """``_price_fold`` with the last emission in GroupState. With a TTL,
        an idle pair's state is evicted on timeout — the bounded-state guard
        the reference lacks (its price map lives forever,
        SERVER/ingest_prices.py:8); after eviction the next price is
        first-seen and emits unconditionally."""
        if state.hasTimedOut:
            state.remove()
            return
        last, frame = _price_fold(
            key[0], pdfs, state.get if state.exists else (None, None)
        )
        state.update(last)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if frame is not None:
            yield frame

    return _price_change_fn


def price_change_events(prices: DataFrame, state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming DataFrame of price events → threshold-filtered emissions.

    State per pair is two doubles — bounded regardless of stream length;
    ``state_ttl_ms`` additionally evicts idle pairs (processing-time
    timeout), bounding state by the ACTIVE key set, not the ever-seen one.
    """
    from ..session import ship_package

    ship_package(prices.sparkSession)
    return prices.groupBy("pair").applyInPandasWithState(
        _make_price_change_fn(state_ttl_ms),
        PRICE_EVENT_OUT,
        _PRICE_STATE,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


_BOLL_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_epoch", T.LongType()),
        T.StructField("v_micro", T.LongType()),
    ]
)

_BOLL_STATE = T.StructType(
    [
        T.StructField("vals", T.ArrayType(T.LongType())),
        # Ordering guard: last folded (ts ns, event_id) — see _guarded_fold.
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_eid", T.LongType()),
    ]
)


def _guarded_fold(step, init, order, columns, key, pdfs, state, drops):
    """The skeleton of every ordered stateful fold below: read (or
    initialise to ``init``) the kernel's carry and its fold frontier — the
    last folded ``order`` key, kept in state after the carry — concatenate
    the group's chunks, sort ONCE by ``order``, fold each row through
    ``step(carry, row, mark, key) -> (carry, output row or None)`` where
    ``mark`` is the row's ``order`` key (ts in ns), and store the advanced
    state. Outputs become one frame with ``columns``.

    ORDERING CONTRACT: a fold is only correct when rows arrive in
    event-time order ACROSS micro-batches (within a batch it sorts). A late
    file that regresses event time cannot be folded retroactively — the
    carry has already advanced — so a row at or behind the frontier is
    DROPPED and counted in ``drops`` when given: the watermark operators'
    drop-late-data policy, made explicit because applyInPandasWithState has
    no watermark of its own."""
    n = len(init)
    stored = tuple(state.get) if state.exists else init + (None,) * len(order)
    carry, frontier = stored[:n], stored[n:]
    rows = []
    merged = _merged(pdfs)
    if len(merged):
        for r in merged.sort_values(order).itertuples():
            mark = tuple(
                int(r.ts.value) if c == "ts" else int(getattr(r, c)) for c in order
            )
            if frontier[0] is not None and mark <= frontier:
                if drops is not None:
                    drops.add(1)
                continue  # regressed behind the fold frontier: late, dropped
            carry, out = step(carry, r, mark, key)
            if out is not None:
                rows.append(out)
            frontier = mark
    state.update(carry + frontier)
    if rows:
        yield pd.DataFrame(rows, columns=columns)


def _ordered_fold(
    df: DataFrame,
    group: str,
    name: str,
    step,
    init: tuple,
    order: list[str],
    out: T.StructType,
    state_schema: T.StructType,
    late_drops,
) -> DataFrame:
    """``_guarded_fold`` of ``step`` per ``group`` key as an append-mode
    applyInPandasWithState. The input is observed as ``<name>_rows_in``
    under ``<name>_guard`` — per batch in every StreamingQueryProgress, the
    denominator of the drop rate ``late_drops`` (see ``late_drop_counter``)
    counts."""
    from ..session import ship_package

    ship_package(df.sparkSession)
    columns = out.fieldNames()

    def fn(key, pdfs, state):
        return _guarded_fold(step, init, order, columns, key, pdfs, state, late_drops)

    src = df.observe(f"{name}_guard", F.count(F.lit(1)).alias(f"{name}_rows_in"))
    return src.groupBy(group).applyInPandasWithState(
        fn, out, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def _bollinger_step(carry, r, mark, key):
    """Bollinger-band breakout: the carry is a ring buffer of the last 7
    fixed-point values; a row whose 8-row frame satisfies |v - mean| >
    2·sample_sd emits an alert. The test is evaluated in EXACT integer
    arithmetic — (n-1)·(n·v - s)² > 4·n·(n·s2 - s²) over micro-unit longs —
    so the emitted row set is bit-identical to the SQL window oracle (a
    float sd near the threshold could flip the flag between engines).
    State is ≤7 longs plus the frontier per key (ST4)."""
    (buf,) = carry
    v = int(r.v)
    frame = list(buf[-7:]) + [v]
    n = len(frame)
    alert = None
    if n == 8:
        s = sum(frame)
        s2 = sum(x * x for x in frame)
        if (n - 1) * (n * v - s) ** 2 > 4 * n * (n * s2 - s * s):
            alert = (key[0], mark[0] // 1_000_000_000, v)
    return (frame[-7:],), alert


def bollinger_alerts(values: DataFrame, late_drops=None) -> DataFrame:
    """Streaming DataFrame (event_type, ts, event_id, v) → breakout alerts.

    The streaming twin of the batch ``window_bollinger_bands`` operator,
    emitting only full-frame (n=8) breakouts; state per key is a ≤7-long
    ring buffer, so total state is O(active keys), never O(stream).

    Requires event-time-monotonic arrival across micro-batches; rows that
    regress behind a key's fold frontier are dropped (see _guarded_fold).
    OBSERVABILITY: pass ``late_drops`` (an accumulator from
    ``late_drop_counter``) to count those silent drops — a production
    deployment pages on drops/rows_in, where rows_in is the per-batch
    ``bollinger_rows_in`` metric ``observe()`` emits in every
    StreamingQueryProgress event."""
    return _ordered_fold(
        values, "event_type", "bollinger", _bollinger_step, ([],),
        ["ts", "event_id"], _BOLL_OUT, _BOLL_STATE, late_drops,
    )


def price_change_events_tws(
    prices: DataFrame, state_ttl_ms: int | None = None
) -> DataFrame:
    """The SAME P11/ST4 semantics on the modern ``transformWithStateInPandas``
    API (Spark 4 StatefulProcessor): typed ValueState holding the last
    EMITTED (base, quote) per pair — exactly SERVER/ingest_prices.py:42-55 —
    with optional built-in state TTL instead of the hand-rolled timeout
    handling ``applyInPandasWithState`` needs.

    Kept alongside :func:`price_change_events` deliberately: tests assert the
    two APIs produce identical emissions on identical input, which pins the
    semantics independently of either API's quirks.

    The TWS state-server protocol is protobuf-encoded
    (``pyspark/sql/streaming/proto/StateMessage_pb2.py``). Where the real
    ``protobuf`` package is absent this activates the vendored pure-Python
    mini-runtime (``_vendor/miniproto`` — public wire format only) on the
    driver, the task workers, and the TWS pre-init worker; it raises
    ``NotImplementedError`` only if that activation itself fails, rather
    than crashing the query's schema-validation worker mid-flight.
    """
    from .._vendor import ensure_protobuf

    try:
        ensure_protobuf(prices.sparkSession)
        import google.protobuf  # noqa: F401
    except Exception as exc:  # pragma: no cover - activation failure path
        raise NotImplementedError(
            "transformWithStateInPandas needs a protobuf runtime "
            "(pyspark.sql.streaming.proto) and the vendored miniproto shim "
            f"could not be activated: {exc}; use price_change_events "
            "(applyInPandasWithState) instead."
        ) from exc

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from ..session import ship_package

    ttl = state_ttl_ms

    class PriceChange(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState(
                "last_emitted", _PRICE_STATE, ttlDurationMs=ttl
            )

        def handleInputRows(self, key, rows, timerValues):
            last, frame = _price_fold(
                key[0], rows, self._last.get() if self._last.exists() else (None, None)
            )
            self._last.update(last)
            if frame is not None:
                yield frame

        def close(self) -> None:
            pass

    ship_package(prices.sparkSession)
    return prices.groupBy("pair").transformWithStateInPandas(
        PriceChange(),
        outputStructType=PRICE_EVENT_OUT,
        outputMode="Append",
        timeMode="ProcessingTime" if ttl is not None else "None",
    )


def watermarked_dedup(
    events: DataFrame,
    keys: list[str],
    delay: str = "1 hour",
    within_watermark: bool = False,
) -> DataFrame:
    """A2 distinct-set accumulation with bounded state: the reference's Redis
    SADD watchlists grow forever (SERVER/combined_subscriber.py:88-93); the
    Spark build bounds dedup state with an event-time watermark.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``: the key
    set need not include the event-time column — duplicates arriving within
    the watermark delay of the first sighting are dropped, and each key's
    state carries an explicit expiry instead of relying on the key embedding
    its timestamp. This is the right form for the reference's semantics
    (an address is an address; its arrival time is not part of its identity).
    """
    wm = events.withWatermark("ts", delay)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def windowed_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with late-data bound.

    The reference has NO windowed aggregation and NO late-data handling (ST3:
    blocks arrive out of slot order and are processed whenever they land) —
    this is the capability uplift Structured Streaming gives for free. State
    per (window, event_type) is one count; the watermark expires windows, so
    state is bounded by (watermark / slide) windows per key at any moment.
    """
    win = (
        F.window("ts", window)
        if slide is None
        else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
        )
    )


def session_windowed_counts(
    events: DataFrame, gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (gap-based, W3 recency semantics) per user: the
    streaming twin of the batch ``window_sessionize_1h`` query. Sessions
    merge as events arrive; the watermark finalizes and evicts them."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_asof_purchases(
    purchases: DataFrame, views: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each purchase pairs with the same user's
    views from the preceding ``horizon``.

    Both sides are watermarked so Spark can bound the join state: the views
    buffer holds only rows newer than (purchase watermark − horizon). This is
    the streaming analogue of the batch as-of join (join_asof_last_view) —
    the event-time-correct version of the reference's "latest price at
    processing time" join (J3, SERVER/flightWithRedisLatest.py:100-105).
    """
    p = purchases.select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("p_ts", "30 minutes")
    v = views.select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("view_value"),
    ).withWatermark("v_ts", "30 minutes")
    return p.join(
        v,
        F.expr(
            f"""
            p_user_id = v_user_id
            AND v_ts <= p_ts
            AND v_ts >= p_ts - interval {horizon}
            """
        ),
        "inner",
    ).select("p_event_id", "p_user_id", "p_ts", "purchase_value", "v_ts", "view_value")


def stream_stream_left_outer_purchases(
    purchases: DataFrame, views: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits, with
    null view columns when no view preceded it within ``horizon``.

    The outer semantics are only decidable once the view-side watermark has
    passed the purchase's interval — Spark holds the purchase in state until
    then and emits the null-padded row on timeout. This is the uplift the
    reference cannot express: its J3 lookup (SERVER/
    flightWithRedisLatest.py:100-105) silently null-tags against whatever
    state is present at processing time; here the null is event-time-correct.
    State on both sides stays bounded by watermark + interval.
    """
    p = purchases.select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("p_ts", "30 minutes")
    v = views.select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("view_value"),
    ).withWatermark("v_ts", "30 minutes")
    return p.join(
        v,
        F.expr(
            f"""
            p_user_id = v_user_id
            AND v_ts <= p_ts
            AND v_ts >= p_ts - interval {horizon}
            """
        ),
        "leftOuter",
    ).select("p_event_id", "p_user_id", "p_ts", "purchase_value", "v_ts", "view_value")


_ATTR_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("channel", T.StringType()),
        T.StructField("purchase_value", T.DoubleType()),
    ]
)

_ATTR_STATE = T.StructType(
    [
        T.StructField("t_sec", T.LongType()),
        T.StructField("t_type", T.StringType()),
        # Ordering guard: last folded (ts ns, kind, event_id).
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_kind", T.LongType()),
        T.StructField("last_eid", T.LongType()),
    ]
)

_ATTR_LOOKBACK_S = 3600


def _attribution_step(carry, r, mark, key):
    """Last-touch attribution: the carry is ONE (epoch-sec, type) pair — the
    user's most recent non-purchase touch; each purchase emits its
    attributed channel ('direct' when the touch is absent or older than the
    lookback). Rows fold in (ts, kind, event_id) order so a same-instant
    touch lands before the purchase that credits it, mirroring the batch
    window's kind-ordered carry exactly; a purchase already emitted cannot
    be retracted in append mode, which is why late rows are dropped."""
    t_sec, t_type = carry
    ts_ns, kind, eid = mark
    sec = ts_ns // 1_000_000_000
    if kind == 0:
        return (sec, r.event_type), None
    recent = t_sec is not None and sec - t_sec <= _ATTR_LOOKBACK_S
    channel = t_type if recent else "direct"
    val = None if pd.isna(r.value) else float(r.value)
    return carry, (eid, key[0], channel, val)


def attribution_events(events: DataFrame, late_drops=None) -> DataFrame:
    """Streaming DataFrame (user_id, ts, event_id, event_type, value, kind)
    → per-purchase attributed rows. State per user is one touch — O(active
    users), never O(stream); the streaming twin of the batch
    events_attribution_last_touch rollup.

    Requires event-time-monotonic arrival across micro-batches; rows that
    regress behind a user's fold frontier are dropped (see _guarded_fold);
    pass ``late_drops`` (see ``late_drop_counter``) to count them, and read
    the per-batch ``attribution_rows_in`` observe() metric for the rate
    denominator."""
    return _ordered_fold(
        events, "user_id", "attribution", _attribution_step, (None, None),
        ["ts", "kind", "event_id"], _ATTR_OUT, _ATTR_STATE, late_drops,
    )


_CUSUM_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_epoch", T.LongType()),
        T.StructField("v_micro", T.LongType()),
    ]
)

_CUSUM_STATE = T.StructType(
    [
        T.StructField("s", T.LongType()),
        T.StructField("n_warm", T.LongType()),
        T.StructField("sum20", T.LongType()),
        # Ordering guard: last folded (ts ns, event_id).
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_eid", T.LongType()),
    ]
)

_CUSUM_WARMUP = 20
_CUSUM_H_MULT = 5  # alert when s > 5 * sum20


def _cusum_step(carry, r, mark, key):
    """CUSUM changepoint detector (one-sided, upper): after a 20-sample
    warm-up fixes the baseline sum, fold s = max(0, s + 20·v − sum20) and
    alert (then reset) when s exceeds 5·sum20 — sustained upward drift the
    reference's single-step ±10% predicate cannot see. The whole recursion
    is EXACT integer arithmetic over micro-unit longs, so the replay
    hash-matches the recursive-CTE oracle; state is five longs per key."""
    s, n_warm, sum20 = carry
    v = int(r.v)
    if n_warm < _CUSUM_WARMUP:
        return (s, n_warm + 1, sum20 + v), None
    s = max(0, s + _CUSUM_WARMUP * v - sum20)
    if s > _CUSUM_H_MULT * sum20:
        return (0, n_warm, sum20), (key[0], mark[0] // 1_000_000_000, v)
    return (s, n_warm, sum20), None


def cusum_alerts(values: DataFrame, late_drops=None) -> DataFrame:
    """Streaming DataFrame (event_type, ts, event_id, v) → changepoint
    alerts. State per key is five longs — O(active keys), never O(stream).

    Requires event-time-monotonic arrival across micro-batches; rows that
    regress behind a key's fold frontier are dropped (see _guarded_fold);
    pass ``late_drops`` (see ``late_drop_counter``) to count them, and read
    the per-batch ``cusum_rows_in`` observe() metric for the rate
    denominator."""
    return _ordered_fold(
        values, "event_type", "cusum", _cusum_step, (0, 0, 0),
        ["ts", "event_id"], _CUSUM_OUT, _CUSUM_STATE, late_drops,
    )


_KALMAN_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_epoch", T.LongType()),
        T.StructField("filtered", T.DoubleType()),
        T.StructField("innovation", T.DoubleType()),
    ]
)

_KALMAN_STATE = T.StructType(
    [
        T.StructField("x", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
        # Ordering guard: last folded (ts ns, event_id).
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_eid", T.LongType()),
    ]
)

# Local-level model noise, in micro-unit² variance. Fixed constants so the
# recursion is a pure function of the observation sequence.
_KALMAN_Q = 1.0e10  # process (level drift) variance per step
_KALMAN_R = 1.0e12  # observation variance


def _kalman_step(carry, r, mark, key):
    """1-D Kalman filter, local-level model: predict p_n = p + Q, gain
    k = p_n / (p_n + R), update x += k·(z − x), p = (1 − k)·p_n — the
    optimal recursive smoother the reference's ±10% single-step predicate
    and the Bollinger ring buffer both approximate. First observation
    initializes (x = z, p = R) and emits innovation 0. State per key is
    TWO doubles (+ the frontier) — O(active keys).

    DETERMINISM: the fold is plain IEEE double +, ·, / in a fixed
    expression order over micro-unit observations, so the DuckDB
    recursive-CTE oracle that performs the identical expression tree
    reproduces it bit-for-bit; emitted values are RAW unit-scaled doubles —
    the registered replay rounds via SQL round() on both engines."""
    x, p = carry
    z = float(int(r.v))
    if x is None:
        x, p = z, _KALMAN_R
        innov = 0.0
    else:
        pn = p + _KALMAN_Q
        k = pn / (pn + _KALMAN_R)
        innov = z - x
        x = x + k * innov
        p = (1.0 - k) * pn
    return (x, p), (key[0], mark[0] // 1_000_000_000, x / 1000000.0, innov / 1000000.0)


def kalman_filtered(values: DataFrame, late_drops=None) -> DataFrame:
    """Streaming DataFrame (event_type, ts, event_id, v) → per-observation
    filtered level + innovation. State per key is two doubles — O(active
    keys), never O(stream).

    Requires event-time-monotonic arrival across micro-batches; rows that
    regress behind a key's fold frontier are dropped (see _guarded_fold);
    pass ``late_drops`` (see ``late_drop_counter``) to count them, and read
    the per-batch ``kalman_rows_in`` observe() metric for the rate
    denominator."""
    return _ordered_fold(
        values, "event_type", "kalman", _kalman_step, (None, None),
        ["ts", "event_id"], _KALMAN_OUT, _KALMAN_STATE, late_drops,
    )


def late_drop_counter(spark: SparkSession):
    """Accumulator for the frontier guards' silently-dropped late rows.

    The stateful kernels (Bollinger / CUSUM / Kalman / attribution) DROP
    rows that regress behind a key's fold frontier — the correct late-data
    policy, but one a production pipeline must be able to page on. Pass the
    returned accumulator as the factories' ``late_drops`` argument; its
    ``.value`` on the driver is the cumulative dropped-row count across all
    executors and micro-batches (accumulator deltas ride task completion,
    so the count is exact once a batch commits). Pair it with the
    ``*_rows_in`` observe() metric in StreamingQueryProgress for the
    drop-rate a monitor alerts on."""
    return spark.sparkContext.accumulator(0)
