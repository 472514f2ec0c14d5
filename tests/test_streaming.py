"""Streaming-semantics tests (SURVEY.md §2.8): micro-batch balance pipeline,
stream-static dimension refresh (ST5), stateful price-change (ST4/P11),
watermarked dedup (A2), fan-out (ST7). File sources + availableNow-style
triggers, no live RPC/Redis."""

from __future__ import annotations

import os
import re
import time

import pytest
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.operators.balance import (
    extract_balance_changes,
    parse_blocks,
)
from rugpull_data_pipeline_spark.plans.stream_infra import (
    _drain,
    _landed,
    _to_memory,
    _write_slices,
)
from rugpull_data_pipeline_spark.sources.solana import (
    hot_addresses,
    write_blocks_json,
)
from rugpull_data_pipeline_spark.streaming.pipelines import (
    price_change_events,
    price_change_events_tws,
    stream_balance_pipeline,
    watermarked_dedup,
)


def _two_batches(df, later: str, src: str):
    """``df`` as a paced stream of two micro-batches: the rows where
    ``later`` is false, then the rest (mtime-stamped, so in that order)."""
    _write_slices(df, src, 2, F.expr(later).cast("int"))
    return _landed(df, 2, path=src)


def test_stream_balance_matches_batch(spark, tmp_path):
    blocks_dir = str(tmp_path / "blocks")
    watch_dir = str(tmp_path / "watch")
    write_blocks_json(blocks_dir, n_blocks=12, seed=7, files=3)
    spark.createDataFrame(
        [(a,) for a in hot_addresses()], "address string"
    ).write.parquet(watch_dir)

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    q = stream_balance_pipeline(spark, blocks_dir, watch_dir, sink)
    q.processAllAvailable()
    q.stop()

    batch = extract_balance_changes(
        parse_blocks(spark.read.text(f"{blocks_dir}/blocks_*.json")),
        spark.read.parquet(watch_dir),
    ).collect()
    assert len(collected) == len(batch) > 0
    assert set(map(tuple, collected)) == set(map(tuple, batch))


def test_stream_micro_batch_parses_once_and_filters_before_explode(spark, tmp_path):
    """A micro-batch of the balance stream parses each block once, at the
    JSON file source's scan (no from_json re-parse per consumer
    expression), and its watchlist filter runs below the pre/post explode,
    so only watchlisted transactions pay for the balances. A one-block
    micro-batch arrives as one partition and aggregates in place: its plan
    holds no exchange of any kind, so the batch is one Spark job."""
    blocks_dir = str(tmp_path / "blocks")
    watch_dir = str(tmp_path / "watch")
    write_blocks_json(blocks_dir, n_blocks=2, seed=7, files=2)
    spark.createDataFrame(
        [(a,) for a in hot_addresses()], "address string"
    ).write.parquet(watch_dir)

    plans = []

    def sink(df, epoch_id):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())

    q = stream_balance_pipeline(spark, blocks_dir, watch_dir, sink)
    q.processAllAvailable()
    # foreachBatch hands the sink the micro-batch as an RDD-backed plan;
    # the micro-batch's own plan holds the source scan.
    source = q._jsq.streamingQuery().lastExecution().optimizedPlan().toString()
    q.stop()

    assert len(plans) == 1
    scans = re.findall(r"Relation \[[^\]]*\] (\w+)", source)
    assert scans == ["json"], source
    for plan in (source, plans[0]):
        assert not re.search(r"from_json|JsonToStructs", plan), plan
    lines = plans[0].splitlines()
    leaf = next(ln for ln in lines if "LogicalRDD" in ln)
    assert "blockTime" in leaf and "transactions" in leaf, plans[0]

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    explode = next(
        i for i, ln in enumerate(lines) if "Generate explode(concat(transform" in ln
    )
    hot = next(
        i for i, ln in enumerate(lines)
        if re.match(r"[ :+-]*Filter arrays_overlap\(", ln)
    )
    # The watchlist filter is in the Generate's subtree: printed after it,
    # nested deeper, with nothing at the Generate's depth or shallower in
    # between.
    assert hot > explode and depth(lines[hot]) > depth(lines[explode])
    assert all(depth(ln) > depth(lines[explode]) for ln in lines[explode + 1 : hot])

    # That micro-batch held both files as two partitions; one file per
    # trigger gives one-block micro-batches.
    executed = []

    def one_block_sink(df, epoch_id):
        executed.append(df._jdf.queryExecution().executedPlan().toString())

    q = stream_balance_pipeline(
        spark,
        blocks_dir,
        watch_dir,
        one_block_sink,
        max_files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "one_block_checkpoint"),
    )
    q.processAllAvailable()
    q.stop()
    assert len(executed) == 2
    for plan in executed:
        # neither a shuffle Exchange nor a BroadcastExchange
        assert "Exchange" not in plan, plan


def test_st5_dimension_refresh_next_batch(spark, tmp_path):
    """Watchlist updates must be visible to the next micro-batch — the
    reference's per-chunk Redis re-fetch contract (ST5) — whether the
    writer overwrites the dimension, appends a new part file to it, or
    lands one under a new ``partitionBy`` subdirectory. The last moves the
    subdirectory in whole, so no file at the dimension's root changes and
    only a listing that recurses sees it."""
    blocks_dir = str(tmp_path / "blocks")
    write_blocks_json(blocks_dir, n_blocks=12, seed=7, files=3)
    hot = hot_addresses()

    for mode in ("overwrite", "append", "partitioned"):
        watch_dir = str(tmp_path / f"watch_{mode}")

        def land(addresses, how, part):
            df = spark.createDataFrame(
                [(a, part) for a in addresses], "address string, src string"
            )
            if mode != "partitioned":
                df.select("address").write.mode(how).parquet(watch_dir)
            elif how == "overwrite":
                df.write.mode(how).partitionBy("src").parquet(watch_dir)
            else:
                stage = str(tmp_path / "stage_partitioned")
                df.write.partitionBy("src").parquet(stage)
                os.rename(f"{stage}/src={part}", f"{watch_dir}/src={part}")

        # v1 watchlist: only half the hot addresses
        land(hot[:4], "overwrite", "v1")

        seen_per_epoch: dict[int, set] = {}

        def sink(df, epoch_id):
            seen_per_epoch[epoch_id] = {r.wallet for r in df.collect()}
            # after the first batch, upgrade the dimension (out-of-band
            # writer, like the pool-detector side pipeline S9): overwrite it
            # with the whole set, or append the missing half as a new part
            if epoch_id == 0:
                if mode == "overwrite":
                    land(hot, "overwrite", "v2")
                else:
                    land(hot[4:], "append", "v2")

        q = stream_balance_pipeline(
            spark,
            blocks_dir,
            watch_dir,
            sink,
            max_files_per_trigger=1,
            checkpoint_dir=str(tmp_path / f"checkpoint_{mode}"),
        )
        q.processAllAvailable()
        q.stop()

        assert len(seen_per_epoch) >= 2, mode
        later_wallets = set().union(
            *(s for e, s in seen_per_epoch.items() if e >= 1)
        )
        # the second half of the watchlist can only be tagged after the refresh
        assert any(w in hot[4:] for w in later_wallets), mode
        assert not any(w in hot[4:] for w in seen_per_epoch[0]), mode
        # ... and the refresh is read by the very next batch
        assert any(w in hot[4:] for w in seen_per_epoch[1]), mode


def test_checkpoint_file_manager_is_filesystem_based_and_fails_if_exists(
    spark, tmp_path
):
    """The session writes streaming checkpoint files through the
    FileSystem-based manager, and its atomic create still refuses to
    replace an existing file when overwriting is not asked for: an offsets
    or commits log entry is written once."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt" / "0"))
    fm = checkpointing.CheckpointFileManager.create(
        path.getParent(), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    out = fm.createAtomic(path, False)
    out.write(1)
    out.close()
    again = fm.createAtomic(path, False)
    again.write(2)
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        again.close()
    assert (tmp_path / "ckpt" / "0").read_bytes() == bytes([1])


def test_one_block_micro_batches_start_no_readlink_or_ls(spark, tmp_path):
    """Three one-block micro-batches of the balance stream start no
    ``readlink`` and no ``ls`` process. Hadoop's local file system without
    libhadoop shells out to ``readlink`` when FileContext renames a
    checkpoint log file, and to ``ls -ld`` for each file's permission when
    a listing builds ``LocatedFileStatus``; a JFR recording of the JVM's
    ``jdk.ProcessStart`` events shows either."""
    blocks_dir = str(tmp_path / "blocks")
    watch_dir = str(tmp_path / "watch")
    write_blocks_json(blocks_dir, n_blocks=3, seed=7, files=3)
    spark.createDataFrame(
        [(a,) for a in hot_addresses()], "address string"
    ).write.parquet(watch_dir)
    batches = []

    jvm = spark._jvm
    dump = jvm.java.io.File(str(tmp_path / "process_start.jfr")).toPath()
    recording = jvm.jdk.jfr.Recording()
    try:
        recording.enable("jdk.ProcessStart")
        recording.start()
        q = stream_balance_pipeline(
            spark,
            blocks_dir,
            watch_dir,
            lambda df, epoch_id: batches.append(df.count()),
            max_files_per_trigger=1,
            checkpoint_dir=str(tmp_path / "checkpoint"),
        )
        q.processAllAvailable()
        q.stop()
        recording.stop()
        recording.dump(dump)
    finally:
        recording.close()
    commands = [
        e.getString("command")
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]

    assert len(batches) == 3 and all(batches), batches
    forked = [
        c for c in commands if os.path.basename(c.split()[0]) in ("readlink", "ls")
    ]
    assert not forked, forked


def test_stateful_price_change_10pct(spark, tmp_path):
    src = str(tmp_path / "prices")
    rows = [
        ("P1", "2024-01-01 00:00:00", 100.0, 10.0),
        ("P1", "2024-01-01 00:00:01", 105.0, 10.4),   # <10% vs 100 → suppressed
        ("P1", "2024-01-01 00:00:02", 112.0, 10.8),   # >10% vs 100 → emit
        ("P1", "2024-01-01 00:00:03", 113.0, 10.9),   # <10% vs 112 → suppressed
        ("P2", "2024-01-01 00:00:00", 50.0, 5.0),
        ("P2", "2024-01-01 00:00:01", 40.0, 5.0),     # 20% drop → emit
    ]
    df = spark.createDataFrame(
        rows, "pair string, ts_s string, base_price double, quote_price double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.parquet(src)

    schema = "pair string, base_price double, quote_price double, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(src)
    out = price_change_events(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("price_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.pair, r.base_price): r for r in spark.sql("select * from price_out").collect()
    }
    assert set(got) == {("P1", 100.0), ("P1", 112.0), ("P2", 50.0), ("P2", 40.0)}
    assert got[("P1", 112.0)].base_change == pytest.approx(0.12)


def test_transform_with_state_matches_applyinpandas(spark, tmp_path):
    """ST4 on BOTH stateful APIs: the Spark 4 StatefulProcessor
    (transformWithStateInPandas) must emit exactly what the
    applyInPandasWithState implementation emits on the same input —
    pinning the P11 semantics independently of either API.

    Runs WITHOUT the real protobuf package: price_change_events_tws
    activates the vendored miniproto runtime (_vendor/miniproto, public
    wire format only) on driver + workers, so the TWS state-server
    protocol round-trips through the shim end-to-end here."""
    src = str(tmp_path / "prices_tws")
    rows = [
        ("P1", "2024-01-01 00:00:00", 100.0, 10.0),
        ("P1", "2024-01-01 00:00:01", 105.0, 10.4),
        ("P1", "2024-01-01 00:00:02", 112.0, 10.8),
        ("P1", "2024-01-01 00:00:03", 113.0, 10.9),
        ("P2", "2024-01-01 00:00:00", 50.0, 5.0),
        ("P2", "2024-01-01 00:00:01", 40.0, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "pair string, ts_s string, base_price double, quote_price double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.parquet(src)

    schema = "pair string, base_price double, quote_price double, ts timestamp"

    def run(builder, sink_name):
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            builder(stream)
            .writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{sink_name}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            (r.pair, r.ts, r.base_price, r.quote_price, r.base_change, r.quote_change)
            for r in spark.sql(f"select * from {sink_name}").collect()
        )

    # TWS requires the RocksDB state store; scope the conf to this test.
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got_tws = run(price_change_events_tws, "tws_out")
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)
    got_apips = run(price_change_events, "apips_out")
    assert got_tws == got_apips
    assert {(p, b) for (p, _, b, *_rest) in got_tws} == {
        ("P1", 100.0), ("P1", 112.0), ("P2", 50.0), ("P2", 40.0)
    }


def test_tws_protobuf_shim_activates(spark):
    """Where the real protobuf package is missing, ensure_protobuf must
    activate the vendored miniproto runtime so the TWS state protocol has a
    wire codec everywhere it runs (driver sys.path, worker addPyFile zip,
    pre-init worker PYTHONPATH)."""
    from rugpull_data_pipeline_spark._vendor import ensure_protobuf

    kind = ensure_protobuf(spark)
    assert kind in ("real", "miniproto")
    import google.protobuf  # noqa: F401
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    # The generated module must be functional whichever runtime backs it.
    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.INITIALIZED)
        )
    )
    assert req.SerializeToString() == bytes.fromhex("12040a020802")
    if kind == "miniproto":
        env = spark.sparkContext.environment
        assert "miniproto" in env.get("PYTHONPATH", "")


def test_watermarked_dedup(spark, tmp_path):
    src = str(tmp_path / "ev")
    rows = [
        (1, "2024-01-01 00:00:00", "a"),
        (2, "2024-01-01 00:01:00", "a"),  # dup key
        (3, "2024-01-01 00:02:00", "b"),
    ]
    df = spark.createDataFrame(rows, "id long, ts_s string, addr string").withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    df.write.parquet(src)
    stream = spark.readStream.schema("id long, addr string, ts timestamp").parquet(src)
    q = (
        watermarked_dedup(stream, ["addr"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    addrs = [r.addr for r in spark.sql("select * from dedup_out").collect()]
    assert sorted(addrs) == ["a", "b"]


def test_watermarked_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark form: duplicates of a key arriving
    across micro-batches but within the watermark delay are dropped; the
    key's identity does not need to embed its timestamp (the reference's
    address semantics — SERVER/combined_subscriber.py:88-93)."""
    src = str(tmp_path / "ev_within")

    def write(rows):
        spark.createDataFrame(rows, "id long, ts_s string, addr string").withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(src)

    write([(1, "2024-01-01 00:00:00", "a"), (2, "2024-01-01 00:01:00", "b")])
    stream = (
        spark.readStream.schema("id long, addr string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        watermarked_dedup(stream, ["addr"], delay="1 hour", within_watermark=True)
        .writeStream.format("memory")
        .queryName("dedup_within_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # Second batch: a duplicate 10 min after first sighting (within the
    # 1 h delay → dropped) and a fresh key (→ emitted).
    write([(3, "2024-01-01 00:10:00", "a"), (4, "2024-01-01 00:11:00", "c")])
    q.processAllAvailable()
    q.stop()
    addrs = sorted(r.addr for r in spark.sql("select * from dedup_within_out").collect())
    assert addrs == ["a", "b", "c"]


def test_streaming_query_listener_metrics(spark, tmp_path):
    """A3 observability on streams: a StreamingQueryListener receives
    per-micro-batch progress (numInputRows) — the Spark-native form of the
    reference's per-block matched-tx counter prints
    (RECEIVER/parser_main.cpp:121,133-137)."""
    from pyspark.sql.streaming import StreamingQueryListener

    rows_seen = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rows_seen.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "ev_listener")
        spark.createDataFrame(
            [(i, f"u{i % 3}") for i in range(30)], "id long, user string"
        ).coalesce(2).write.parquet(src)
        stream = spark.readStream.schema("id long, user string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = (
            stream.groupBy("user").count()
            .writeStream.format("memory")
            .queryName("listener_out")
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # Listener events are delivered asynchronously.
        for _ in range(40):
            if sum(rows_seen) >= 30:
                break
            time.sleep(0.25)
        assert sum(rows_seen) >= 30, rows_seen
    finally:
        spark.streams.removeListener(listener)


def test_st7_fanout_two_queries(spark, tmp_path):
    """Same source feeds two independent streaming queries (balance extraction
    + instruction-log pool detector), like combined_subscriber's queue+SHM
    fan-out (SERVER/combined_subscriber.py:200-227)."""
    blocks_dir = str(tmp_path / "blocks")
    write_blocks_json(blocks_dir, n_blocks=8, seed=7, files=2)

    raw = spark.readStream.format("text").load(f"{blocks_dir}/blocks_*.json")

    # query 1: count transactions (A3 global count)
    q1 = (
        parse_blocks(raw)
        .select(F.explode("transactions").alias("tx"))
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("fan_count")
        .outputMode("complete")
        .option("checkpointLocation", f"{blocks_dir}/_cp1")
        .start()
    )
    # query 2: pool-detector prefilter (P8 instruction regex on logs)
    q2 = (
        parse_blocks(raw)
        .select(F.explode("transactions").alias("tx"))
        .select(F.array_join("tx.meta.logMessages", " ").alias("logs"))
        .where(F.col("logs").rlike(r"Instruction: initialize2\b"))
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("fan_pools")
        .outputMode("complete")
        .option("checkpointLocation", f"{blocks_dir}/_cp2")
        .start()
    )
    q1.processAllAvailable()
    q2.processAllAvailable()
    q1.stop()
    q2.stop()
    n_all = spark.sql("select * from fan_count").collect()[0]["count"]
    n_pools = spark.sql("select * from fan_pools").collect()[0]["count"]
    assert n_all > 0 and 0 < n_pools < n_all


def test_stateful_price_change_ttl_eviction(spark, tmp_path):
    """ST4 bounded-state uplift: with a processing-time TTL, an idle pair's
    state is evicted, so a later sub-threshold price is treated as
    first-seen and emits — without TTL it would stay suppressed. (The
    reference's price map lives forever, SERVER/ingest_prices.py:8.)"""
    import time as _time

    src = str(tmp_path / "prices_ttl")
    batch1 = [("PX", "2024-01-01 00:00:00", 100.0, 10.0)]
    batch2 = [("PX", "2024-01-01 00:05:00", 104.0, 10.2)]  # <10% vs 100

    def write_batch(rows, name):
        df = spark.createDataFrame(
            rows, "pair string, ts_s string, base_price double, quote_price double"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        df.coalesce(1).write.mode("append").parquet(src)

    write_batch(batch1, "b1")
    schema = "pair string, base_price double, quote_price double, ts timestamp"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    out = price_change_events(stream, state_ttl_ms=500)
    q = (
        out.writeStream.format("memory")
        .queryName("price_ttl_out")
        .outputMode("append")
        .start()
    )

    # With a processing-time timeout armed, the query self-triggers empty
    # batches to fire evictions, so processAllAvailable() never settles —
    # poll the sink for the expected row count instead.
    def await_rows(n, deadline_s=60):
        for _ in range(deadline_s * 4):
            if spark.sql("select count(*) c from price_ttl_out").collect()[0].c >= n:
                return
            _time.sleep(0.25)
        raise AssertionError(
            f"sink never reached {n} rows: "
            + str(spark.sql("select * from price_ttl_out").collect())
        )

    await_rows(1)                    # batch 1: first-seen → emit, TTL armed
    _time.sleep(2.0)                 # let the 500 ms TTL expire (evicts PX)
    write_batch(batch2, "b2")
    await_rows(2)                    # post-eviction price is first-seen again
    q.stop()
    got = sorted(
        (r.pair, r.base_price)
        for r in spark.sql("select * from price_ttl_out").collect()
    )
    assert got == [("PX", 100.0), ("PX", 104.0)], got


def test_bollinger_state_survives_batch_boundary(spark, tmp_path):
    """The ring buffer must carry across micro-batches: a two-batch
    time-sliced replay (each batch arrives in event-time order, the
    production assumption shared with the price kernel) emits exactly the
    rows a single-batch replay does — including breakouts whose 8-row frame
    STRADDLES the batch boundary."""
    from rugpull_data_pipeline_spark.streaming.pipelines import bollinger_alerts

    # one key, 12 points: 11 quiet values then a spike; the spike's frame
    # spans rows 5..12, i.e. both batches (split at t=600).
    rows = [(i, 100 * i, "k", 1000 + (i % 3)) for i in range(1, 12)]
    rows.append((12, 1200, "k", 5000))
    df = spark.createDataFrame(
        rows, "event_id long, t long, event_type string, raw long"
    ).select(
        "event_type",
        F.col("t").cast("timestamp").alias("ts"),
        "event_id",
        F.col("raw").alias("v"),
    )
    stream = _two_batches(df, "event_id > 6", str(tmp_path / "src"))
    got = _to_memory(bollinger_alerts(stream), "append").orderBy("ts_epoch").toPandas()
    # exactly the spike emits (quiet jitter stays inside the envelope), and
    # it is only detectable because rows 5..11 were retained in state.
    assert list(got["v_micro"]) == [5000]
    assert list(got["ts_epoch"]) == [1200]


def test_attribution_state_survives_batch_boundary(spark, tmp_path):
    """The one-touch state must carry across micro-batches: a click in
    batch 1 credits a purchase that only arrives in batch 2, and a stale
    touch (older than the lookback) yields 'direct' even across batches."""
    from rugpull_data_pipeline_spark.streaming.pipelines import attribution_events

    rows = [
        # batch 1 (t <= 500): touches only
        (1, 100, 1, "click", None, 0),
        (2, 200, 2, "view", None, 0),
        # batch 2: purchases — user 1 within lookback, user 2's second
        # purchase beyond it
        (10, 700, 1, "purchase", 10.0, 1),
        (11, 5000, 2, "purchase", 20.0, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, t long, user_id long, event_type string, "
        "value double, kind int",
    ).select(
        "user_id",
        F.col("t").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
        "value",
        "kind",
    )
    stream = _two_batches(df, "t > 500", str(tmp_path / "src"))
    rows = _to_memory(attribution_events(stream), "append").collect()
    got = {r.event_id: r for r in rows}
    assert got[10].channel == "click" and got[10].purchase_value == 10.0
    assert got[11].channel == "direct"


def test_cusum_state_survives_batch_boundary(spark, tmp_path):
    """Warm-up accumulates in batch 1; the drift that trips the alert only
    arrives in batch 2 — the (s, n_warm, sum20) state must carry across the
    micro-batch boundary for the fold to stay exact."""
    from rugpull_data_pipeline_spark.streaming.pipelines import cusum_alerts

    # 20 warm-up samples of 1.0 (sum20 = 20e6), then sustained 3.0 samples:
    # each adds 20*3e6 - 20e6 = 40e6 to s; alert when s > 5*20e6 = 100e6,
    # i.e. on the 3rd drifted sample (s = 120e6).
    rows = [(i, 10 * i, "k", 1_000_000) for i in range(1, 21)]
    rows += [(20 + j, 200 + 10 * j, "k", 3_000_000) for j in range(1, 6)]
    df = spark.createDataFrame(
        rows, "event_id long, t long, event_type string, v long"
    ).select(
        "event_type", F.col("t").cast("timestamp").alias("ts"), "event_id", "v"
    )
    stream = _two_batches(df, "event_id > 20", str(tmp_path / "src"))
    got = _to_memory(cusum_alerts(stream), "append").orderBy("ts_epoch").collect()
    # exactly one alert, on the 3rd drifted sample (event 23, t=230)
    assert [(r.ts_epoch, r.v_micro) for r in got] == [(230, 3_000_000)]


def test_bollinger_drops_event_time_regression(spark, tmp_path):
    """Ordering-contract guard: a file that arrives AFTER the fold frontier
    has advanced but contains OLDER event times must be dropped, not folded —
    folding it would corrupt the ring buffer (and could emit a bogus alert)
    with no error. The guard keys on the last folded (ts, event_id) held in
    state."""
    from rugpull_data_pipeline_spark.streaming.pipelines import bollinger_alerts

    rows = [(i, 100 * i, "k", 1000 + (i % 3)) for i in range(1, 12)]
    rows.append((12, 1200, "k", 5000))  # genuine breakout in batch 1
    # Late batch: regressed timestamps carrying an extreme value that WOULD
    # trip the envelope if folded.
    late = [(13, 500, "k", 9000), (14, 550, "k", 9500)]
    df = spark.createDataFrame(
        rows + late, "event_id long, t long, event_type string, raw long"
    ).select(
        "event_type",
        F.col("t").cast("timestamp").alias("ts"),
        "event_id",
        F.col("raw").alias("v"),
    )
    stream = _two_batches(df, "event_id > 12", str(tmp_path / "src"))
    got = _to_memory(bollinger_alerts(stream), "append").orderBy("ts_epoch").toPandas()
    # only the in-order breakout; both regressed rows were dropped
    assert list(got["v_micro"]) == [5000]


def test_cusum_drops_event_time_regression(spark, tmp_path):
    """Same guard on the CUSUM fold: late regressed samples may not feed the
    recursion (they would inflate s without any error surfacing)."""
    from rugpull_data_pipeline_spark.streaming.pipelines import cusum_alerts

    rows = [(i, 10 * i, "k", 1_000_000) for i in range(1, 21)]
    rows += [(20 + j, 200 + 10 * j, "k", 3_000_000) for j in range(1, 3)]
    # after batch 1 the frontier is t=220; these regress and must be dropped
    late = [(30, 50, "k", 50_000_000), (31, 60, "k", 50_000_000)]
    df = spark.createDataFrame(
        rows + late, "event_id long, t long, event_type string, v long"
    ).select(
        "event_type", F.col("t").cast("timestamp").alias("ts"), "event_id", "v"
    )
    stream = _two_batches(df, "event_id > 22", str(tmp_path / "src"))
    got = _to_memory(cusum_alerts(stream), "append").collect()
    # two drifted samples reach s = 80e6 < 100e6 threshold → no alert; the
    # dropped 50e6 samples would have tripped it instantly if folded
    assert got == []


def test_stream_cms_est_is_upper_bound_of_true_counts(spark):
    """CMS estimates are one-sided: est >= true count for every emitted
    key, in every micro-batch prefix — and the final batch's top-1 must
    be the key with the globally highest estimate."""
    from rugpull_data_pipeline_spark.plans import registry

    df = registry.get("stream_cms_topk_replay").builder(
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert {r.batch_id for r in rows} == {0, 1, 2, 3}
    import duckdb

    con = duckdb.connect()
    true = dict(
        con.execute(
            "SELECT user_id, count(*) FROM "
            "read_parquet('/root/testdata/sf0.001/events.parquet') "
            "GROUP BY user_id"
        ).fetchall()
    )
    for r in rows:
        if r.batch_id == 3:  # full prefix: compare against exact counts
            assert r.est_count >= true[r.user_id]
        assert 1 <= r.rnk <= 10


def test_kalman_state_survives_batch_boundary(spark, tmp_path):
    """The (x, p) doubles must carry across the micro-batch boundary: the
    filtered level after 4 observations split 2+2 across two files must
    equal the single-pass Python fold over all 4."""
    from rugpull_data_pipeline_spark.streaming.pipelines import (
        _KALMAN_Q,
        _KALMAN_R,
        kalman_filtered,
    )

    vals = [1_000_000, 3_000_000, 2_000_000, 5_000_000]
    rows = [(i + 1, 10 * (i + 1), "k", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, t long, event_type string, v long"
    ).select(
        "event_type", F.col("t").cast("timestamp").alias("ts"), "event_id", "v"
    )
    stream = _two_batches(df, "event_id > 2", str(tmp_path / "src"))
    got = _to_memory(kalman_filtered(stream), "append").orderBy("ts_epoch").collect()
    assert len(got) == 4

    # single-pass replica of the fold (identical expression tree)
    x, p = None, None
    exp = []
    for z in (float(v) for v in vals):
        if x is None:
            x, p = z, _KALMAN_R
            innov = 0.0
        else:
            pn = p + _KALMAN_Q
            k = pn / (pn + _KALMAN_R)
            innov = z - x
            x = x + k * innov
            p = (1.0 - k) * pn
        exp.append((x / 1000000.0, innov / 1000000.0))
    for r, (ex, ei) in zip(got, exp):
        assert r.filtered == ex and r.innovation == ei
    # the filter smooths: filtered level lags the raw jump
    assert got[1].filtered < 3.0 and got[1].filtered > 1.0


def test_late_drop_counter_counts_frontier_drops(spark, tmp_path):
    """Observability for the fold-frontier guards: the drops the kernels
    apply silently must be countable — `late_drop_counter` rides the
    accumulator channel back from the executors, and the factory's input
    observe() metric (`bollinger_rows_in`) gives the rate denominator a
    monitor alerts on. Replays the bollinger regression fixture: 2 late
    rows in, counter must read exactly 2 and the output must be unchanged
    from the uncounted run."""
    from rugpull_data_pipeline_spark.streaming.pipelines import (
        bollinger_alerts,
        late_drop_counter,
    )

    rows = [(i, 100 * i, "k", 1000 + (i % 3)) for i in range(1, 12)]
    rows.append((12, 1200, "k", 5000))
    late = [(13, 500, "k", 9000), (14, 550, "k", 9500)]
    df = spark.createDataFrame(
        rows + late, "event_id long, t long, event_type string, raw long"
    ).select(
        "event_type",
        F.col("t").cast("timestamp").alias("ts"),
        "event_id",
        F.col("raw").alias("v"),
    )
    drops = late_drop_counter(spark)
    stream = _two_batches(df, "event_id > 12", str(tmp_path / "src"))
    q = _drain(
        bollinger_alerts(stream, late_drops=drops)
        .writeStream.format("memory")
        .queryName("boll_drop_count")
        .outputMode("append")
    )
    got = spark.table("boll_drop_count").toPandas()
    spark.catalog.dropTempView("boll_drop_count")
    assert list(got["v_micro"]) == [5000]
    assert drops.value == 2
    # the observe() metric surfaced per-batch rows_in in the progress log
    progresses = [p for p in q.recentProgress if p]
    rows_in = sum(
        p["observedMetrics"]["bollinger_guard"]["bollinger_rows_in"]
        for p in progresses
        if "bollinger_guard" in p.get("observedMetrics", {})
    )
    assert rows_in == 14


def test_flagship_e2e_batch_boundary_independence(spark, sf_dir):
    """The composed streaming flagship must converge to the BATCH
    flagship's answer for ANY landing-zone slicing — the update-mode
    aggregates are cumulative and the sink's last-writer-wins merge keys
    on the strictly increasing n_moves, so batch boundaries cannot leak
    into the result. 2 and 7 slices (coprime with the registered 4) both
    checked against the batch plan's rows."""
    from rugpull_data_pipeline_spark.plans.registry import bind_views, get
    from rugpull_data_pipeline_spark.plans.stream_infra import _flagship_e2e

    spark = bind_views(spark, sf_dir)
    batch_rows = sorted(
        tuple(r) for r in get("flagship_balance_report").builder(spark, sf_dir).collect()
    )
    assert batch_rows, "batch flagship returned no rows"
    for n_slices in (2, 7):
        got = sorted(
            tuple(r) for r in _flagship_e2e(spark, sf_dir, n_slices).collect()
        )
        assert got == batch_rows, f"n_slices={n_slices} diverged from batch"


def test_flagship_e2e_checkpoint_recovery(spark, sf_dir):
    """ST6 composed INTO the flagship stream: only 2 of 4 slices land, the
    job runs to completion and stops; the other 2 slices land while it is
    down; a fresh query restarts from the SAME checkpoint. It must restore
    the keyed update-mode aggregation state and process ONLY the new files
    — a replay would double-count n_moves/quantities, a loss would drop
    them — and the final sink must equal the uninterrupted batch answer."""
    from rugpull_data_pipeline_spark.plans.registry import bind_views, get
    from rugpull_data_pipeline_spark.plans.stream_infra import _flagship_e2e

    spark = bind_views(spark, sf_dir)
    batch_rows = sorted(
        tuple(r) for r in get("flagship_balance_report").builder(spark, sf_dir).collect()
    )
    got = sorted(
        tuple(r)
        for r in _flagship_e2e(spark, sf_dir, n_slices=4, restart_after=2).collect()
    )
    assert got == batch_rows


def test_price_change_fold_deterministic_under_tied_timestamps(spark, tmp_path):
    """Duplicate event times are guaranteed in a large corpus (and in any
    backfill stamped with one ingest time). The fold must tiebreak on
    event_id, not arrival order: four same-ts prices whose emission chain
    DIFFERS depending on visit order must produce the event_id-ordered
    chain on every run. event_id order: 100 -> emit; 89 (-11%) -> emit;
    101 (+13.5%) -> emit; 100 (-1%) -> suppressed. Any other visit order
    yields a different emitted set (e.g. 100,101,89,100 emits 89 twice)."""
    import pyspark.sql.functions as F

    from rugpull_data_pipeline_spark.streaming.pipelines import price_change_events

    src = str(tmp_path / "prices_tied")
    rows = [
        ("P1", 1, 100.0), ("P1", 2, 89.0), ("P1", 3, 101.0), ("P1", 4, 100.0),
    ]
    df = (
        spark.createDataFrame(rows, "pair string, event_id long, base_price double")
        .withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("quote_price", F.lit(1.0))
        .select("pair", "ts", "event_id", "base_price", "quote_price")
    )
    df.coalesce(1).write.parquet(src)

    for attempt in range(2):  # twice: same answer run-to-run, not just once
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = price_change_events(stream)
        name = f"tied_out_{attempt}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").start()
        )
        q.processAllAvailable()
        q.stop()
        emitted = [
            r.base_price
            for r in spark.sql(
                f"select * from {name} order by base_price"
            ).collect()
        ]
        assert emitted == [89.0, 100.0, 101.0], emitted


def test_watchlist_feedback_batch_n_plus_1_visibility(spark, sf_dir):
    """The §3.2→§3.1 feedback composition must honor the ST5 update-
    visibility contract END TO END: a pool key discovered in micro-batch N
    tags transactions from micro-batch N+1 on — never its own batch. The
    pin compares the streamed result against BOTH event-time rules
    (strictly-earlier slice vs same-or-earlier slice) recomputed
    independently in DuckDB: it must equal the strict rule and differ from
    the inclusive one, proving same-batch pools really were invisible (the
    contract bites on this corpus, the check is not vacuous)."""
    import duckdb

    from rugpull_data_pipeline_spark.plans.domain import (
        _N_BLOCKS,
        _duck_tx_cte,
        _ensure_blocks,
    )
    from rugpull_data_pipeline_spark.plans.registry import get
    from rugpull_data_pipeline_spark.plans.stream_infra import _FEEDBACK_SLICES

    _ensure_blocks()
    got = sorted(
        tuple(r)
        for r in get("stream_watchlist_feedback").builder(spark, sf_dir).collect()
    )
    assert any(r[3] == 1 for r in got), "no transaction was ever tagged"
    assert any(r[3] == 0 for r in got), "every transaction tagged (vacuous)"

    per_slice = _N_BLOCKS // _FEEDBACK_SLICES

    def rule(op: str) -> list[tuple]:
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"""
                WITH {_duck_tx_cte()},
                sl AS (
                    SELECT signature, cast(block_time as bigint) AS ts_epoch,
                        all_keys, logs,
                        (cast(block_time as bigint) - 1700000000) // 400
                            // {per_slice} AS slice
                    FROM keyed
                ),
                pool_keys AS (
                    SELECT k, min(slice) AS first_slice
                    FROM (SELECT slice, unnest(all_keys) AS k FROM sl
                          WHERE regexp_matches(logs,
                              'Instruction: initialize2\\b')) t
                    GROUP BY k
                ),
                tx_keys AS (
                    SELECT signature, slice, unnest(all_keys) AS k FROM sl
                ),
                hits AS (
                    SELECT DISTINCT t.signature
                    FROM tx_keys t JOIN pool_keys p
                        ON p.k = t.k AND p.first_slice {op} t.slice
                )
                SELECT s.signature, s.ts_epoch, cast(s.slice as bigint),
                    CASE WHEN h.signature IS NOT NULL THEN 1 ELSE 0 END
                FROM sl s LEFT JOIN hits h ON h.signature = s.signature
                ORDER BY s.signature
                """
            ).fetchall()
        finally:
            con.close()
        return sorted(tuple(r) for r in rows)

    assert got == rule("<"), "stream diverged from the strictly-earlier rule"
    assert got != rule("<="), (
        "strict and inclusive rules agree on this corpus — the visibility "
        "assertion is vacuous; regenerate the fixture"
    )


def test_price_maint_e2e_checkpoint_recovery(spark, sf_dir):
    """ST6 composed INTO the §3.3 price-maintenance stream: only 2 of 4
    time slices land, the job runs to completion and stops; the rest of
    the price history lands while it is down; a fresh query restarts from
    the SAME checkpoint. It must restore every pair's last-EMITTED
    (base, quote) custom keyed state — a lost state re-anchors the 10%
    threshold chain and emits a different event set, a replayed slice
    emits duplicates — and the final price dimension must equal the
    uninterrupted run's."""
    from rugpull_data_pipeline_spark.plans.registry import bind_views
    from rugpull_data_pipeline_spark.plans.stream_infra import _price_maint_e2e

    spark = bind_views(spark, sf_dir)
    uninterrupted = sorted(
        tuple(r) for r in _price_maint_e2e(spark, sf_dir).collect()
    )
    assert uninterrupted, "price-maintenance sink is empty"
    recovered = sorted(
        tuple(r)
        for r in _price_maint_e2e(spark, sf_dir, restart_after=2).collect()
    )
    assert recovered == uninterrupted


def test_price_maint_tws_checkpoint_recovery(spark, sf_dir):
    """The SAME composed ST6 recovery contract on the transformWithState
    kernel: restarting mid-corpus from the checkpoint must restore the
    typed ValueState (last-EMITTED base/quote per pair) held in the
    RocksDB state store and converge to the uninterrupted run's dimension.
    Runs through the vendored miniproto protobuf runtime end-to-end."""
    from rugpull_data_pipeline_spark.plans.registry import bind_views
    from rugpull_data_pipeline_spark.plans.stream_infra import _price_maint_e2e

    spark = bind_views(spark, sf_dir)
    uninterrupted = sorted(
        tuple(r) for r in _price_maint_e2e(spark, sf_dir, kernel="tws").collect()
    )
    assert uninterrupted, "price-maintenance sink is empty"
    recovered = sorted(
        tuple(r)
        for r in _price_maint_e2e(
            spark, sf_dir, restart_after=2, kernel="tws"
        ).collect()
    )
    assert recovered == uninterrupted
