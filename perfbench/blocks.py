"""The ``blocks_stream`` workload: a closed loop landing one block file at a
time into the streaming pipeline. Its traced run also times the batch
path (``read_blocks`` → ``extract_balance_changes``) over the blocks the
stream consumed, for the operator layer."""

from __future__ import annotations

import glob
import json
import math
import os
import time

from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.operators.balance import (
    extract_balance_changes,
    read_blocks,
)
from rugpull_data_pipeline_spark.sources.solana import hot_addresses, write_blocks_json
from rugpull_data_pipeline_spark.streaming.pipelines import stream_balance_pipeline

from common import Run, failure, median, tail, tree_cpu_s


def _watchlist(spark):
    return spark.createDataFrame([(a,) for a in hot_addresses()], "address string")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(pattern: str) -> float:
    return sum(os.path.getsize(p) for p in glob.glob(pattern)) / 1e6


class BlocksStream:
    """A closed loop with one caller: land one block file into
    ``stream_balance_pipeline``, whose sink appends to parquet, wait for
    the commit of the micro-batch that consumes it, then land the next.
    One operation is one block; its latency runs from its landing to that
    commit, so it holds the file discovery, the offset log, planning,
    ``foreachBatch`` and the sink write of a one-block micro-batch, and no
    queueing behind earlier blocks. The first blocks, which pay the JVM's
    warm-up, run before timing starts."""

    name = "blocks_stream"
    why = (
        "same operators on the from_json path over text micro-batches, plus "
        "per-batch offset log, planning and foreachBatch cost and sink writes"
    )
    warm_blocks = 4
    # Blocks generated per measured second: more than the fastest cycle
    # seen (about 0.7 s a block on two task threads) can consume.
    blocks_per_s = 1.4

    def __init__(self, smoke: bool):
        self.tx_scale = 4 if smoke else 140
        if smoke:
            self.warm_blocks = 2

    def generate(self, run: Run) -> float:
        """Write every block the run may land, one per file, to a staging
        directory; the loop later moves them into the watched one."""
        self.n_total = self.warm_blocks + math.ceil(run.seconds * self.blocks_per_s)
        self.stage = write_blocks_json(
            os.path.join(run.work, "stage"), self.n_total, run.seed, self.n_total,
            tx_scale=self.tx_scale,
        )
        return _dir_mb(f"{self.stage}/blocks_*.json")

    def _name(self, i: int) -> str:
        return f"blocks_{i:02d}.json"

    def _sink(self, run: Run):
        out = self.out

        def sink(df, epoch_id: int) -> None:
            df.write.mode("append").parquet(out)

        if not run.tracer:
            return sink
        sink_ms = self.sink_ms = {}

        def timed_sink(df, epoch_id: int) -> None:
            t0 = time.perf_counter()
            sink(df, epoch_id)
            sink_ms[epoch_id] = 1000 * (time.perf_counter() - t0)

        return timed_sink

    def _batches(self) -> dict[int, int]:
        """Block index → micro-batch id, from the file source's metadata log."""
        found: dict[int, int] = {}
        for path in glob.glob(f"{self.ckpt}/sources/0/*"):
            with open(path) as fh:
                for line in fh:
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    name = os.path.basename(entry["path"])
                    if name.startswith("blocks_"):
                        found[int(name[7:-5])] = int(entry["batchId"])
        return found

    def _log_time(self, log: str, batch_id: int) -> float | None:
        """When the checkpoint wrote ``log``/``batch_id``: ``offsets`` at the
        start of a micro-batch, ``commits`` at its end."""
        try:
            return os.stat(f"{self.ckpt}/{log}/{batch_id}").st_mtime
        except OSError:
            return None

    def _cycle(self, timeout_s: float) -> tuple[int, float, float] | None:
        """Land the next block with one rename, so the file source never
        sees a partly written file, and wait for the commit of the
        micro-batch it starts. Returns ``(block, landed, committed)``, or
        None when no commit came in time."""
        i, batch = len(self.landed), self.next_batch
        src = os.path.join(self.stage, self._name(i))
        dst = os.path.join(self.src, self._name(i))
        self.size[i] = os.path.getsize(src)
        landed = time.time()
        os.rename(src, dst)
        self.landed[i] = landed
        commit = f"{self.ckpt}/commits/{batch}"
        deadline = time.monotonic() + timeout_s
        # The latency is read from the commit file's time, so polling finer
        # would only wake this process more often beside the JVM.
        while not os.path.exists(commit):
            if time.monotonic() > deadline:
                return None
            time.sleep(0.02)
        self.next_batch += 1
        self.seen[i] = time.time()
        return i, landed, os.stat(commit).st_mtime

    def warm(self, run: Run) -> None:
        """Start the query and run the warm-up blocks through it."""
        self.src = os.path.join(run.work, "landing")
        self.out = os.path.join(run.work, "sink")
        self.ckpt = os.path.join(run.work, "checkpoint")
        watch_dir = os.path.join(run.work, "watchlist")
        os.makedirs(self.src)
        _watchlist(run.spark).write.mode("overwrite").parquet(watch_dir)
        if run.tracer:
            run.tracer.listen(run.spark)
        self.query = stream_balance_pipeline(
            run.spark, self.src, watch_dir, self._sink(run), checkpoint_dir=self.ckpt
        )
        self.size: dict[int, int] = {}
        self.landed: dict[int, float] = {}
        self.seen: dict[int, float] = {}
        self.next_batch = 0
        warm_lat = []
        for _ in range(self.warm_blocks):
            row = self._cycle(120)
            if row is None:
                raise RuntimeError("a warm-up block was not committed")
            warm_lat.append(row[2] - row[1])
        run.info["warm_latency_s"] = warm_lat

    def measure(self, run: Run) -> None:
        rows = []  # (block, landed, committed) of every measured block
        cpu0 = tree_cpu_s()
        end = time.monotonic() + run.seconds
        while time.monotonic() < end and len(self.landed) < self.n_total:
            row = self._cycle(60)
            if row is None:
                break  # verify counts the block as missing
            rows.append(row)
            run.probe()
        cpu_s = tree_cpu_s() - cpu0
        self.query.stop()
        self.query.awaitTermination(60)
        run.window(cpu_s, len(rows))
        if not rows:
            return
        lat = [c - t for _, t, c in rows]
        tail_s, tail_pct, n_lat = tail(lat)
        run.e2e["wall_p50_s"] = median(lat)
        batch_of = self._batches()
        batches = [batch_of[i] for i, _, _ in rows if i in batch_of]
        busy = [self._log_time("commits", b) - self._log_time("offsets", b) for b in batches]
        mb = [self.size[i] / 1e6 for i, _, _ in rows if i in batch_of]
        run.info.update({
            "tail_percentile": tail_pct,
            "latency_samples": n_lat,
            "latency_tail_s": tail_s,
            "blocks_per_s": len(rows) / (rows[-1][2] - rows[0][1]),
            "latency_s": lat,
        })
        run.layers.update({
            "streaming.batches": len(batches),
            "streaming.latency_tail_s": tail_s,
            "streaming.busy_mb_per_s": sum(mb) / sum(busy),
            "harness.poll_lag_max_s": max(self.seen[i] - c for i, _, c in rows),
        })
        if run.tracer:
            prog = {p["batchId"]: p["durationMs"] for p in run.tracer.progress}
            for key, name in (
                ("triggerExecution", "trigger_ms"),
                ("getBatch", "get_batch_ms"),
                ("queryPlanning", "query_planning_ms"),
                ("addBatch", "add_batch_ms"),
                ("walCommit", "wal_commit_ms"),
            ):
                run.layers[f"streaming.{name}"] = median(
                    prog[b].get(key, 0) for b in batches if b in prog
                )
            run.layers["streaming.sink_write_ms"] = median(
                self.sink_ms[b] for b in batches if b in self.sink_ms
            )
            run.layers["streaming.wait_s"] = median(
                c - t - prog.get(batch_of.get(i), {}).get("triggerExecution", 0) / 1000
                for i, t, c in rows
            )
            self._batch_layer(run)

    def _batch_layer(self, run: Run) -> None:
        """The batch path over the landed blocks: scan alone, the whole
        chain, and the transaction counts behind the J1 hot ratio."""
        spark, paths = run.spark, f"{self.src}/blocks_*.json"
        watch = _watchlist(spark)
        scans, chains = [], []
        run.tracer.window_start("batch")
        for _ in range(3):
            t0 = time.perf_counter()
            _noop(read_blocks(spark, paths))
            t1 = time.perf_counter()
            _noop(extract_balance_changes(read_blocks(spark, paths), watch))
            scans.append(t1 - t0)
            chains.append(time.perf_counter() - t1)
        run.tracer.window_end("batch")
        keys = F.concat(
            F.coalesce(F.col("tx.transaction.message.accountKeys"), F.array()),
            F.coalesce(F.col("tx.meta.loadedAddresses.readonly"), F.array()),
            F.coalesce(F.col("tx.meta.loadedAddresses.writable"), F.array()),
        )
        hot = F.array(*[F.lit(a) for a in hot_addresses()])
        row = (
            read_blocks(spark, paths)
            .select(F.explode("transactions").alias("tx"))
            .agg(
                F.count(F.lit(1)).alias("tx_in"),
                F.sum(F.arrays_overlap(keys, hot).cast("long")).alias("tx_hot"),
            )
            .first()
        )
        run.layers.update({
            "operators.balance.scan_s": median(scans),
            "operators.balance.chain_s": median(chains),
            "operators.balance.mb_per_s": _dir_mb(paths) / median(chains),
            "operators.balance.tx_in": row.tx_in,
            "operators.balance.tx_hot": row.tx_hot,
            "operators.balance.hot_ratio": row.tx_hot / max(1, row.tx_in),
        })

    def verify(self, run: Run) -> None:
        """Every landed block is committed, and the sink holds exactly the
        rows the batch path extracts from the landed blocks."""
        batch_of = self._batches()
        for i in self.landed:
            run.check(
                i in batch_of and self._log_time("commits", batch_of[i]) is not None,
                f"block {i} missing from the sink",
            )
        try:
            spark = run.spark
            got = spark.read.parquet(self.out)
            want = extract_balance_changes(
                read_blocks(spark, f"{self.src}/blocks_*.json"), _watchlist(spark)
            ).select(*got.columns)
            # One job: rows whose count differs between the two sides.
            diff = (
                got.withColumn("_n", F.lit(1))
                .unionByName(want.withColumn("_n", F.lit(-1)))
                .groupBy(*got.columns)
                .agg(F.sum("_n").alias("_n"))
                .where("_n != 0")
            )
            rows, bad = got.count(), diff.count()
        except Exception as exc:  # noqa: BLE001 - counted, never fatal
            run.check(False, failure("verify", exc))
            return
        run.check(
            rows > 0 and bad == 0,
            f"stream sink vs batch extraction: {rows} rows, {bad} differ in count",
        )
        run.layers["operators.balance.rows_out"] = rows
