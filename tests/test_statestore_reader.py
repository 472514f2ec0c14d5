"""Spark 4 state-store data source: streaming state in a checkpoint is
directly queryable as a DataFrame — the ops capability that turns "what is
my stateful query holding?" from log archaeology into a SQL query. The
test runs a keyed streaming aggregation, then reads its state store back
and requires the held counts to equal the batch ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.plans.stream_infra import _drain
from rugpull_data_pipeline_spark.tmpdirs import scratch_dir


def test_statestore_holds_batch_truth(spark):
    src_dir = scratch_dir(prefix="rugpull_ss_src_")
    ckpt = scratch_dir(prefix="rugpull_ss_ckpt_")
    data = spark.range(200).select(
        (F.col("id") % 7).alias("k"),
        F.timestamp_seconds(F.col("id") + 1700000000).alias("ts"),
    )
    data.write.parquet(src_dir, mode="overwrite")

    stream = spark.readStream.schema("k long, ts timestamp").parquet(src_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # The state store is the result under test; the sink only drives it.
    _drain(agg.writeStream.format("noop").outputMode("complete"), checkpoint=ckpt)

    state = spark.read.format("statestore").load(ckpt)
    # schema: key struct, value struct, partition_id
    held = {
        r["key"][0]: r["value"][0] for r in state.collect()
    }
    truth = {r["k"]: r["n"] for r in data.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert held == truth
