"""SparkSession factory.

Local testing runs one JVM with N threads (``local[N]``); the configs below are
chosen so the same logical plans scale to a multi-executor cluster: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for the
Python boundary, and explicit shuffle-partition sizing instead of the
200-partition default.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

from .tmpdirs import scratch_zip


def get_spark(
    app_name: str = "rugpull_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism; on a real
    cluster the master URL comes from spark-submit and these local settings
    are inert.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # local[N] runs every task inside the driver JVM; the 1g default heap
    # that is fine for a cluster driver starves N concurrent task threads
    # (shuffle + aggregation buffers scale with parallelism). Size it to the
    # thread count, bounded so small CI boxes still start. Only effective
    # when this process launches the JVM — an externally created session
    # keeps its own sizing (tune_session never touches static conf).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(max(cpus // 2, 4), 16)}g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its true default deliberately: measured
        # here, size-first coalescing (false) serialized the CPU-dense
        # small-bytes stages (shingle joins: 2.2 s -> 4.1 s) — fixture-scale
        # shuffles are tiny in bytes but heavy per row, exactly the case the
        # parallelism floor exists for.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # One pass of the 41 headline queries generates more classes than
        # the default cache of 100 holds, so every warm pass recompiled
        # ≈905 of them (sf0.01); 1000 keeps a pass's classes cached.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Streaming checkpoint logs (offsets, commits, sources, state) go
        # through FileSystem, not FileContext: FileContext's rename resolves
        # links with FileUtil.readLink, which on a local file system without
        # libhadoop starts a `readlink` process per call (≈24 per one-block
        # micro-batch). On the local file system both managers do
        # exists-then-rename, so an existing log file still fails the write.
        # A session built elsewhere keeps Spark's default: as correct, slower.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_noisy_loggers(spark)
    return spark


def _quiet_noisy_loggers(spark: SparkSession) -> None:
    """Silence the benign FileStreamSink 'Assume no metadata directory' WARN
    (+ full stack trace) that glob-path batch reads trigger while probing
    for streaming-sink metadata — pure noise in bench/test output."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - Connect or alt logging backend
        pass


# Keyed by applicationId, not id(spark): CPython recycles object ids, so
# a collected session's id could alias a new one and silently skip the
# ship (round-9 ADVICE class, fixed here and in _vendor.ensure_protobuf).
_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    Closures passed to ``mapInPandas``/``pandas_udf`` reference this module
    by name; if the driving process wasn't launched from the repo root the
    workers cannot import it. Shipping a zip via ``addPyFile`` works in any
    deploy mode (local threads, standalone, YARN/K8s executors).
    """
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    spark.sparkContext.addPyFile(
        scratch_zip(pkg_dir, "rugpull_pipeline_pkg_", arc_root=pkg_dir.name)
    )
    # addPyFile covers TASK workers (python includes land on their sys.path)
    # but NOT StreamingPythonRunner workers — the transformWithState
    # PRE-INIT driver worker unpickles the StatefulProcessor closure in a
    # separate process whose sys.path comes only from the merged PYTHONPATH
    # env. Inject the repo root there too (driver-host-local path: the
    # pre-init worker always runs on the driver host, executors keep using
    # the shipped zip). Found by a fresh-process driver simulation run from
    # outside the repo root, where the JVM's cwd no longer masked it.
    env = spark.sparkContext.environment
    repo_root = str(pkg_dir.parent)
    prev = env.get("PYTHONPATH", "")
    if repo_root not in prev.split(os.pathsep):
        env["PYTHONPATH"] = repo_root if not prev else (
            repo_root + os.pathsep + prev
        )
    _SHIPPED.add(key)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally created session.

    The verification driver owns its own SparkSession; pin the conf our
    queries depend on for oracle comparison (UTC timestamps, Arrow transfer).
    Only runtime-mutable keys are touched.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # testdata events.ts is parquet TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert (sources/tables.py).
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    try:
        ship_package(spark)
    except Exception:  # pragma: no cover - e.g. Spark Connect without SC
        pass
    _quiet_noisy_loggers(spark)
    return spark
