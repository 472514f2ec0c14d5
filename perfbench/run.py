#!/usr/bin/env python3
"""Benchmark entry point.

Run from the repository root::

    python3 perfbench/run.py --workload blocks_stream --seed 1 --seconds 15 --trace 0

One process, one workload, one Spark session on ``local[2]``. The run
sets up (session start, input generation from the seed, warm-up), measures
for ``--seconds``, checks every output without timing it, and prints as its
last stdout line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A full record (host facts, seed, rationale,
both metric sets, per-run detail) goes to ``.perfbench_results/``.
Everything the run writes stays under the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("blocks_stream", "headline_queries")
# Spark task threads: two leave the host's other cores to the JVM's own
# threads, Python workers and this harness.
CPUS = min(2, len(os.sched_getaffinity(0)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    return p.parse_args(argv)


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def _wait_children(timeout_s: float = 30.0) -> None:
    from common import _children

    deadline = time.monotonic() + timeout_s
    while _children().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python temp files, Spark workers and the package's scratch dirs all
    # follow TMPDIR; the JVM gets the same directory below.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path[:0] = [root, HERE]
    try:
        from rugpull_data_pipeline_spark.session import get_spark

        from blocks import BlocksStream
        from headline import HeadlineQueries
    except ImportError as exc:
        print(f"perfbench: cannot import the package under {root}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    from common import HostProbe, RssSampler, Run, StealMeter, host_facts, timed

    workload = {
        "blocks_stream": BlocksStream,
        "headline_queries": HeadlineQueries,
    }[args.workload](args.smoke)
    # The timed run compiles with C1 only: with C2 the JVM keeps speeding the
    # same work up by a third for longer than a run can warm up, so medians
    # would follow how far a run got. The traced run keeps the default JIT,
    # under which all 41 headline queries fit the run time limit.
    jit = "" if args.trace else "-XX:TieredStopAtLevel=1"
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp {jit}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        import tracing

        conf.update(tracing.session_conf(os.path.join(work, "eventlog")))

    steal = StealMeter()
    probe = HostProbe()
    for _ in range(5):
        probe()
    spark = None
    try:
        with RssSampler() as rss:
            session_s, spark = timed(lambda: get_spark(
                app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf
            ))
            tracer = tracing.Tracer(spark, os.path.join(work, "eventlog")) if args.trace else None
            run = Run(spark, work, args.seed, args.seconds, args.smoke, tracer, probe)
            gen_s, corpus_mb = timed(lambda: workload.generate(run))
            warm_s, _ = timed(lambda: workload.warm(run))
            if tracer:
                tracer.window_start()
            workload.measure(run)
            verify_s, _ = timed(lambda: workload.verify(run))
            versions = host_facts(spark.version)
            stop_s, _ = timed(lambda: _stop_session(spark))
            spark = None
        _wait_children()
        # End-to-end times are scaled to the reference host (see HostProbe);
        # the raw times stay in the per-layer set.
        scale = probe.scale()
        setup_s = session_s + gen_s + warm_s
        run.layers.update({
            "harness.setup_raw_s": setup_s,
            "harness.wall_p50_raw_s": run.e2e.get("wall_p50_s", 0.0),
            "harness.probe_ms": 1000 * probe.REFERENCE_S / scale,
        })
        run.e2e["setup_s"] = setup_s
        run.e2e = {k: v * scale for k, v in run.e2e.items()}
        run.layers["process.peak_rss_mb"] = rss.peak_mb
        steal_pct = steal.pct()
        if tracer:
            run.layers.update(tracer.job_stats(CPUS))
            if args.workload == "blocks_stream":
                run.layers["operators.balance.busy_frac"] = tracer.job_stats(
                    CPUS, "batch"
                )["plans.busy_frac"]
            run.layers.update({
                "session.start_s": session_s,
                "sources.gen_s": gen_s,
                "sources.corpus_mb": corpus_mb,
                "harness.steal_pct": steal_pct,
                "harness.traced_wall_p50_s": run.e2e.get("wall_p50_s", 0.0),
            })
    finally:
        if spark is not None:  # a failed run still stops its JVM
            _stop_session(spark)
            _wait_children()
        shutil.rmtree(work, ignore_errors=True)

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = run.layers if args.trace else run.e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in chosen
    }
    record = {
        "workload": args.workload,
        "why": workload.why,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "time": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
        "host": dict(versions, cpus_used=CPUS, steal_pct=steal_pct),
        "setup": {"session_s": session_s, "gen_s": gen_s, "warm_s": warm_s},
        "host_scale": scale,
        "probe_s": probe.samples,
        "teardown": {"verify_s": verify_s, "stop_s": stop_s},
        "end_to_end": run.e2e,
        "per_layer": run.layers,
        "info": run.info,
        "attempted": run.attempted,
        "failed": run.failed,
        "error_rate": run.failed / max(1, run.attempted),
        "problems": run.problems,
    }
    out_dir = os.path.join(root, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    for p in run.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(f"perfbench: record {path}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
