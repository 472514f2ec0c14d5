"""Tracing for the per-layer run, through Spark's public hooks only: job
groups read back through ``statusTracker``, a ``StreamingQueryListener``
for micro-batch progress, and the event log for task metrics. Imported only
when the benchmark runs with ``--trace 1``."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from pyspark.sql.streaming import StreamingQueryListener


def session_conf(eventlog_dir: str) -> dict[str, str]:
    os.makedirs(eventlog_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{eventlog_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._sink.append({
            "batchId": p.batchId,
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark, eventlog_dir: str) -> None:
        self._sc = spark.sparkContext
        self._eventlog_dir = eventlog_dir
        self.progress: list[dict] = []
        self._windows: dict[str, list] = {}

    @contextlib.contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def jobs_in_groups(self, names) -> int:
        tracker = self._sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(n)) for n in names)

    def listen(self, spark) -> None:
        spark.streams.addListener(_Progress(self.progress))

    def window_start(self, name: str = "measure") -> None:
        self._windows[name] = [time.time() * 1000, None]

    def window_end(self, name: str = "measure") -> None:
        if self._windows[name][1] is None:
            self._windows[name][1] = time.time() * 1000

    def job_stats(self, cores: int, name: str = "measure") -> dict[str, float]:
        """Task metrics of the jobs submitted inside window ``name``, from
        the event log (read after the session stopped)."""
        lo, hi = self._windows[name]
        stage_job: dict[int, int] = {}
        jobs: set[int] = set()
        acc = dict(tasks=0, run_ms=0, gc_ms=0, sr=0, sw=0, spill=0)
        stages: set[int] = set()
        for path in glob.glob(f"{self._eventlog_dir}/*"):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        if lo <= ev.get("Submission Time", 0) <= hi:
                            jobs.add(ev["Job ID"])
                            for s in ev.get("Stage IDs", ()):
                                stage_job.setdefault(s, ev["Job ID"])
                    elif kind == "SparkListenerTaskEnd":
                        sid = ev.get("Stage ID")
                        if stage_job.get(sid) not in jobs:
                            continue
                        m = ev.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        stages.add(sid)
                        acc["tasks"] += 1
                        acc["run_ms"] += m.get("Executor Run Time", 0)
                        acc["gc_ms"] += m.get("JVM GC Time", 0)
                        acc["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        acc["sw"] += sw.get("Shuffle Bytes Written", 0)
                        acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        wall_s = max(1e-9, (hi - lo) / 1000)
        return {
            "plans.jobs": len(jobs),
            "plans.stages": len(stages),
            "plans.tasks": acc["tasks"],
            "plans.task_run_s": acc["run_ms"] / 1000,
            "plans.busy_frac": acc["run_ms"] / 1000 / (wall_s * cores),
            "plans.shuffle_read_mb": acc["sr"] / 1e6,
            "plans.shuffle_write_mb": acc["sw"] / 1e6,
            "plans.spill_mb": acc["spill"] / 1e6,
            "plans.gc_s": acc["gc_ms"] / 1000,
        }
