#!/usr/bin/env python3
"""Smoke test of the benchmark, run from the repository root::

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json in ``--smoke`` mode (a handful of
small blocks, the sf0.001 fixture, a two-second stream) with tracing on,
and checks that the run succeeds, that no operation failed, and that the
result line and the run record carry every per-layer and end-to-end metric
with its unit. Also checks that the benchmark refuses to run, without
printing a result, where the package is missing."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _bench(cwd: str, workload: str):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", "1", "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=170,
    )


class Smoke(unittest.TestCase):
    def check_workload(self, workload: str) -> None:
        out = _bench(ROOT, workload)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], out.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        record = out.stderr.rsplit("perfbench: record ", 1)[1].split()[0]
        with open(record) as fh:
            rec = json.load(fh)
        self.assertEqual(rec["error_rate"], 0.0)
        for m in SPEC["end_to_end"]:
            self.assertGreater(rec["end_to_end"].get(m["name"], 0.0), 0.0, m["name"])

    def test_refuses_without_package(self) -> None:
        bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
        try:
            os.makedirs(bare)
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for path in SPEC["paths"]:
                shutil.copytree(
                    os.path.join(ROOT, path), os.path.join(bare, path),
                    ignore=shutil.ignore_patterns("__pycache__"),
                )
            out = _bench(bare, SPEC["workloads"][0]["name"])
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(out.returncode, 0)
        self.assertEqual(out.stdout.strip(), "")


for _w in SPEC["workloads"]:
    setattr(
        Smoke, f"test_{_w['name']}",
        lambda self, w=_w["name"]: self.check_workload(w),
    )


if __name__ == "__main__":
    unittest.main()
