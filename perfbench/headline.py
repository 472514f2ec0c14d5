"""The ``headline_queries`` workload: the headline query set of
``bench.HEADLINE`` over the repository's sf0.01 fixture tables, each query
built and executed to the noop sink in a seed-shuffled order.

The timed run measures ``E2E_QUERIES``, a frozen slice of the headline set
that fits the run budget; the traced run measures all of ``bench.HEADLINE``
so that every builder has its own build/exec pair. One operation is one
query execution."""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import bench
from tests.oracle_harness import compare, run_oracle

from common import Run, failure, median, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))

# Frozen: changing this list changes the workload. One query per plan shape
# of the headline set, taking the cheaper query where two share a shape so
# that a run holds several passes: the domain report (watchlist semi-join
# and conditional aggregation), a multi-join top-k, a window, JSON
# extraction and a Python worker path (mapInPandas). One pass takes ≈2.7 s
# at sf0.01 on two task threads; one pass of all of bench.HEADLINE ≈30 s.
E2E_QUERIES = tuple(q for q in bench.HEADLINE if q in {
    "flagship_balance_report",
    "q03_shipping_priority",
    "window_running_sum",
    "json_extract_agg",
    "multimodal_decode_features",
})

_PYTHON_NODES = ("Python", "InPandas", "InArrow")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class HeadlineQueries:
    name = "headline_queries"
    why = (
        "breadth of plans/: builders, Catalyst planning, joins, windows, "
        "shuffles and Python workers; overhead-bound, not byte-bound"
    )

    warm_passes = 1

    def __init__(self, smoke: bool):
        self.dir = os.path.join(HERE, "fixtures", "sf0.001" if smoke else "sf0.01")
        self.smoke = smoke

    def generate(self, run: Run) -> float:
        self.mb = sum(
            os.path.getsize(os.path.join(self.dir, f)) for f in os.listdir(self.dir)
        ) / 1e6
        return self.mb

    def warm(self, run: Run) -> None:
        """Run every query once, keeping its output for the correctness
        check; this pays each builder's one-time costs before timing."""
        from rugpull_data_pipeline_spark.plans import registry

        self.registry = registry
        queries = bench.HEADLINE if run.tracer else E2E_QUERIES
        self.order = list(queries[2:4] if self.smoke else queries)
        random.Random(run.seed).shuffle(self.order)
        # Each output is checked against its DuckDB oracle on one side
        # thread while the next query runs cold; verify() collects them.
        self.checks, cold = {}, {}
        self.checker = ThreadPoolExecutor(max_workers=1)
        for q in self.order:
            t0 = time.perf_counter()
            try:
                got = registry.get(q).builder(run.spark, self.dir).toPandas()
                self.checks[q] = self.checker.submit(self._check, q, got)
            except Exception as exc:  # noqa: BLE001 - counted, never fatal
                self.checks[q] = exc
            cold[q] = time.perf_counter() - t0
        run.info["query_cold_s"] = cold
        # One untimed pass more: the first pass after the cold one still runs
        # a third slower than the passes after it.
        warm = []
        for _ in range(0 if run.tracer else self.warm_passes):
            t0 = time.perf_counter()
            for q in self.order:
                try:
                    _noop(registry.get(q).builder(run.spark, self.dir))
                except Exception:  # noqa: BLE001 - the cold pass already holds it
                    pass
            warm.append(time.perf_counter() - t0)
        run.info["warm_pass_s"] = warm

    def _timed_query(self, run: Run, q: str) -> float:
        build = self.registry.get(q).builder
        if not run.tracer:
            t0 = time.perf_counter()
            _noop(build(run.spark, self.dir))
            return time.perf_counter() - t0
        t0 = time.perf_counter()
        with run.group(f"build:{q}"):
            df = build(run.spark, self.dir)
        t1 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan().toString()
        t2 = time.perf_counter()
        with run.group(f"exec:{q}"):
            _noop(df)
        t3 = time.perf_counter()
        lay = self.split.setdefault(q, {"build": [], "plan": [], "exec": []})
        lay["build"].append(t1 - t0)
        lay["plan"].append(t2 - t1)
        lay["exec"].append(t3 - t2)
        lay["python"] = any(n in plan for n in _PYTHON_NODES)
        return t3 - t0

    def measure(self, run: Run) -> None:
        walls: dict[str, list[float]] = {q: [] for q in self.order}
        pass_walls: list[float] = []
        ops = []
        self.split: dict[str, dict] = {}
        cpu0 = tree_cpu_s()
        start = time.perf_counter()
        while time.perf_counter() - start < run.seconds or not pass_walls:
            in_pass = 0.0
            for q in self.order:
                run.probe()
                try:
                    walls[q].append(self._timed_query(run, q))
                    ops.append((q, walls[q][-1], run.probe.samples[-1]))
                    in_pass += walls[q][-1] if q in E2E_QUERIES else 0.0
                    run.check(True, q)
                except Exception as exc:  # noqa: BLE001 - counted, never fatal
                    run.check(False, failure(q, exc))
            pass_walls.append(in_pass)
        passes = len(pass_walls)
        run.window(tree_cpu_s() - cpu0, sum(len(w) for w in walls.values()))
        timed = {q: median(w) for q, w in walls.items() if q in E2E_QUERIES}
        total = sum(timed.values())
        run.e2e["wall_p50_s"] = total
        run.info.update({
            "passes": passes, "pass_s": pass_walls, "query_p50_s": timed, "ops": ops,
        })
        if not run.tracer:
            return
        med = {
            q: {k: median(v) for k, v in lay.items() if k != "python"}
            for q, lay in self.split.items()
        }
        for q in bench.HEADLINE:
            run.layers[f"plans.build_s.{q}"] = med.get(q, {}).get("build", 0.0)
            run.layers[f"plans.exec_s.{q}"] = med.get(q, {}).get("exec", 0.0)
        run.layers.update({
            "plans.build_s": sum(m["build"] for m in med.values()),
            "plans.plan_s": sum(m["plan"] for m in med.values()),
            "plans.exec_s": sum(m["exec"] for m in med.values()),
            "plans.build_jobs": run.tracer.jobs_in_groups(
                [f"build:{q}" for q in self.order]
            ) / passes,
            "functions.python_exec_s": sum(
                med[q]["exec"] for q, lay in self.split.items() if lay["python"]
            ),
        })

    def _check(self, q: str, got) -> list:
        try:
            return compare(got, run_oracle(self.registry.get(q).oracle, self.dir))
        except Exception as exc:  # noqa: BLE001 - counted, never fatal
            return [failure("oracle", exc)]

    def verify(self, run: Run) -> None:
        self.checker.shutdown(wait=True)
        for q in self.order:
            check = self.checks[q]
            if isinstance(check, Exception):
                run.check(False, failure(q, check))
                continue
            bad = check.result()
            run.check(not bad, f"{q} vs DuckDB oracle: {bad[:2]}")
