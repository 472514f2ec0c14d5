"""Time registered queries Spark-side only (noop sink, best-of-N).

The perf companion to tools/sweep.py: the sweep measures
build+oracle+compare wall (correctness harness), this measures ONLY the
Spark plan execution — what a cluster pays — so plan rewrites can be
judged on the number they actually move.

Usage: python tools/time_queries.py [sf_dir] name1 name2 ...
       python tools/time_queries.py --runs 3 /root/testdata/sf0.1 graph_sssp_bellman3
With no names: times the current driver window, the first
registry.DRIVER_WINDOW queries in registry order.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from rugpull_data_pipeline_spark.plans import registry
    from rugpull_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    qs = registry.all_queries()
    names = args.names
    if not names:
        names = list(qs)[: registry.DRIVER_WINDOW]
    # Warm session one-offs (codegen, parquet footers, Arrow worker pool).
    try:
        qs["q01_pricing_summary"](spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:  # noqa: BLE001
        pass
    total = 0.0
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered")
            continue
        best = None
        try:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                qs[name](spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        total += best
        print(f"{best:8.2f}s  {name}", flush=True)
    print(f"\nTOTAL best-of-{args.runs}: {total:.2f}s over {len(names)} queries")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
