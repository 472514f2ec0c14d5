"""Interleaved A/B timing for registered queries.

Runs the named queries N times in an interleaved order (q1, q2, ..., q1,
q2, ...) inside ONE session and reports median/min per query plus the
CPU-steal fraction observed during the run — the honest way to compare
plan variants on a co-tenant host where back-to-back blocks see
different steal. Each timed run is build + execute: the builder call
(including any eager checkpoint jobs it runs) and the noop-sink write of
the frame it returns. tools/sweep.py covers build+oracle+compare.

Usage: python tools/ab_time.py [--runs 7] sf_dir [name1 name2 ...]
With no names: times the current driver window, the first
registry.DRIVER_WINDOW queries in registry order.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _stat() -> list[int]:
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=7)
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from rugpull_data_pipeline_spark.plans import registry
    from rugpull_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ab-time")
    qs = registry.all_queries()
    names = args.names or list(qs)[: registry.DRIVER_WINDOW]
    # warm: session one-offs (use the first timed query so a rename of
    # any specific query can't KeyError the tool — round-12 ADVICE)
    qs[names[0]](spark, args.sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    times: dict[str, list[float]] = {n: [] for n in names}
    s0 = _stat()
    for _ in range(args.runs):
        for n in names:
            spark.sparkContext.setJobDescription(f"ab:{n}")
            t0 = time.perf_counter()
            qs[n](spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times[n].append(time.perf_counter() - t0)
    s1 = _stat()
    d = [b - a for a, b in zip(s0, s1)]
    steal_pct = 100.0 * (d[7] if len(d) > 7 else 0) / max(sum(d), 1)
    for n in names:
        ts = times[n]
        print(
            f"{n}: median={statistics.median(ts):.3f} min={min(ts):.3f} "
            f"all={[round(t, 2) for t in ts]}"
        )
    print(f"steal during run: {steal_pct:.1f}%")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
