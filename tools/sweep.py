"""Local oracle sweep — the per-round verification harness, made durable.

Mirrors the grading driver's correctness gate (tests/oracle_harness.check_query)
over any slice of the registry at any scale factor. Until round 6 this script
was recreated in /tmp every round; committing it makes the round workflow
reproducible:

    python tools/sweep.py                     # all queries at sf0.1
    python tools/sweep.py --sf sf0.01 --window # the driver window at sf0.01
    python tools/sweep.py --start 120          # resume a long sweep mid-way
    python tools/sweep.py --only graph_ text_  # name-prefix filter

Exit code 0 iff every checked query matches its oracle.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="sf0.1", help="testdata scale dir name (sf0.001/sf0.01/sf0.1)")
    ap.add_argument("--testdata", default="/root/testdata", help="testdata root")
    ap.add_argument("--start", type=int, default=0, help="skip the first N queries (resume)")
    ap.add_argument(
        "--window", action="store_true", help="only the driver window (registry.DRIVER_WINDOW)"
    )
    ap.add_argument("--only", nargs="*", default=None, help="name-prefix filters")
    args = ap.parse_args()

    from rugpull_data_pipeline_spark.session import get_spark
    from rugpull_data_pipeline_spark.plans import registry
    from oracle_harness import check_query

    sf_dir = os.path.join(args.testdata, args.sf)
    names = list(registry.all_queries())
    total_registered = len(names)
    if args.window:
        names = names[: registry.DRIVER_WINDOW]
    if args.only:
        names = [n for n in names if any(n.startswith(p) for p in args.only)]
    names = names[args.start:]

    spark = get_spark(app_name=f"sweep-{args.sf}")
    fails: list[str] = []
    t0 = time.time()
    for i, name in enumerate(names):
        t = time.time()
        try:
            problems = check_query(spark, name, sf_dir)
        except Exception as ex:  # a crashed builder/oracle is a failure, not an abort
            problems = [f"EXCEPTION: {ex!r}"]
        status = "OK " if not problems else "FAIL"
        detail = "" if not problems else " :: " + " | ".join(problems)[:300]
        print(
            f"[{args.start + i + 1:3d}/{len(names) + args.start}] {status} {name} "
            f"({time.time() - t:.1f}s){detail}",
            flush=True,
        )
        if problems:
            fails.append(name)
    print(
        f"\nSWEEP DONE in {time.time() - t0:.0f}s: {len(names) - len(fails)}/{len(names)} green "
        f"(registry holds {total_registered}); failures: {fails}",
        flush=True,
    )
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
