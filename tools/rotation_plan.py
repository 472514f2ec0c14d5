"""Rotation report — the driver window that the recorded grades imply.

The grading driver verifies the first ``registry.DRIVER_WINDOW`` entries of ``queries()`` each
round. ``registry.driver_order`` derives that order from the
CORRECTNESS_r*.json artifacts: queries never graded green first, then the
green ones, oldest last green round first. This script prints the backlog,
the staleness histogram and the next window:

    python tools/rotation_plan.py

The gate lives in tests/test_correctness_oracle.py
(test_driver_window_rotation): no window slot may hold a query graded
green more recently than one left outside the window.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from rugpull_data_pipeline_spark.plans import registry

    names = list(registry.all_queries())
    latest = registry.last_green_round(registry.load_grades())
    never = [n for n in names if n not in latest]

    window = registry.DRIVER_WINDOW
    print(f"registry: {len(names)} queries")
    print(f"driver-verified (any round): {len(latest)}")
    print(f"never driver-checked: {len(never)} "
          f"(carry after a green {window}-window: {max(0, len(never) - window)})")
    by_round: dict[int, int] = {}
    for n in latest.values():
        by_round[n] = by_round.get(n, 0) + 1
    print("verified-by-round histogram:",
          {f"r{r}": c for r, c in sorted(by_round.items())})

    plan = names[:window]
    backlog = sum(1 for n in plan if n not in latest)
    print(f"\nnext window ({len(plan)}): {backlog} backlog + "
          f"{len(plan) - backlog} stalest re-proof")
    for n in plan:
        print(f"  {n} ({f're-proof r{latest[n]}' if n in latest else 'backlog'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
