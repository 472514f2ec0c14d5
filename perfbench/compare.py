#!/usr/bin/env python3
"""Compare two sets of benchmark runs, parent against change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the run records that ``perfbench/run.py`` writes to
``.perfbench_results/`` (untraced runs only are read). Runs of one workload
are paired in the order they were made, so alternate the two sides when
making them. For every workload and end-to-end metric of BENCHMARK.json it
prints each side's median and quartiles, the share of pairs the change
wins (ties count for neither side) and one verdict:

- ``improved``: the change wins at least nine tenths of the pairs and the
  medians differ, in its favour, by more than the parent's quartile spread;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound;
- ``unresolved``: the parent's own quartile spread is wider than the bound,
  and not every change run beats every parent run;
- ``unchanged``: otherwise.

Failed operations are summed per side; a gain does not count when the
change fails more operations than the parent.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> dict[str, list[dict]]:
    """Untraced run records by workload, oldest first."""
    runs: dict[str, list[dict]] = {}
    for path in glob.glob(os.path.join(directory, "*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0 and not rec.get("smoke"):
            runs.setdefault(rec["workload"], []).append(rec)
    for recs in runs.values():
        recs.sort(key=lambda r: r["time"])
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> tuple[str, float]:
    """The verdict for one metric on one workload, and the change's win share."""
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    win_share = wins / len(pairs) if pairs else 0.0
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    gain = sign * (cm - pm)
    if win_share >= 0.9 and gain > p3 - p1:
        return "improved", win_share
    if -gain > bound * abs(pm):
        return "worse", win_share
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if (p3 - p1) > bound * abs(pm) and not all_better:
        return "unresolved", win_share
    return "unchanged", win_share


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load(argv[0]), load(argv[1])
    print(f"{'workload':18s} {'metric':20s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'wins':>5s}  verdict")
    for w in [w["name"] for w in spec["workloads"]]:
        p_runs, c_runs = parent.get(w, []), change.get(w, [])
        if not p_runs or not c_runs:
            print(f"{w:18s} no runs on {'parent' if not p_runs else 'change'}")
            continue
        p_fail = sum(r["failed"] for r in p_runs)
        c_fail = sum(r["failed"] for r in c_runs)
        for m in spec["end_to_end"]:
            pv = [r["end_to_end"][m["name"]] for r in p_runs]
            cv = [r["end_to_end"][m["name"]] for r in c_runs]
            v, share = verdict(pv, cv, m["better"], m["bound"])
            if v == "improved" and c_fail > p_fail:
                v = "unresolved (more failures)"
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
            print(f"{w:18s} {m['name']:20s} {fmt(pv):>30s} {fmt(cv):>30s} "
                  f"{share:5.2f}  {v}")
        print(f"{w:18s} {'failed ops':20s} {p_fail:>30d} {c_fail:>30d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
