"""Registry-wide physical-plan scan audit — the round-11 CTE-inlining guard.

Spark inlines ``WITH`` CTEs once per consumer, so a query whose shared
core fans out to N consumers silently plans N scans of the fact table
(DuckDB materializes the CTE, so the oracle never pays it — the class is
invisible to the correctness gate and a direct input-size multiplier at
100 TB). The round-11 refactor cured 44 queries by localCheckpointing the
shared core; THIS tool is the committed invariant that keeps the class
out: every registered batch query must plan at most ``CAP`` (=4) scans of
any single fact table.

Library use (the plan test imports these):

    counts = fact_scan_counts(executed_plan(df))  # {table: planned scans}
    worst  = max(counts.values() or [0])

CLI:

    python tools/scan_audit.py             # audit the whole registry
    python tools/scan_audit.py --selfcheck # prove the detector still sees
                                           # the pre-refactor inlined class

The ``--selfcheck`` builds the known-bad pre-refactor variant of
``profile_mad_screen`` (its shared grid core passed inline as CTE text
instead of checkpointed — 28 planned scans in round 11) and exits
non-zero unless the audit flags it, so the guard itself cannot rot
silently.
"""

from __future__ import annotations

import collections
import re
import sys

# Tiny broadcast dimensions: re-reading these is metadata-scale by
# construction (q02 reads nation/region twice by TPC-H's own shape) and
# never an input-size multiplier. Everything else — facts, corpus tables,
# mid-size dims — counts against the cap.
DIM_TABLES = frozenset({"region", "nation"})

# The audited invariant (PLANS.md "plan-scan audit"): no batch query may
# plan more than this many scans of one non-dim table. The remaining
# 4-scan plans are individually named and justified in PLANS.md.
CAP = 4

_SCAN_RE = re.compile(
    r"Location: InMemoryFileIndex\(1 paths\)\[[^\]]*/(\w+)\.parquet"
)


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def fact_scan_counts(plan: str) -> dict[str, int]:
    """Planned parquet scans per NON-DIM table in an executed-plan string."""
    c = collections.Counter(_SCAN_RE.findall(plan))
    return {t: n for t, n in c.items() if t not in DIM_TABLES}


def audit_registry(spark, sf_dir: str):
    """Yield (name, counts) for every auditable (non-streaming) query."""
    from rugpull_data_pipeline_spark.plans import registry

    registry._load_plan_modules()
    for name, spec in sorted(registry._REGISTRY.items()):
        if name.startswith("stream_") or "replay" in name:
            continue  # streaming builders EXECUTE queries; plan-audit n/a
        yield name, fact_scan_counts(executed_plan(spec.builder(spark, sf_dir)))


def _selfcheck(spark, sf_dir: str) -> int:
    """Positive control: the pre-refactor inlined variant MUST be flagged."""
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans import registry
    from rugpull_data_pipeline_spark.plans.diagnostics_ops import (
        _mad_grid_core,
        _mad_screen,
    )

    registry._load_plan_modules()
    registry._ensure_views(spark, sf_dir)
    bad = spark.sql(_mad_screen(SPARK, grid=_mad_grid_core(SPARK)))  # inlined
    counts = fact_scan_counts(executed_plan(bad))
    worst = max(counts.values(), default=0)
    print(f"selfcheck: inlined profile_mad_screen plans {counts}")
    if worst <= CAP:
        print(f"FAIL: detector no longer sees the inlined class (<= {CAP})")
        return 1
    print(f"OK: {worst} > {CAP} — the guard still detects the class")
    return 0


def main(argv: list[str]) -> int:
    sys.path.insert(0, ".")
    from rugpull_data_pipeline_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.001"
    spark = get_spark()
    try:
        if "--selfcheck" in argv:
            return _selfcheck(spark, sf_dir)
        bad = []
        rows = []
        for name, counts in audit_registry(spark, sf_dir):
            worst = max(counts.values(), default=0)
            rows.append((worst, name, counts))
            if worst > CAP:
                bad.append(name)
        for worst, name, counts in sorted(rows, reverse=True)[:25]:
            print(f"{worst:3d} {name:40s} {counts}")
        print(f"audited {len(rows)} queries; over-cap: {bad or 'none'}")
        return 1 if bad else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
