"""Physical-plan fingerprints, scan counts and dumps for registered queries.

The one module that knows what an executed plan says about a query:

- ``fingerprint(df)``: operator counts of the executed plan. Comparing them
  across rounds is how a >20% bench mover is classified as environmental
  noise (identical fingerprint) vs a real plan regression (operator counts
  changed) — the policy documented in SCALE.md.
- ``plan_fp(df)``: the 12-hex hash of that fingerprint, recorded per
  headline query in every BENCH artifact by ``bench.py``.
- ``fact_scan_counts(executed_plan(df))``: planned parquet scans per
  non-dim table. Spark inlines ``WITH`` CTEs once per consumer, so a shared
  core fanning out to N consumers plans N fact scans that the oracle never
  pays (DuckDB materializes the CTE). No batch query may plan more than
  ``CAP`` scans of one table; ``test_scan_count_cap_registry_wide`` holds
  that across the registry and ``test_scan_guard_detects_inlined_class``
  proves the detector still sees the inlined class.

    python tools/plan_fingerprint.py flagship_balance_report text_chunk_sliding
    python tools/plan_fingerprint.py --bench            # every bench headline query
    python tools/plan_fingerprint.py --sf sf0.01 name   # smaller data, same shapes
    python tools/plan_fingerprint.py --diff BENCH_r12.json BENCH_r13.json
    python tools/plan_fingerprint.py --dump before      # formatted explains

``--diff A B`` prints the headline queries whose ``plan_fp`` changed
between two BENCH artifacts (or appear in only one), and exits 0 iff
nothing changed among queries present in both. A bench delta with an empty
diff is environmental by construction. The fingerprints are read from the
bench line's top-level ``plan_fp`` or, in a wrapped artifact such as
``BENCH_r13.json``, from the ``parsed`` bench line it wraps. A file with no fingerprints (a round before
they existed) or a pair sharing no query exits 1: an empty diff over
nothing proves nothing.

``--dump SUFFIX`` writes each query's ``explain("formatted")`` to
``plans/<sf>/<name>_<SUFFIX>.txt`` (``--bench`` set when no names are
given), for before/after plan reviews.
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

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


def fingerprint(df) -> dict[str, int]:
    ops = re.findall(r"^[\s:+\-*]*([A-Za-z]+)", executed_plan(df), re.M)
    # 'Scan' counts are format-noisy ("Scan parquet" vs "BatchScan"); drop them —
    # scan count never changes without a join/agg change showing up anyway.
    return dict(sorted(collections.Counter(o for o in ops if o not in ("", "Scan")).items()))


def plan_fp(df) -> str:
    """12-hex-char hash of the executed plan's operator-count fingerprint.
    Recorded per headline query so every BENCH artifact self-certifies
    whether its plans changed vs the prior round — the round-8 +21%
    driver-bench drift was provably environmental only because the diff
    happened to touch zero headline files; the fingerprint makes that proof
    automatic (round-8 verdict item 3)."""
    fp = fingerprint(df)
    return hashlib.md5(json.dumps(fp, sort_keys=True).encode()).hexdigest()[:12]


def fact_scan_counts(plan: str) -> dict[str, int]:
    """Planned parquet scans per NON-DIM table in an executed-plan string."""
    c = collections.Counter(_SCAN_RE.findall(plan))
    return {t: n for t, n in c.items() if t not in DIM_TABLES}


def _plan_fps(path: str) -> dict[str, str]:
    with open(path) as fh:
        art = json.load(fh)
    return art.get("plan_fp") or (art.get("parsed") or {}).get("plan_fp") or {}


def diff(path_a: str, path_b: str) -> int:
    fa, fb = _plan_fps(path_a), _plan_fps(path_b)
    for path, fps in ((path_a, fa), (path_b, fb)):
        if not fps:
            print(f"{path}: no plan_fp (pre-fingerprint artifact)")
    shared = set(fa) & set(fb)
    if not shared:
        print("no shared queries to compare")
        return 1
    changed = sorted(n for n in shared if fa[n] != fb[n])
    for n in changed:
        print(f"CHANGED {n}: {fa[n]} -> {fb[n]}")
    for n in sorted(set(fa) - set(fb)):
        print(f"ONLY-IN-{path_a} {n}")
    for n in sorted(set(fb) - set(fa)):
        print(f"ONLY-IN-{path_b} {n}")
    if not changed:
        print(f"fp-diff empty over {len(shared)} shared queries")
    return 1 if changed else 0


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("names", nargs="*", help="registered query names")
    ap.add_argument("--bench", action="store_true", help="fingerprint the bench headline set")
    ap.add_argument("--sf", default="sf0.1", help="testdata scale dir name")
    ap.add_argument("--testdata", default="/root/testdata", help="testdata root")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"), help="compare two BENCH artifacts")
    ap.add_argument("--dump", metavar="SUFFIX", help="write formatted explains instead")
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)

    from rugpull_data_pipeline_spark.session import get_spark
    from rugpull_data_pipeline_spark.plans import registry

    names = list(args.names)
    if args.bench or (args.dump and not names):
        import bench

        names.extend(n for n in bench.HEADLINE if n not in names)
    if not names:
        ap.error("pass query names or --bench")

    sf_dir = os.path.join(args.testdata, args.sf)
    out_dir = os.path.join(REPO, "plans", args.sf)
    spark = get_spark(app_name="plan-fingerprint")
    for name in names:
        if not args.dump:
            df = registry.get(name).builder(spark, sf_dir)
            print(name, fingerprint(df), flush=True)
            continue
        try:
            df = registry.get(name).builder(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - keep dumping the rest
            txt = f"ERROR building/explaining: {type(exc).__name__}: {exc}"
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{name}_{args.dump}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
