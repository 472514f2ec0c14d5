"""Volume-stress harness — N x row replication, made durable.

Rounds 4-5 measured "does this plan survive 16x/64x the rows?" with
throwaway /tmp scripts; this commits the method. It builds a replicated
copy of the fact-side tables (documents / events / embeddings / customer)
with id columns remapped per replica and every value / vocab / calendar
domain left untouched — so what is under test is exactly the scale claims
in SCALE.md: output grids stay bounded, caps stop quadratic candidate
growth, iteration state stays graph-sized while the single input scan
grows linearly. Dimension-side tables are symlinked at 1x.

    python tools/stress.py --factor 64 --only eval_ graph_      # families
    python tools/stress.py --factor 16 --names stream_kalman_filter
    python tools/stress.py --factor 64 --window --skip-base     # r6 window

Prints one line per (query, scale) with wall time and output rows, then a
JSON summary keyed by query. Exit code 0 iff every stressed query ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# id remap per replica keeps keys unique without touching any value domain;
# the offset is far above every generator's key range at sf0.1.
_ID_OFFSET = 100_000_000
_REPLICATED = {
    "documents": "doc_id",
    "events": "event_id",
    "embeddings": "vec_id",
    "customer": "c_custkey",
    # l_orderkey offset per replica keeps (l_orderkey, l_linenumber) unique;
    # suppkey/partkey domains untouched, so flagship aggregation state stays
    # key-bounded while the scanned fact grows linearly (round 7, added to
    # stress the composed streaming flagship).
    "lineitem": "l_orderkey",
}
# Bump when _REPLICATED changes: the stress dir is content-keyed by name
# and a stale _DONE marker would silently reuse a copy missing the newly
# replicated table.
_LAYOUT_V = 2


def build_stress_dir(sf_dir: str, factor: int) -> str:
    """Materialize the replicated copy (content-keyed, reused across runs)."""
    key = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(
        tempfile.gettempdir(), f"rugpull_stress_{key}_x{factor}_v{_LAYOUT_V}"
    )
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    import duckdb

    from rugpull_data_pipeline_spark.sources.tables import TABLES

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.lexists(dst):
            os.remove(dst)
        id_col = _REPLICATED.get(name)
        if id_col is None:
            os.symlink(src, dst)
            continue
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
        sel = ", ".join(
            f"{c} + r.r * {_ID_OFFSET} AS {c}" if c == id_col else c
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM read_parquet('{src}'), "
            f"range({factor}) r(r) ORDER BY r.r, {id_col}) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
    con.close()
    with open(done, "w") as fh:
        fh.write(str(factor))
    return out


def time_query(spark, fn, sf_dir: str, runs: int) -> tuple[float, int]:
    best, rows = float("inf"), -1
    for _ in range(runs):
        t = time.time()
        rows = len(fn(spark, sf_dir).collect())
        best = min(best, time.time() - t)
    return best, rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="sf0.1")
    ap.add_argument("--testdata", default="/root/testdata")
    ap.add_argument("--factor", type=int, default=64)
    ap.add_argument("--runs", type=int, default=2, help="best-of runs per scale")
    ap.add_argument("--window", action="store_true", help="first registry.DRIVER_WINDOW queries")
    ap.add_argument("--only", nargs="*", default=None, help="name-prefix filters")
    ap.add_argument("--names", nargs="*", default=None, help="exact query names")
    ap.add_argument("--skip-base", action="store_true", help="skip the 1x timing")
    ap.add_argument("--out", default=None, help="write the JSON summary here too")
    args = ap.parse_args()

    from rugpull_data_pipeline_spark.session import get_spark
    from rugpull_data_pipeline_spark.plans import registry

    sf_dir = os.path.join(args.testdata, args.sf)
    names = list(registry.all_queries())
    if args.window:
        names = names[: registry.DRIVER_WINDOW]
    if args.only:
        names = [n for n in names if any(n.startswith(p) for p in args.only)]
    if args.names:
        names = [n for n in names if n in set(args.names)]

    stress_dir = build_stress_dir(sf_dir, args.factor)
    print(f"stress dir {stress_dir} (x{args.factor})", flush=True)

    spark = get_spark(app_name=f"stress-x{args.factor}")
    results: dict[str, dict] = {}
    failures: list[str] = []
    for i, name in enumerate(names):
        fn = registry.get(name).builder
        rec: dict = {}
        try:
            if not args.skip_base:
                b, r = time_query(spark, fn, sf_dir, args.runs)
                rec.update(base_s=round(b, 3), base_rows=r)
            s, r = time_query(spark, fn, stress_dir, args.runs)
            rec.update(stress_s=round(s, 3), stress_rows=r)
            if "base_s" in rec and rec["base_s"] > 0:
                rec["ratio"] = round(rec["stress_s"] / rec["base_s"], 2)
        except Exception as ex:
            rec["error"] = repr(ex)[:300]
            failures.append(name)
        results[name] = rec
        print(f"[{i + 1:3d}/{len(names)}] {name} {rec}", flush=True)

    summary = {"factor": args.factor, "sf": args.sf, "results": results,
               "failures": failures}
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
