"""Throughput-curve point: the §3.1 extraction chain over a generated
block corpus of arbitrary size, timed best-of-N on local[32].

Commits the method used for the SCALE.md curve (39 MB → 115 MB → 449 MB →
900 MB → 1.8 GB): JSON-source scan at the pruned schema → broadcast
watchlist semi-join → fused pre/post explode → (owner,mint) pre/post merge,
counted with a noop sink (count()), never collected. The reference anchor is its
≈25 MB/s sustained parse+filter cadence (2.5 blocks/s × ≤10 MB,
SERVER/subscriber.py:23,111-114).

    python tools/throughput_curve.py --dir /tmp/rugpull_curve_1800 --runs 3
    python tools/throughput_curve.py --blocks 5760 --files 32 --tx-scale 55
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--dir", default=None, help="existing corpus dir (blocks_*.json)")
    ap.add_argument("--blocks", type=int, default=5760)
    ap.add_argument("--seed", type=int, default=13)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--tx-scale", type=int, default=55)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from rugpull_data_pipeline_spark.operators.balance import (
        extract_balance_changes,
        read_blocks,
    )
    from rugpull_data_pipeline_spark.session import get_spark
    from rugpull_data_pipeline_spark.sources.solana import (
        hot_addresses,
        write_blocks_json,
    )

    path = args.dir
    if path is None:
        path = f"/tmp/rugpull_curve_{args.blocks}_{args.seed}_{args.tx_scale}"
        write_blocks_json(
            path, n_blocks=args.blocks, seed=args.seed, files=args.files,
            tx_scale=args.tx_scale,
        )
    size_b = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("blocks_")
    )
    spark = get_spark(app_name="throughput-curve")
    times = []
    rows = None
    for i in range(args.runs):
        t0 = time.time()
        out = extract_balance_changes(
            read_blocks(spark, f"{path}/blocks_*.json"), hot_addresses()
        )
        rows = out.count()
        times.append(time.time() - t0)
        print(f"run {i + 1}: {times[-1]:.2f}s ({rows} rows)", flush=True)
    best = min(times)
    mb = size_b / 1e6
    print(
        f"\nCURVE POINT: {mb:.0f} MB in {best:.2f}s best-of-{args.runs} "
        f"= {mb / best:.0f} MB/s ({mb / best / 25:.1f}x the 25 MB/s anchor); "
        f"runs: {[round(t, 2) for t in times]}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
