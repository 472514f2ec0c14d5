#!/usr/bin/env python3
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is measured with the noop sink (full plan runs, nothing is
collected to the driver) — the honest analogue of cluster-side throughput.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.session import get_spark
from tools.plan_fingerprint import plan_fp

# Representative of every operator family: flagship chain, heavy aggregation,
# multi-join, window, JSON extraction, dedup sketches, similarity search.
HEADLINE = [
    "flagship_balance_report",
    "solana_rugpull_score",
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "window_running_sum",
    "window_price_change_10pct",
    "json_extract_agg",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_simhash_signature",
    "dedup_ngram_jaccard",
    "sim_cosine_topk_bruteforce",
    "sim_lsh_hyperplane_ann",
    "join_asof_last_view",
    "join_range_time_window",
    "multimodal_decode_features",
    # Round-2/3 corpus operators: MERGE-shaped CDC apply, chunk-level dedup,
    # PQ encoding (equi-join form), funnel analytics, repetition scoring,
    # and the shuffle-free bucketed fact-fact join (first run pays the
    # bucketed write; best-of-2 reports the steady-state join).
    "cdc_merge_apply",
    "text_paragraph_dedup",
    "sim_pq_encode",
    "events_funnel_stages",
    "text_repetition_score",
    "layout_bucketed_join",
    # Round-4 pipeline operators: map-only sliding-window chunking, the
    # bucketed nearest-event (tolerance as-of) join, and the combined
    # IVF+PQ ANN query (coarse routing + asymmetric code distances).
    "text_chunk_sliding",
    "join_asof_tolerance",
    "sim_ivfpq_topk",
    # Round-4b ML-prep operators: token-distribution entropy (explode +
    # doc-keyed aggs over documents), the MMR greedy re-rank (pool-
    # bounded broadcast probes), the map-only quality gate (zero-shuffle
    # curation path), and the holder-concentration HHI screen.
    "text_word_entropy",
    "sim_mmr_diversify",
    "text_filter_gate",
    "agg_holder_concentration",
    # Round-5 training-data operators: CCNet boilerplate detection (explode
    # + df hash-agg + co-partitioned join back on the segment hash) and the
    # cross-corpus incremental MinHash probe (snapshot bands vs base bands).
    "text_boilerplate_ccnet",
    "dedup_minhash_incremental",
    # Round-5 eval/statistics tier: the all-integer Mann-Whitney AUC over
    # the distinct-cents grid, and the ANN recall audit (runs BOTH the
    # brute-force and LSH retrieval pipelines plus the hit join).
    "eval_auc_roc",
    "audit_ann_recall",
    # Round-5 operators: the greedy k-center coreset (4 broadcast-iterated
    # linear passes over integer vectors), DSIR importance selection
    # (hashed-feature log-ratio scoring + ordered top-k), the per-slice
    # dataset card (hash-agg where only md5s shuffle), and BM25 lexical
    # retrieval (term-filtered posting aggs + corpus-stat broadcast).
    "sample_kcenter_coreset",
    "sample_dsir_selection",
    "traindata_dataset_card",
    "text_keyword_bm25",
    # Round-5 final additions: JSD source drift (the full tokenize +
    # token-key join corpus pass) and HITS (the broadcast-iteration
    # pattern under measurement — 6 half-steps of join+agg+norm).
    "profile_jsd_source_drift",
    "graph_hits_power3",
    # ~110 MB of generated getBlock JSON through the full extraction chain —
    # the parse+filter+agg throughput entry vs the reference's ≈25 MB/s
    # anchor (BASELINE.md).
    "solana_balance_extract_xl",
]


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    # --smoke: two queries, one repeat, no warmups — exercises the full
    # harness contract (JSON shape, fault isolation) in seconds so a test
    # can gate it; the measured numbers are not meaningful in this mode.
    smoke = "--smoke" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    # Even session/registry setup failure must still print the JSON line —
    # an artifact with an error beats a missing artifact.
    try:
        spark = get_spark(app_name="rugpull-bench")
        qs = registry.all_queries()
    except Exception as exc:  # noqa: BLE001
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": 0.0,
                    "unit": "sec",
                    "queries": {},
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                    "errors": {"__setup__": f"{type(exc).__name__}: {exc}"[:500]},
                }
            )
        )
        raise SystemExit(1)

    # Warm up one-time session costs so measured numbers reflect operator
    # cost: JVM codegen + parquet footers (q01), broadcast-join machinery
    # (q03), and the Python/Arrow worker pool (a trivial mapInPandas).
    def warm(thunk) -> None:
        try:
            thunk()
        except Exception:  # noqa: BLE001 — a failed warm-up must not void the run
            pass

    if not smoke:
        warm(lambda: run_noop(qs["q01_pricing_summary"](spark, sf_dir)))
        warm(lambda: run_noop(qs["q03_shipping_priority"](spark, sf_dir)))
        warm(
            lambda: run_noop(
                spark.range(64)
                .repartition(spark.sparkContext.defaultParallelism)
                .mapInPandas(lambda it: it, "id long")
            )
        )
        # Warm the text-source + from_json codegen path with the small
        # block corpus so the XL entry measures parsing, not compilation.
        warm(lambda: run_noop(qs["solana_balance_extract"](spark, sf_dir)))

    # Best-of-3 per query (best-of-4 for the long XL entry): single runs
    # swing far more than ±15% on this host (co-tenant CPU-steal spikes);
    # the min is the repeatable steady-state number (each run still
    # executes the full plan against the noop sink — nothing is cached
    # between runs).
    # Per-query fault isolation: one broken query must never void the other
    # measurements — record its error string and keep going, and ALWAYS
    # print the JSON line (round 3 lost its entire bench artifact to a
    # single AnalysisException).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    fps: dict[str, str] = {}
    for name in (HEADLINE[:2] if smoke else HEADLINE):
        if name not in qs:
            errors[name] = "not registered"
            continue
        try:
            fps[name] = plan_fp(qs[name](spark, sf_dir))
        except Exception:  # noqa: BLE001 — fp failure must not void the timing
            pass
        # The XL throughput entry is the headline number vs the reference
        # anchor AND the longest-running query, which makes it the most
        # exposed to co-tenant CPU-steal spikes (measured: the same run
        # swings 1.8 s <-> 12 s on a noisy host). Give it extra repeats so
        # one stolen run can't poison the artifact; best-of-3 covers the
        # sub-2 s entries.
        repeats = 1 if smoke else (
            4 if name == "solana_balance_extract_xl" else 3
        )
        best = None
        try:
            for _ in range(repeats):
                t0 = time.perf_counter()
                run_noop(qs[name](spark, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        except Exception as exc:  # noqa: BLE001 — harness must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "plan_fp": fps,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
