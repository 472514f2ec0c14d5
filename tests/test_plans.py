"""Physical-plan assertions: the scale properties the engine is designed
around (SURVEY.md §4), locked in as tests so a regression that silently
de-optimizes a plan (lost broadcast, lost pushdown, accidental cartesian)
fails CI rather than only showing up at 100 TB.
"""

from __future__ import annotations

import pytest

from rugpull_data_pipeline_spark.plans import registry
from rugpull_data_pipeline_spark.sources.tables import TABLES
from tests.conftest import session_views

SF = "/root/testdata/sf0.001"

# Queries whose plan INTENTIONALLY contains a broadcast-nested-loop join:
# the brute-force similarity baseline broadcasts a handful of query vectors
# against the corpus (the non-equi condition is the point), and the IVF/LSH
# variants carry tiny non-equi probes by construction.
_NLJ_ALLOWED = {
    "sim_cosine_topk_bruteforce",
    "sim_cosine_ivf_bucketed",
    "sim_lsh_hyperplane_ann",
    "dedup_embedding_cosine",
    "dedup_simhash_neardup",
    # 8-row centroid table broadcast against every vector — the IVF coarse
    # quantizer is definitionally an all-centroids probe.
    "sim_centroid_assign",
    "dedup_semantic_cluster",
    # deliberate tiny-dim cross join (region × brand-band).
    "join_cross_region_bands",
    # MMR re-rank: each greedy step broadcasts the 1-row selected vector
    # against the (small, post-ANN) candidate pool — non-equi by design.
    "sim_mmr_diversify",
    # kNN classifier: same broadcast-queries linear scan as the top-k
    # baseline (the non-equi probe is the point).
    "sim_knn_classify",
    # 1-row aggregate broadcasts (global mean / minority count / partition
    # totals): a cross join by syntax, a map-side constant by execution —
    # the alternative, a global OVER () window, would funnel every row
    # through one partition.
    "mlprep_target_encode_loo",
    "sample_class_rebalance",
    "layout_partition_skew_advisor",
    "graph_hits_power3",  # 6 × 1-row L1-norm broadcasts (r13: replaced the
    # global OVER () window norms that funnelled the node frame 11×)
    "events_survival_km",  # 1-row censoring-horizon (max ts) broadcast
    "eval_cohens_kappa",  # two 1-row aggregates (total/chance) joined
    "sample_dsir_selection",  # 1-row corpus-totals broadcast into the
    # 128-row bucket-weight table build
    "text_keyword_bm25",  # 1-row (N, total-tokens) corpus stats broadcast
    "graph_community_modularity",  # 1-row edge-count (m) broadcast
    "text_bigram_kneser_ney",  # 1-row bigram-type-count (T) broadcast
    "profile_simpson_paradox",  # stratum-grid (3-row) self-cross for the flag
    "window_crosscorr_leadlag",  # 5-row literal lag grid replicating probes
    "profile_jsd_source_drift",  # 1-row corpus-token-total broadcast
    "profile_heaps_law",  # vocab x 8-row checkpoint grid + 1-row doc total
    "window_hurst_rs",  # 3-row literal scale grid replicating the day grid
    # deliberate tiny-dim cross joins (event types × fixed bin/digit grid),
    # the same shape as join_cross_region_bands.
    "profile_drift_psi",
    "profile_benford_screen",
    # metadata-scale cross joins: the QI-class grid × a 3-row k sweep (+ a
    # 1-row total), and the file-stats grid × 4 literal probe predicates.
    "quality_k_anonymity",
    "layout_manifest_prune",
    # 1-row aggregate broadcasts (class totals / norm scalars) and the
    # tiny class/dimension grids of the round-5 eval/stats family: the
    # broadcast side is bounded by the label or value domain, never rows.
    "eval_auc_roc",
    "mlprep_decision_stump",
    "agg_chi2_independence",
    "mlprep_naive_bayes",
    "sim_pca_power1",
    "audit_ann_recall",  # composes the allowlisted ANN + brute-force probes
    "sample_stratified_neyman",  # 1-row stratum-weight total broadcast
    "eval_threshold_sweep",  # 5-row threshold grid x distinct-cents grid
    "mlprep_quantile_binning",  # 1-row total-count broadcast onto the grid
    "agg_mutual_info",  # 1-row n broadcast onto cells/marginals
    "events_rfm_segments",  # 1-row horizon/total broadcasts onto metric grids
    "sim_random_projection16",  # 16x64 sign-matrix sequence cross join
    "audit_multiprobe_recall",  # composes the brute-force + LSH probes
    "sample_bootstrap_hash",  # 1-row point-estimate broadcast
    "sim_whiten_rerank",  # 1-row norm broadcast + 64-row loading table
    "mlprep_isotonic_pava",  # 20-bin score-grid triangle join (minimax PAVA)
    "sim_range_search_radius",  # broadcast fixed query set, exact linear scan
    # round-9 metadata-scale broadcasts: the QI-group grid x the ~20-row
    # acctbal band grid (t-closeness EMD expansion — the constant-key
    # equi-join folds to a broadcast of the band aggregate), the 1-row
    # stage-1 stump model broadcast onto the 24-row hour grid (the
    # mlprep_decision_stump shape, boosted), and the 5-row source-pair
    # self-cross of the vocabulary-overlap report.
    "quality_t_closeness",
    "mlprep_boosted_stumps2",
    "profile_source_vocab_overlap",
    # k-row centroid table broadcast onto every vector (Lloyd assignment):
    # centroids moved from plan literals to a broadcast dim in round 9
    # (codegen blew into interpreted fallback at 10k dims).
    "kmeans_lloyd_fit",
    # round-10 metadata-scale broadcasts: 1-row totals onto bounded grids
    # (the eval_threshold_sweep / agg_mutual_info shape) — the 10-bin
    # Brier grid x its 1-row total, the cents grid x a 3-row threshold
    # table, the (user,item) cells x the 1-row global mean, the top-20
    # term table x the 1-row doc count, the margin-product r x c grid
    # (zero cells need the expansion) x its 1-row total, and the per-type
    # totals x the 24-row hour grid. eval_kendall_tau broadcasts one side
    # of the CALENDAR-grid pair build (31..365 rows; the non-equi
    # day_idx < day_idx condition is the point, like the sim probes).
    "eval_brier_decomposition",
    "eval_matthews_corr",
    "eval_kendall_tau",
    "rec_user_bias_baseline",
    "text_burstiness_dispersion",
    "agg_cramers_v",
    "events_hour_uniformity_gof",
    # round-11 metadata-scale broadcasts, same constant-key class: the
    # per-type totals x the 10-digit grid (last-digit GOF, the hour-GOF
    # shape), the centered daily grid x the 9-row period table, the
    # 1-row type-count onto the market co-moments, the 1-row F total
    # onto the per-group Levene profile, the 4 contrast types x the
    # distinct-cents grid (Mann-Whitney), the 50-row depth grid x the
    # rank-overlap counts (RBO), the day x decile grid fill + 1-row
    # maxima (concordance), the per-type totals x the 4-row percentile
    # table (quantile-sketch audit), the 1-row max-doc-id onto documents
    # (novelty batching), the 20 sources x the 30-token top list
    # (Burrows), the 6-row degree-threshold table (rich club), and the
    # cohort table x the age grid (LTV). Every broadcast side is a
    # literal/aggregate <= 50 rows; the fact side is already a bounded
    # grid or a dimension.
    "profile_last_digit_uniformity",
    "window_squarewave_period",
    "window_market_beta",
    "eval_levene_bf",
    "eval_mann_whitney_u",
    "eval_rank_biased_overlap",
    "eval_concordance_index",
    "audit_quantile_sketch",
    "text_token_novelty",
    "text_burrows_delta",
    "graph_rich_club",
    "events_cohort_ltv",
    # round-12 metadata-scale broadcasts, same constant-key class: the
    # 1-row total (N, tie mass) onto the 5-row per-group rank sums
    # (Kruskal-Wallis), the stage/value-grid literal-key fan-out plus the
    # 1-row (JT, null moments) close (Jonckheere), the day x type
    # literal-key fan-out plus 1-row n/k closes (Friedman), the 5 x 10
    # priority x band grid fill (gamma), the 1-row observation-horizon
    # broadcast (log-rank — the events_survival_km shape), and the
    # 7-row bucket grid onto per-type rate fits (exponential GOF).
    # Every broadcast side is a literal/aggregate <= 50 rows.
    "eval_kruskal_wallis",
    "eval_jonckheere_terpstra",
    "eval_friedman_ranks",
    "eval_goodman_kruskal_gamma",
    "events_logrank_test",
    "events_interarrival_expgof",
}


# One executed-plan string per query per session: the three registry-wide
# sweeps (cartesian, nested-loop, scan-cap) each iterated the full
# 425-query registry, re-building and re-planning every query — 3 × ~90 s
# of pure plan construction in the driver's pytest budget (the r12 driver
# verify timed out at ~92% of the suite). The predicates are all pure
# functions of the plan STRING, so one build serves all three.
# The same builds also record any temp view a build left behind in the
# session (fixture tables aside), for test_no_builder_leaves_a_temp_view.
_PLAN_CACHE: dict[str, str] = {}
_LEFT_VIEWS: dict[str, list[str]] = {}


def _plan(spark, name: str) -> str:
    if name not in _PLAN_CACHE:
        before = session_views(spark)
        df = registry.get(name).builder(spark, SF)
        _PLAN_CACHE[name] = df._jdf.queryExecution().executedPlan().toString()
        left = session_views(spark) - before - set(TABLES)
        if left:
            _LEFT_VIEWS[name] = sorted(left)
    return _PLAN_CACHE[name]


def test_no_cartesian_products_anywhere(spark):
    """No registered query may plan a CartesianProduct — the one physical
    operator that cannot survive a 100× scale-up."""
    offenders = []
    for name in registry.all_queries():
        plan = _plan(spark, name)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_no_builder_leaves_a_temp_view(spark):
    """Builders hand their intermediates to spark.sql as DataFrames; no build
    may leave one registered under a session-wide name for a later (or
    concurrent) build of the same query to find."""
    for name in registry.all_queries():
        _plan(spark, name)
    assert not _LEFT_VIEWS, f"temp views left behind: {_LEFT_VIEWS}"


def test_no_accidental_nested_loop_joins(spark):
    """BroadcastNestedLoopJoin only where the operator is designed around a
    tiny broadcast side (similarity probes); everywhere else a NLJ means an
    equi-condition was lost."""
    offenders = []
    for name in registry.all_queries():
        if name in _NLJ_ALLOWED:
            continue
        if "BroadcastNestedLoopJoin" in _plan(spark, name):
            offenders.append(name)
    assert not offenders, f"unexpected nested-loop joins in: {offenders}"


def test_flagship_is_all_broadcast(spark):
    """The flagship chain joins facts only against broadcastable dims — at
    sf0.* it must plan zero SortMergeJoins (the watchlist semi-join and both
    enrichment joins broadcast, like the reference's per-thread hash set)."""
    plan = _plan(spark, "flagship_balance_report")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_q01_scan_pushdown_and_pruning(spark):
    """Predicate pushdown + column pruning must reach the parquet scan:
    the shipdate filter appears in PushedFilters and the ReadSchema keeps
    only the 7 referenced columns (no l_comment/l_orderkey)."""
    plan = _plan(spark, "q01_pricing_summary")
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines, "no parquet scan in plan"
    scan = scan_lines[0]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan
    assert "l_comment" not in scan
    assert "l_orderkey" not in scan


def test_q06_all_predicates_pushed(spark):
    """Q6's four conjunctive predicates must ALL reach the parquet scan."""
    plan = _plan(spark, "q06_forecast_revenue")
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines, "no parquet scan in plan"
    scan = scan_lines[0]
    # The rendered filter list is truncated, so assert the stable prefix
    # (all three columns present in PushedFilters) + the 4-column pruned
    # ReadSchema (no l_tax/l_returnflag/l_comment reach the reader).
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity), GreaterThanOrEqual" in scan
    )
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp" in scan
    )


def test_json_prefilter_pushes_like(spark):
    """The cheap-prefilter-then-parse shape (§4 pushdown analogue): the LIKE
    prefilter must reach the scan as a pushed StringContains filter so the
    expensive JSON path runs on surviving rows only."""
    plan = _plan(spark, "json_prefilter_then_parse")
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines and "StringContains(props,k)" in scan_lines[0].replace("'", "")


def test_salted_join_spreads_keys(spark):
    """The salted join must hash-partition on BOTH (salt, l_orderkey) —
    if the salt drops out of the join key the whole pattern is inert."""
    plan = _plan(spark, "join_salted_skew")
    assert "salt" in plan and ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan)


@pytest.mark.parametrize("name", ["flagship_balance_report", "q03_shipping_priority"])
def test_broadcast_dims_survive_aqe(spark, name):
    """AQE must not degrade dim joins to shuffles at test scale."""
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_is_shuffle_free(spark):
    """The bucketed fact-fact join must plan a SortMergeJoin with ZERO
    exchanges on either join side — the only shuffles in the whole plan are
    the final aggregation (hash) and the output sort (range). This is the
    pay-once-at-write-time co-location contract bucketing exists for."""
    plan = _plan(spark, "layout_bucketed_join")
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # agg only
    assert plan.count("Exchange rangepartitioning") == 1  # final sort only


def test_size_guard_is_jvm_side(spark):
    """P12 guard classification must stay a JVM projection over the text
    scan — no Python evaluation node anywhere, one data shuffle (the agg)."""
    plan = _plan(spark, "json_size_guard_quarantine")
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan, f"guard fell off the JVM path: {py_node}"
    assert "HashAggregate" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_lookup_enrich_prunes_columns_into_python(spark):
    """S8 lookup: only the key and value columns may cross the Arrow
    boundary — the scan must be pruned to exactly the two columns the
    enrichment needs, with MapInPandas directly above it."""
    plan = _plan(spark, "lookup_batched_mapinpandas")
    assert "MapInPandas" in plan
    assert "ReadSchema: struct<user_id:bigint,value:double>" in plan


def test_chunking_is_map_only(spark):
    """Sliding-window chunking must stay a joinless map-side fan-out: one
    Generate (the explode), zero join operators, and the only exchanges are
    the explicit REPARTITION hint and the final presentation sort."""
    plan = _plan(spark, "text_chunk_sliding")
    assert "Generate" in plan
    for join_node in ("Join", "CartesianProduct"):
        assert join_node not in plan, f"chunking grew a {join_node}"
    assert plan.count("Exchange hashpartitioning") == 0


def test_asof_tolerance_is_equi_join(spark):
    """The tolerance as-of join must meet candidates through a hash-based
    EQUI-join on (user_id, bucket) — a nested-loop or cartesian here means
    the bucketing decomposition was lost and the plan is quadratic."""
    plan = _plan(spark, "join_asof_tolerance")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_compaction_plan_reads_only_ts(spark):
    """The compaction planner aggregates file METADATA — its events scan
    must be pruned to the single ts column (reading data columns for a
    planning query would defeat the point at 100 TB)."""
    plan = _plan(spark, "layout_compaction_plan")
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines, "no parquet scan in plan"
    assert "ReadSchema: struct<ts:timestamp" in scan_lines[0]
    assert "props" not in scan_lines[0] and "value" not in scan_lines[0]


def test_ivfpq_is_hash_joins_only(spark):
    """IVFADC: every candidate/codebook meeting is an equi hash join —
    codes meet queries on the inverted-list id, codebook lookups ride a
    broadcast on (cid, s). No nested-loop anywhere."""
    plan = _plan(spark, "sim_ivfpq_topk")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_runtime_bloom_filter_prunes_fact_shuffle(spark):
    """Runtime bloom-filter join pruning (AQE runtime filters): a selective
    predicate on one join side must inject a might_contain(bloom) filter on
    the OTHER side's scan, cutting the fact shuffle before it happens — at
    100 TB this is the difference between shuffling the whole fact table
    and shuffling the matching fraction. The engine config has the feature
    on by default; the size thresholds are lowered here because the gate is
    byte-based and fixtures are small. Conf is restored afterwards."""
    restore = {}
    lowered = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the non-broadcast path
    }
    for k, v in lowered.items():
        restore[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        from rugpull_data_pipeline_spark.sources.tables import register_views

        register_views(spark, SF)
        plan = (
            spark.sql(
                """
                SELECT l_orderkey, l_extendedprice, o_orderdate
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
                """
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "might_contain" in plan, "runtime bloom filter was not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)


def test_scan_count_cap_registry_wide(spark):
    """The round-11 CTE-inlining guard, committed (round-11 verdict ask #1):
    Spark inlines WITH CTEs once per consumer, so a shared core fanning out
    to N consumers silently plans N scans of the fact table — invisible to
    the oracle gate (DuckDB materializes CTEs) and a direct input-size
    multiplier at 100 TB. After the round-11 localCheckpoint refactor the
    registry-wide invariant is: no batch query plans more than CAP (=4)
    scans of any single non-dim table (region/nation are metadata-scale by
    construction). The remaining exactly-4-scan plans are individually
    named and justified in PLANS.md ("plan-scan audit"); no allowlist is
    needed because the cap holds everywhere."""
    from tools.scan_audit import CAP, fact_scan_counts

    offenders = {}
    for name in registry.all_queries():
        if name.startswith("stream_") or "replay" in name:
            continue  # streaming builders EXECUTE queries; plan-audit n/a
        counts = fact_scan_counts(_plan(spark, name))
        worst = max(counts.values(), default=0)
        if worst > CAP:
            offenders[name] = counts
    assert not offenders, f"plans over the {CAP}-fact-scan cap: {offenders}"


def test_scan_guard_detects_inlined_class(spark):
    """Positive control for the cap test: the PRE-refactor variant of
    profile_mad_screen (its shared grid CTE inlined instead of
    checkpointed — 28 planned lineitem scans in round 11) must exceed the
    cap, proving the detector still sees the class the guard exists for."""
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.diagnostics_ops import (
        _mad_grid_core,
        _mad_screen,
    )
    from tools.scan_audit import CAP, executed_plan, fact_scan_counts

    registry._ensure_views(spark, SF)
    bad = spark.sql(_mad_screen(SPARK, grid=_mad_grid_core(SPARK)))  # inlined
    counts = fact_scan_counts(executed_plan(bad))
    assert max(counts.values(), default=0) > CAP, (
        f"known-bad inlined variant no longer detected: {counts}"
    )


def test_no_inline_or_checkpoint_fork():
    """Shared cores register through registry.pair(..., shared=...), the one
    place the materialization policy lives. A plan function that takes an
    optional ``*_src`` text (inline the core when None, read the builder's
    checkpoint otherwise) is a second copy of that policy."""
    import importlib
    import inspect
    import pkgutil

    from rugpull_data_pipeline_spark import plans

    forks = []
    for mod_info in pkgutil.iter_modules(plans.__path__):
        mod = importlib.import_module(f"{plans.__name__}.{mod_info.name}")
        for fname, fn in vars(mod).items():
            if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            forks += [
                f"{mod_info.name}.{fname}({p.name}=None)"
                for p in inspect.signature(fn).parameters.values()
                if p.name.endswith("_src") and p.default is None
            ]
    assert not forks, f"inline-or-checkpoint forks: {forks}"


# The builders that may still call localCheckpoint themselves, besides
# registry.pair (the one materialization policy for shared SQL cores).
_CHECKPOINT_ALLOWED = {
    "curation.dedup_cc_fixpoint": "fixpoint loop: its round count depends on the data",
    "mlprep_ops.graph_hits_power3": "power loop with measured lazy checkpoints (r13)",
    "pipeline_ops.sample_kcenter_coreset": "greedy loop with a measured lazy checkpoint",
    "multimodal_q.multimodal_phash_neardup": "mapInPandas kernel: no SQL text to share",
    "spark4_features.spark4_sql_scripting": "the SQL-scripting surface is the query",
    "stream_infra._flagship_e2e": "streaming: per-batch state, not a query core",
    "stream_infra._price_maint_e2e": "streaming: per-batch state, not a query core",
    "stream_infra.stream_watchlist_feedback": "streaming: per-batch state, not a query core",
}


def test_local_checkpoint_only_in_pair_and_allowlisted_builders():
    """localCheckpoint( appears in plans/ only inside registry.pair and the
    named builders above: a shared core written as a DataFrame builder with
    its own checkpoint is a second materialization policy (and a second
    copy of its oracle text)."""
    import ast
    import pathlib

    from rugpull_data_pipeline_spark import plans

    found = set()
    for path in sorted(pathlib.Path(plans.__path__[0]).glob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        outside = src
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef):
                continue
            seg = ast.get_source_segment(src, node)
            outside = outside.replace(seg, "")
            if "localCheckpoint(" in seg:
                found.add(f"{path.stem}.{node.name}")
        if "localCheckpoint(" in outside:
            found.add(f"{path.stem}:<module>")
    allowed = set(_CHECKPOINT_ALLOWED) | {"registry.pair"}
    assert found - allowed == set(), f"checkpoints outside pair: {found - allowed}"
    assert allowed - found == set(), f"stale allow-list entries: {allowed - found}"


@pytest.mark.parametrize(
    "shared",
    [
        {"a": lambda d, b: "SELECT 1 AS x"},  # unknown core
        {"a": lambda d, b: "SELECT 1 AS x", "b": lambda d: "SELECT 1 AS x"},  # later
    ],
    ids=["unknown", "later"],
)
def test_shared_core_must_read_an_earlier_core(shared):
    """A dependent core names the earlier cores it reads; naming an unknown
    or a later one fails at registration, before any builder runs."""
    with pytest.raises(ValueError, match="reads \\['b'\\]"):
        registry.pair("_bad_core_order", lambda d, a: "SELECT * FROM a", shared=shared)
    assert "_bad_core_order" not in registry._REGISTRY


# Build-time Spark jobs (sf0.001) of queries that were hand-written
# DataFrame builders: first the iterative and driver-scalar queries that
# looped on the driver (count/first/collect per round, an eager
# localCheckpoint per frame), then the shingle / LSH / prefilter queries
# that rewrote their oracle text in the DataFrame API. Run as registry.pair
# chains, their checkpointed cores and plain CTEs may not start more jobs
# than that.
_HAND_BUILDER_JOBS = {
    "graph_bfs_frontier3": 23,
    "graph_degree_assortativity": 10,
    "events_cooccurrence_lift": 5,
    "graph_sssp_bellman3": 15,
    "graph_neighbor_jaccard": 5,
    "graph_local_clustering": 8,
    "text_vocab_coverage": 3,
    "graph_pagerank_power3": 9,
    "mlprep_logreg_gd3": 9,
    "sim_pca_power1": 13,
    "sim_whiten_rerank": 13,
    "dedup_ngram_jaccard": 4,
    "dedup_cluster_neardup": 9,
    "dedup_containment_ngram": 3,
    "sim_lsh_hyperplane_ann": 6,
    "audit_ann_recall": 6,
    "audit_multiprobe_recall": 8,
    "audit_lsh_band_sensitivity": 11,
    "profile_source_vocab_overlap": 5,
    "join_bloom_prefilter": 4,
}


def _build_jobs(spark, name: str) -> int:
    """Spark jobs started while ``name``'s builder constructs its frame."""
    sc = spark.sparkContext
    registry._ensure_views(spark, SF)
    group = f"build:{name}"
    sc.setJobGroup(group, group)
    try:
        registry.get(name).builder(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(_HAND_BUILDER_JOBS))
def test_unrolled_pair_builds_start_no_more_jobs(spark, name):
    jobs = _build_jobs(spark, name)
    assert jobs <= _HAND_BUILDER_JOBS[name], f"{name}: {jobs} build jobs"
    if name == "graph_bfs_frontier3":
        # its per-hop counts run in the query, not in the build
        assert jobs < _HAND_BUILDER_JOBS[name]


def test_concurrent_pair_builds_match_sequential(spark):
    """Two threads building the same checkpointed-core chain in one session
    get the sequential answer: the cores are per-build DataFrames, never
    session-wide names one build could read from the other."""
    from concurrent.futures import ThreadPoolExecutor

    def build():
        return registry.get("graph_bfs_frontier3").builder(spark, SF).collect()

    registry._ensure_views(spark, SF)
    want = build()
    with ThreadPoolExecutor(2) as pool:
        got = [f.result() for f in [pool.submit(build) for _ in range(2)]]
    assert got == [want, want]
