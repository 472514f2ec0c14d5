"""Round-3 corpus-quality operators: intra-document repetition scoring
(Gopher-style quality rules), one BPE merge round (adjacent-pair counting —
the hot inner loop of tokenizer training), and SemDeDup-style semantic
dedup over embedding clusters.

Capability uplift mandated by BASELINE.json ("dedup, similarity search,
multimodal columns, text analysis"); no reference counterpart — the
reference's only text predicate is the instruction-log regex
(SERVER/combined_subscriber.py:120-144).

Scale notes:
- Repetition scoring is explode + two hash aggregations, both keyed by
  doc_id — the fan-out runs partition-parallel (REPARTITION before the
  explode, same rationale as llm_ops' shingle generator) and nothing ever
  joins: per-doc state only.
- BPE pair counting is one explode + one global hash aggregation with
  map-side partial combine; the shuffle moves (pair-hash, partial-count)
  rows, bounded by distinct-pair cardinality per task, never corpus size.
  The top-k is a single ordered limit over the aggregated (tiny) table.
- Semantic dedup assigns every vector to its nearest centroid (the
  all-centroids probe is definitionally k comparisons per vector; the
  centroid table broadcasts), picks one keeper per cluster, and compares
  members to their keeper only — an equi-join on the cluster id, never
  all-pairs. At web scale k grows ~sqrt(N) and the same plan holds: one
  broadcast (or shuffle) hash join on centroid_id.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import SPARK
from ..tmpdirs import scratch_dir
from .registry import pair, register

# Per-process external-path cache for the bucketed-table fixture (see
# layout_bucketed_join).
_BUCKETED_DIRS: dict[str, str] = {}

_N_CENTROIDS = 8


# ---------------------------------------------------------------------------
# Intra-document repetition score (Gopher repetition rules)
# ---------------------------------------------------------------------------


def _rep_grams(d: str) -> str:
    """(doc_id, gh) — ALL word-3-gram hashes per doc, duplicates kept
    (the whole point is counting repeats)."""
    gram_sp = S.gram_concat("toks", "i", 3)  # element access, no per-i slice alloc (r13)
    # element access, not toks[i:i+2] slicing: DuckDB list slices cost
    # O(len(list)) each -> O(tokens^2) per row on the giant-payload
    # surface's 150k-token doc (r9 sweep)
    gram_dk = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
    if d == SPARK:
        seq = "CASE WHEN size(toks) >= 3 THEN sequence(1, size(toks) - 2) ELSE array() END"
        return f"""
        SELECT doc_id, explode(transform({seq}, i -> {S.portable_hash64(gram_sp, d)})) AS gh
        FROM (SELECT /*+ REPARTITION */ doc_id, {S.toks(d)} AS toks
              FROM documents) t
        """
    return f"""
    SELECT doc_id,
        unnest(list_transform(range(1, len(toks) - 1),
                              i -> {S.portable_hash64(gram_dk, d)})) AS gh
    FROM (SELECT doc_id, {S.toks(d)} AS toks FROM documents) t
    WHERE len(toks) >= 3
    """


def _repetition(d: str) -> str:
    return f"""
    WITH grams AS ({_rep_grams(d)}),
    cnt AS (
        SELECT doc_id, gh, count(*) AS c FROM grams GROUP BY doc_id, gh
    )
    SELECT doc_id,
        {S.isum('c', d)} AS n_grams,
        cast(count(*) as bigint) AS n_distinct,
        round(1.0 - cast(count(*) as double) / sum(c), 6) AS dup_gram_ratio,
        round(cast(max(c) as double) / sum(c), 6) AS top_gram_frac,
        cast(CASE WHEN 1.0 - cast(count(*) as double) / sum(c) > 0.2
                    OR (max(c) > 1 AND cast(max(c) as double) / sum(c) > 0.1)
             THEN 1 ELSE 0 END as int) AS is_repetitive
    FROM cnt
    GROUP BY doc_id
    ORDER BY doc_id
    """


pair(
    "text_repetition_score",
    _repetition,
    tags=("text", "quality"),
    doc="Gopher-style repetition quality rule: per-doc duplicated-3-gram "
    "ratio and most-frequent-3-gram fraction, flagged at >20% dup ratio or "
    ">10% top-gram share. One explode + two doc-keyed hash aggs; no joins, "
    "no cross-doc state — embarrassingly parallel at any corpus size.",
)


# ---------------------------------------------------------------------------
# BPE merge round: corpus-wide adjacent-pair counts
# ---------------------------------------------------------------------------


def _bpe_pairs(d: str) -> str:
    if d == SPARK:
        mk = "concat_ws('|', element_at(toks, i), element_at(toks, i + 1))"
        seq = "CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1) ELSE array() END"
        pairs = f"""
        SELECT explode(transform({seq}, i -> {mk})) AS pair
        FROM (SELECT /*+ REPARTITION */ {S.toks(d)} AS toks FROM documents) t
        """
    else:
        mk = "toks[i] || '|' || toks[i + 1]"
        pairs = f"""
        SELECT unnest(list_transform(range(1, len(toks)), i -> {mk})) AS pair
        FROM (SELECT {S.toks(d)} AS toks FROM documents) t
        WHERE len(toks) >= 2
        """
    return f"""
    WITH pairs AS ({pairs}),
    cnt AS (SELECT pair, count(*) AS c FROM pairs GROUP BY pair),
    top20 AS (
        -- ordered LIMIT first (distributed TakeOrderedAndProject), THEN the
        -- rank window over 20 rows — a bare row_number() OVER (ORDER BY)
        -- would single-partition the full vocab^2 pair table.
        SELECT pair, c FROM cnt ORDER BY c DESC, pair LIMIT 20
    )
    SELECT cast(row_number() OVER (ORDER BY c DESC, pair) as int) AS rank,
        pair, cast(c as bigint) AS n_occurrences
    FROM top20
    ORDER BY rank
    """


pair(
    "text_bpe_merge_pairs",
    _bpe_pairs,
    tags=("text", "tokenizer"),
    doc="One BPE merge round — the hot inner loop of tokenizer training: "
    "corpus-wide adjacent-token-pair frequencies, top-20 merge candidates "
    "(deterministic tie-break on the pair string). One explode + one "
    "global hash agg with map-side combine; the ordered limit runs over "
    "the already-aggregated pair table, not the corpus.",
)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup within embedding clusters
# ---------------------------------------------------------------------------


def _semantic_iv(d: str) -> str:
    """(vec_id, v, n2): each embedding as its fixed-point int vector and
    squared norm — the one quantization pass."""
    if d == SPARK:
        nrm = (
            "aggregate(transform(v, x -> x * x), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
    else:
        nrm = "cast(list_sum(list_transform(v, x -> x * x)) as bigint)"
    return f"""
        SELECT vec_id, v, {nrm} AS n2
        FROM (SELECT vec_id, {S.int_vec("embedding", d)} AS v FROM embeddings) raw
    """


def _semantic_dedup(d: str, iv: str) -> str:
    if d == SPARK:
        l2 = (
            "aggregate(zip_with(p.v, c.cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
        dot = (
            "aggregate(zip_with(m.v, k.v, (x, y) -> x * y), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
    else:
        l2 = (
            "cast(list_sum(list_transform(list_zip(p.v, c.cv), "
            "s -> (s[1] - s[2]) * (s[1] - s[2]))) as bigint)"
        )
        dot = (
            "cast(list_sum(list_transform(list_zip(m.v, k.v), "
            "s -> s[1] * s[2])) as bigint)"
        )
    # nullif: a zero vector has a 0 norm — ANSI Spark THROWS on the
    # division where DuckDB returns NULL; the >= 0.95 CASE then lands in
    # ELSE (not-a-dup) identically on both engines.
    cos = (
        f"round(cast({dot} as double) / "
        f"nullif(sqrt(cast(m.n2 as double)) * sqrt(cast(k.n2 as double)), "
        f"cast(0 as double)), 6)"
    )
    # ``iv`` is shared: inlined, cents/assigned and the member/keeper join
    # sides each re-ran the vector quantization (6 fact scans planned — the
    # round-11 registry-wide plan audit).
    return f"""
    WITH iv AS ({iv}),
    cents AS (
        SELECT vec_id AS cid, v AS cv FROM iv WHERE vec_id < {_N_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, cid, d2 FROM (
            SELECT p.vec_id, c.cid, {l2} AS d2,
                row_number() OVER (
                    PARTITION BY p.vec_id
                    ORDER BY {l2}, c.cid) AS rn
            FROM iv p CROSS JOIN cents c
        ) x WHERE rn = 1
    ),
    keeper AS (
        SELECT cid, vec_id AS keep_id FROM (
            SELECT cid, vec_id,
                row_number() OVER (
                    PARTITION BY cid ORDER BY d2, vec_id) AS rn
            FROM assigned
        ) x WHERE rn = 1
    )
    SELECT a.vec_id, a.cid AS centroid_id, kk.keep_id,
        {cos} AS cos_to_keeper,
        cast(CASE WHEN {cos} >= 0.95 THEN 1 ELSE 0 END as int)
            AS is_semantic_dup
    FROM assigned a
    JOIN keeper kk ON a.cid = kk.cid
    JOIN iv m ON m.vec_id = a.vec_id
    JOIN iv k ON k.vec_id = kk.keep_id
    WHERE a.vec_id <> kk.keep_id
    ORDER BY a.vec_id
    """


# ---------------------------------------------------------------------------
# Cross-source keep-best exact dedup
# ---------------------------------------------------------------------------


def _keep_best_source(d: str) -> str:
    # Dedup key = hash of the first 8 tokens (leading-boilerplate key: docs
    # sharing a header/prefix collapse; full-text exact dedup is
    # dedup_exact_docs). Source priority: curated-ish sources win over
    # crawl-ish ones; the rank is a small CASE dim (in production a
    # broadcast priority table).
    if d == SPARK:
        prefix = f"concat_ws(' ', slice({S.toks(d)}, 1, 8))"
    else:
        prefix = f"array_to_string(({S.toks(d)})[1:8], ' ')"
    th = S.portable_hash64(prefix, d)
    prio = (
        "CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 "
        "WHEN 'src2' THEN 2 ELSE 9 END"
    )
    return f"""
    WITH hashed AS (
        SELECT doc_id, source, {th} AS th, {prio} AS prio
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, th, prio,
            row_number() OVER (
                PARTITION BY th ORDER BY prio, doc_id) AS rn,
            count(*) OVER (PARTITION BY th) AS group_n
        FROM hashed
    )
    SELECT doc_id, source, cast(group_n as bigint) AS n_copies,
        cast(CASE WHEN rn = 1 THEN 1 ELSE 0 END as int) AS keep
    FROM ranked
    WHERE group_n > 1
    ORDER BY doc_id
    """


pair(
    "dedup_keep_best_source",
    _keep_best_source,
    tags=("dedup",),
    doc="Cross-source keep-best dedup with source priority: documents "
    "sharing a leading 8-token prefix (boilerplate-header key, 60-bit "
    "hash) collapse to ONE keeper chosen by source rank (curated beats "
    "crawl), deterministic doc_id tie-break — the keep-best policy every "
    "multi-source corpus merge runs. One window shuffle on the prefix "
    "hash; emits only duplicated groups.",
)


pair(
    "dedup_semantic_cluster",
    _semantic_dedup,
    shared={"iv": _semantic_iv},
    tags=("dedup", "similarity"),
    doc="SemDeDup (Abbas et al. 2023): assign every embedding to its "
    "nearest of 8 fixed centroids (exact integer L2, deterministic "
    "tie-break), keep the member closest to each centroid, and flag other "
    "members whose cosine to their cluster's keeper is >= 0.95. Members "
    "compare only to their keeper via an equi-join on the cluster id — "
    "never all-pairs; at web scale k ~ sqrt(N) and the same single "
    "hash-join plan holds. The int-vector table is localCheckpointed so "
    "the quantization pass runs once.",
)


# ---------------------------------------------------------------------------
# Bucketed co-located join (shuffle-free big-fact join)
# ---------------------------------------------------------------------------


@register(
    "layout_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
        cast(count(*) as bigint) AS n_items,
        round(cast(sum(cast(l_extendedprice as decimal(38,9))) as double), 2)
            AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("layout", "join"),
    doc="Co-located big-fact join via bucketing: lineitem and orders are "
    "written bucketBy(8, orderkey).sortBy(orderkey), so the SortMergeJoin "
    "needs ZERO exchanges on either side (verified by "
    "tests/test_plans.py::test_bucketed_join_is_shuffle_free) — at 100 TB "
    "this is THE pattern for repeated fact-fact joins: pay the "
    "partitioning once at write time, join shuffle-free forever after. "
    "Result oracle-checked against the plain join.",
)
def layout_bucketed_join(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..sources.io import write_bucketed

    # Per-sf table names + external paths: idempotent within a session,
    # re-materialized cheaply in a fresh one (in-memory catalog). The base
    # dir is a per-PROCESS mkdtemp (cached below), NOT a fixed
    # tempdir/md5(sf_dir) name: two sessions on one host (parallel sweep
    # processes, concurrent CI) would otherwise race mode("overwrite") on
    # the same files — the round-9 ADVICE fixed-temp-path class.
    _ = tempfile  # path uniqueness comes from scratch_dir, not gettempdir
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    key = f"bucketed_{suffix}"
    if key not in _BUCKETED_DIRS:
        _BUCKETED_DIRS[key] = scratch_dir(prefix=f"rugpull_{key}_")
    base = _BUCKETED_DIRS[key]
    for tbl, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tname = f"rugpull_bkt_{tbl}_{suffix}"
        if not spark.catalog.tableExists(tname):
            write_bucketed(
                spark.table(tbl), tname, key, 8,
                path=os.path.join(base, tbl),
            )
    li = spark.table(f"rugpull_bkt_lineitem_{suffix}")
    od = spark.table(f"rugpull_bkt_orders_{suffix}")
    # merge hint: the point is the co-located SortMergeJoin, not a broadcast
    # (at real fact-fact scale neither side broadcasts anyway).
    joined = li.hint("merge").join(
        od, li.l_orderkey == od.o_orderkey
    ).where(od.o_orderstatus == "F")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,9)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Streaming session windows (oracle-backed streaming)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH s AS (
    SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 3600
             THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
g AS (
    SELECT user_id, ts,
        sum(new_s) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
    FROM s
)
SELECT user_id,
    cast(floor(epoch(min(ts))) as bigint) AS session_start,
    cast(floor(epoch(max(ts))) as bigint) + 3600 AS session_end,
    cast(count(*) as bigint) AS n_events
FROM g
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register(
    "stream_session_windows",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "window"),
    doc="Structured Streaming session_window aggregation (1-hour gap) over "
    "a deterministic file stream, complete-output memory sink — "
    "hash-compared against a gaps-and-islands SQL oracle: the streaming "
    "session-merge state machine is provably equivalent to the batch "
    "window form. Session state is per-key and merges incrementally; at "
    "scale the watermark bounds it (this replay uses complete mode so "
    "every session flushes deterministically).",
)
def stream_session_windows(spark, sf_dir):
    from pyspark.sql import functions as F

    from .stream_infra import _landed, _to_memory

    src = spark.table("events").select("user_id", "ts")
    agg = (
        _landed(src)
        .groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )
    return _to_memory(agg, "complete").orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy screen over quasi-identifier combinations)
# ---------------------------------------------------------------------------


def _k_anonymity(d: str) -> str:
    # Band floors the double directly (floor division is engine-identical
    # on negatives, unlike integer div's truncate-vs-floor split).
    band = "cast(floor(c_acctbal / cast(1000 as double)) as bigint)"
    return f"""
    WITH qi AS (
        SELECT c_nationkey AS nation, c_mktsegment AS seg,
            {band} AS bal_band
        FROM customer
    ),
    grp AS (
        SELECT nation, seg, bal_band, cast(count(*) as bigint) AS sz
        FROM qi GROUP BY nation, seg, bal_band
    ),
    ks AS (
        SELECT 2 AS k UNION ALL SELECT 5 UNION ALL SELECT 10
    ),
    tot AS (
        SELECT {S.isum('sz', d)} AS n_rows,
            cast(count(*) as bigint) AS n_groups
        FROM grp
    )
    SELECT ks.k,
        max(tot.n_groups) AS n_groups,
        {S.isum('CASE WHEN grp.sz < ks.k THEN 1 ELSE 0 END', d)}
            AS n_violating_groups,
        {S.isum('CASE WHEN grp.sz < ks.k THEN grp.sz ELSE 0 END', d)}
            AS rows_at_risk,
        round(cast({S.isum('CASE WHEN grp.sz < ks.k THEN grp.sz ELSE 0 END', d)}
            as double) / cast(max(tot.n_rows) as double), 6) AS risk_rate
    FROM grp CROSS JOIN ks CROSS JOIN tot
    GROUP BY ks.k
    ORDER BY ks.k
    """


pair(
    "quality_k_anonymity",
    _k_anonymity,
    tags=("quality", "profiling", "audit"),
    doc="k-anonymity audit over the customer quasi-identifier combination "
    "(nation, market segment, account-balance band): for k in {2,5,10}, "
    "how many QI equivalence classes have fewer than k members and how "
    "many rows those classes expose — the re-identification screen a "
    "training corpus with user-derived rows needs before release "
    "(Sweeney 2002). One hash-agg to the QI class grid; the k sweep is "
    "a 3-row cross join against that metadata-scale grid, so the audit "
    "costs one aggregation pass regardless of table size.",
)
