"""Round-5 feature-engineering & data-quality operators: RFM behavioral
segmentation, closed-form ridge regression, per-column completeness
profiling, and Johnson-Lindenstrauss random projection.

These are the remaining feature-store / data-quality shapes between
curation and training: segment the entities (RFM is the classic
behavioral cut — on rugpull data, wallet activity tiers), fit the cheap
linear baseline without iteration (ridge via normal equations — the
closed form the iterative ``mlprep_logreg_gd3`` is benchmarked against),
audit completeness before anything trains on a column, and reduce
embedding dimensionality ahead of the LSH/IVF retrieval stack.
Reference anchor: the pipeline's per-wallet aggregation + threshold
tiers (``RECEIVER/stage2_processing.cpp:149-434`` owner/mint rollups,
``SERVER/flightWithRedisLatest.py`` hot-set tiers) are the degenerate
RFM form; the rest is capability uplift mandated by BASELINE.json.

Cross-engine determinism (the repo's standing fp discipline): RFM bins
by the integer rows-below rule (no percentile interpolation),
completeness is pure counting, ridge/projection run on exact decimal
moment sums with one double division/sqrt at the end.

Scale notes (1000 executors / 100 TB):
- RFM: one per-user hash-agg, then three TINY distinct-metric grids
  (bounded by the metric domains) binned integer-exact and broadcast
  back onto user metrics — no global sort, no percentile shuffle.
- Ridge: ONE map-side-combinable aggregation to 9 moment sums; the 2×2
  solve is driver-free post-agg algebra. Beats 3 GD rounds at any scale
  when the feature count is tiny.
- Completeness: one aggregation computing all per-column null counts in
  a single scan, then a constant-width unpivot.
- JL projection: the 16×64 sign matrix is generated from the portable
  hash (never materialized outside the broadcast); the projection is
  one co-partitioned join + hash-agg keyed by (vec_id, out dim) — the
  same shape as sim_lsh_hyperplane_ann's bit build.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import SPARK
from .registry import pair, register
from .stats_eval import _lpa_edges


# ---------------------------------------------------------------------------
# RFM behavioral segmentation (terciles by the integer rows-below rule)
# ---------------------------------------------------------------------------

_RFM_K = 3


def _rfm_bins(metric_src: str, col: str, d: str) -> str:
    """Tercile edges for one metric: (value, bin) on the distinct grid."""
    return f"""
        SELECT v, cast(least({_RFM_K - 1},
            {S.idiv(f'cum_lt * {_RFM_K}', 'n', d)}) as int) AS bin
        FROM (
            SELECT {col} AS v, cast(sum(cnt) OVER (ORDER BY {col})
                as bigint) - cnt AS cum_lt
            FROM (SELECT {col}, count(*) AS cnt FROM {metric_src}
                  GROUP BY {col}) g
        ) cum
        CROSS JOIN (SELECT count(*) AS n FROM {metric_src}) t
    """


def _rfm_um_core(d: str) -> str:
    """The per-user (recency, frequency, monetary) table — the ONE pass
    over facts."""
    ep = S.epoch_s("ts", d)
    return f"""
        SELECT user_id,
            cast(floor((mx.m - max({ep})) / cast(86400 as double)) as bigint)
                AS recency_days,
            cast(count(*) as bigint) AS frequency,
            cast(sum(cast(floor(value * cast(100 as double)) as bigint))
                as bigint) AS monetary_cents
        FROM events CROSS JOIN (SELECT max({ep}) AS m FROM events) mx
        GROUP BY user_id, mx.m
    """


def _rfm(d: str, um: str) -> str:
    # The per-user RFM table is a shared core: inlined, the three tercile
    # builders (each a grid + a count subquery) and seg re-ran the fact
    # hash-agg (14 fact scans planned — the round-11 registry-wide plan
    # audit).
    return f"""
    WITH um AS ({um}),
    rb AS ({_rfm_bins('um', 'recency_days', d)}),
    fb AS ({_rfm_bins('um', 'frequency', d)}),
    mb AS ({_rfm_bins('um', 'monetary_cents', d)}),
    seg AS (
        -- low recency_days = MOST recent: invert so 3 = best, like F/M.
        SELECT um.user_id,
            {_RFM_K} - rb.bin AS r_score,
            fb.bin + 1 AS f_score,
            mb.bin + 1 AS m_score
        FROM um
        JOIN rb ON rb.v = um.recency_days
        JOIN fb ON fb.v = um.frequency
        JOIN mb ON mb.v = um.monetary_cents
    )
    SELECT r_score, f_score, m_score,
        cast(count(*) as bigint) AS n_users
    FROM seg
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """


pair(
    "events_rfm_segments",
    _rfm,
    shared={"um": _rfm_um_core},
    tags=("events", "mlprep"),
    doc="RFM segmentation: per-user recency/frequency/monetary terciles "
    "(3 = best), reported as segment population counts — the classic "
    "behavioral cut; on rugpull data, wallet activity tiers. One "
    "per-user hash-agg, then each tercile table is built integer-exact "
    "(rows-below * k / n on the DISTINCT metric grid — no percentile "
    "interpolation to disagree across engines) and equi-joined back by "
    "metric value. Tie values land atomically in one bin, so bins are "
    "approximately equal-frequency, exactly reproducible. The per-user "
    "RFM table is localCheckpointed so the tercile builders share ONE "
    "fact scan.",
)


# ---------------------------------------------------------------------------
# Ridge regression, closed form (normal equations on decimal moment sums)
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = "10.0"


def _ridge(d: str) -> str:
    toks = S.split_ws("text", d)
    feats = f"""
        SELECT cast(n_chars as double) AS y,
            cast({S.arr_len('toks', d)} as double) AS x1,
            cast({S.arr_len(S.arr_distinct('toks', d), d)} as double) AS x2
        FROM (SELECT n_chars, {toks} AS toks FROM documents) t
    """
    ds = lambda e: S.dsum(e, d)  # noqa: E731
    lam = f"cast({_RIDGE_LAMBDA} as double)"
    return f"""
    WITH feats AS ({feats}),
    mom AS (
        SELECT cast(count(*) as double) AS n,
            {ds('x1')} AS sx1, {ds('x2')} AS sx2, {ds('y')} AS sy,
            {ds('x1 * x1')} AS s11, {ds('x2 * x2')} AS s22,
            {ds('x1 * x2')} AS s12,
            {ds('x1 * y')} AS s1y, {ds('x2 * y')} AS s2y,
            {ds('y * y')} AS syy
        FROM feats
    ),
    ctr AS (
        -- centered second moments + ridge on the diagonal.
        SELECT n,
            s11 - sx1 * sx1 / n + {lam} AS a11,
            s22 - sx2 * sx2 / n + {lam} AS a22,
            s12 - sx1 * sx2 / n AS a12,
            s1y - sx1 * sy / n AS b1,
            s2y - sx2 * sy / n AS b2,
            syy - sy * sy / n AS styy,
            sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
        FROM mom
    ),
    sol AS (
        SELECT n, mx1, mx2, my, b1, b2, styy,
            (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS w1,
            (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS w2
        FROM ctr
    )
    SELECT round(w1, 6) AS w1, round(w2, 6) AS w2,
        round(my - w1 * mx1 - w2 * mx2, 6) AS intercept,
        -- nullif: a single doc (or constant-length corpus) has zero
        -- target variance — R^2 undefined, NULL on both engines
        round((w1 * b1 + w2 * b2) / nullif(styy, cast(0 as double)), 6)
            AS r2_explained,
        cast(n as bigint) AS n_rows
    FROM sol
    """


pair(
    "mlprep_ridge_closed_form",
    _ridge,
    tags=("mlprep",),
    doc="Ridge regression (predict n_chars from token count + distinct "
    "tokens, lambda = 10) solved in CLOSED FORM via the normal equations "
    "on exact decimal moment sums: one map-side-combinable aggregation "
    "to 10 numbers, then a 2x2 solve as post-agg algebra — no "
    "iterations, no driver round-trips, bit-identical across engines. "
    "The linear baseline mlprep_logreg_gd3's gradient loop should beat "
    "to justify its extra passes. r2_explained = w·b / Syy (the "
    "regression sum of squares share).",
)


# ---------------------------------------------------------------------------
# Per-column completeness / null profiling
# ---------------------------------------------------------------------------


def _completeness(d: str) -> str:
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = ", ".join(
        f"{S.isum(f'CASE WHEN {c} IS NULL THEN 1 ELSE 0 END', d)} AS nn_{c}"
        for c in cols
    )
    if d == SPARK:
        unpivot = (
            "stack(6, "
            + ", ".join(f"'{c}', nn_{c}" for c in cols)
            + ") AS (col_name, n_null)"
        )
        body = f"SELECT {unpivot}, n FROM agg"
    else:
        body = "\nUNION ALL\n".join(
            f"SELECT '{c}' AS col_name, nn_{c} AS n_null, n FROM agg"
            for c in cols
        )
    return f"""
    WITH agg AS (
        SELECT {aggs}, cast(count(*) as bigint) AS n FROM events
    )
    SELECT col_name, n AS n_rows, n_null,
        round(cast(n_null as double) / cast(n as double), 6) AS null_frac
    FROM ({body}) u
    ORDER BY col_name
    """


pair(
    "profile_completeness_nulls",
    _completeness,
    tags=("profiling",),
    doc="Per-column null-count / null-fraction profile of the events table "
    "— the first data-quality gate before any column feeds a feature or "
    "filter. ALL columns count in ONE scan (a single aggregation of "
    "conditional sums), then a constant-width unpivot (Spark stack "
    "generator / UNION ALL twin in the oracle dialect); output is "
    "O(columns).",
)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection 64 -> 16 dims
# ---------------------------------------------------------------------------

_JL_OUT = 16


def _jl_project(d: str) -> str:
    from .llm_ops import _emb_dims

    sign_h = S.portable_hash64(
        "concat('jl-', cast(j as string), ':', cast(dim as string))", d
    )
    if d == SPARK:
        jseq = f"SELECT explode(sequence(0, {_JL_OUT - 1})) AS j"
        dimseq = (
            "SELECT explode(sequence(1, "
            "(SELECT max(size(embedding)) FROM embeddings))) AS dim"
        )
    else:
        jseq = f"SELECT unnest(range(0, {_JL_OUT})) AS j"
        dimseq = (
            "SELECT unnest(range(1, "
            "(SELECT max(len(embedding)) FROM embeddings) + 1)) AS dim"
        )
    return f"""
    WITH emb_dims AS ({_emb_dims(d)}),
    signs AS (
        SELECT j, dim,
            CASE WHEN {sign_h} % 2 = 1 THEN 1.0 ELSE -1.0 END AS s
        FROM ({dimseq}) dims CROSS JOIN ({jseq}) js
    ),
    proj AS (
        SELECT e.vec_id, p.j,
            cast(sum(cast(e.v * p.s as decimal(38,9))) as double)
                / sqrt(cast({_JL_OUT} as double)) AS pv
        FROM emb_dims e JOIN signs p ON e.dim = p.dim
        GROUP BY e.vec_id, p.j
    )
    SELECT vec_id, j AS out_dim, round(pv, 6) AS pv
    FROM proj
    WHERE vec_id < 8
    ORDER BY vec_id, out_dim
    """


pair(
    "sim_random_projection16",
    _jl_project,
    tags=("similarity",),
    doc=f"Johnson-Lindenstrauss random projection 64 -> {_JL_OUT} dims with "
    "deterministic ±1/sqrt(k) signs from the portable hash (Achlioptas "
    "2003 database-friendly form) — the dimensionality reducer in front "
    "of the LSH/IVF retrieval stack; distances are preserved within "
    "(1±eps) whp. The sign matrix is 16x64 values broadcast from a "
    "sequence cross join (never materialized); the projection is one "
    "equi-join on the dim axis + a (vec, out-dim)-keyed hash-agg of "
    "exact decimal products — sim_lsh_hyperplane_ann's bit build, "
    "emitting magnitudes instead of signs. Output limited to 8 vectors "
    "for the artifact; the plan is identical at any corpus size.",
)


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (custom sequential operator via applyInPandas)
# ---------------------------------------------------------------------------

# alpha = beta = 0.5: multiplication by 0.5 is EXACT in IEEE doubles, so the
# Python kernel and the recursive-CTE oracle execute the identical op tree
# (halve, add) and stay bit-equal through the whole fold.

_HOLT_BUCKETS_SQL = {
    # hour-bucketed per-type means: the series length is bounded by
    # calendar hours, not input rows, at any scale.
    "spark": """
    SELECT event_type,
        cast(floor(unix_timestamp(ts) / 3600) as bigint) AS hr,
        cast(sum(cast(value as decimal(38,6))) as double)
            / cast(count(value) as double) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type, cast(floor(unix_timestamp(ts) / 3600) as bigint)
    """,
    "duck": """
    SELECT event_type,
        cast(floor(epoch(ts) / 3600) as bigint) AS hr,
        cast(sum(cast(value as decimal(38,6))) as double)
            / cast(count(value) as double) AS y
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type, cast(floor(epoch(ts) / 3600) as bigint)
    """,
}

_HOLT_ORACLE = f"""
WITH RECURSIVE buckets AS ({_HOLT_BUCKETS_SQL['duck']}),
arr AS MATERIALIZED (
    SELECT event_type,
        list(y ORDER BY hr) AS ys,
        list(hr ORDER BY hr) AS hrs,
        count(*) AS n
    FROM buckets GROUP BY event_type
),
walk AS (
    SELECT event_type, 1 AS i, ys[1] AS l, cast(0 as double) AS b
    FROM arr WHERE n >= 1
    UNION ALL
    SELECT w.event_type, w.i + 1,
        0.5 * a.ys[w.i + 1] + 0.5 * (w.l + w.b),
        0.5 * ((0.5 * a.ys[w.i + 1] + 0.5 * (w.l + w.b)) - w.l) + 0.5 * w.b
    FROM walk w JOIN arr a ON a.event_type = w.event_type
    WHERE w.i < a.n
)
SELECT w.event_type, a.hrs[w.i] AS hr,
    round(w.l, 6) AS level, round(w.b, 6) AS trend,
    round(w.l + w.b, 6) AS forecast_next
FROM walk w JOIN arr a ON a.event_type = w.event_type
ORDER BY w.event_type, hr
"""


@register(
    "window_holt_linear",
    oracle=_HOLT_ORACLE,
    tags=("window", "series", "udf"),
    doc="Holt double exponential smoothing (level + trend, alpha = beta = "
    "0.5) over hour-bucketed per-type value means — the trend-aware "
    "forecaster window_ewma_halflife cannot express (EWMA has no trend "
    "state), and a genuinely SEQUENTIAL fold Spark has no built-in for: "
    "implemented as a grouped applyInPandas kernel (one Arrow frame per "
    "type, series bounded by calendar hours). Halving is exact in IEEE, "
    "so the Python kernel and the recursive-CTE oracle execute the "
    "identical op tree and agree bit-for-bit; outputs rounded 6 dp.",
)
def window_holt_linear(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.udfs import ordered_python_stage
    from ..session import ship_package

    ship_package(spark)
    buckets = spark.sql(_HOLT_BUCKETS_SQL["spark"])
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("hr", T.LongType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("forecast_next", T.DoubleType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hr").reset_index(drop=True)
        lvl, trd = [], []
        l = b = 0.0
        for i, y in enumerate(pdf["y"]):
            y = float(y)
            if i == 0:
                l, b = y, 0.0
            else:
                nl = 0.5 * y + 0.5 * (l + b)
                b = 0.5 * (nl - l) + 0.5 * b
                l = nl
            lvl.append(l)
            trd.append(b)
        out = pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "hr": pdf["hr"],
                "level": lvl,
                "trend": trd,
            }
        )
        out["forecast_next"] = out["level"] + out["trend"]
        return out

    def kernel(b):
        return spark.sql(
            """
            SELECT event_type, hr, round(level, 6) AS level,
                round(trend, 6) AS trend,
                round(forecast_next, 6) AS forecast_next
            FROM {folded}
            """,
            folded=b.groupBy("event_type").applyInPandas(fold, schema),
        )

    return ordered_python_stage(buckets, kernel, "event_type", "hr")


# ---------------------------------------------------------------------------
# Deterministic bootstrap confidence interval (hash-Poisson resampling)
# ---------------------------------------------------------------------------

_BOOT_B = 8
# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * 1/k! partial sums),
# quantized to 12 dp literals so both engines compare against the exact
# same double constants.
_POIS_CDF = ["0.367879441171", "0.735758882343", "0.919698602929",
             "0.980988245625", "0.996340153299"]


def _bootstrap(d: str) -> str:
    u = (
        f"cast({S.portable_hash64('concat(cast(event_id as string), chr(45), cast(b as string))', d)}"
        " as double) / cast(1152921504606846976 as double)"
    )
    k = "CASE " + " ".join(
        f"WHEN u < cast({t} as double) THEN {i}"
        for i, t in enumerate(_POIS_CDF)
    ) + " ELSE 5 END"
    seq = S.explode_seq("b", "0", str(_BOOT_B - 1), d)
    return f"""
    WITH fan AS (
        SELECT b, value,
            {u} AS u
        FROM events CROSS JOIN (SELECT 1 AS one) o {seq}
        WHERE value IS NOT NULL
    ),
    weighted AS (SELECT b, value, {k} AS k FROM fan),
    res AS (
        -- one pseudo-resample mean per replicate: exact decimal sums of
        -- k-weighted values over deterministic Poisson(1) counts.
        SELECT b,
            {S.dsum('value * cast(k as double)', d)}
                / cast({S.isum('k', d)} as double) AS m
        FROM weighted GROUP BY b
    ),
    pt AS (
        SELECT {S.dsum('value', d)} / cast(count(*) as double) AS mean_value
        FROM events WHERE value IS NOT NULL
    )
    SELECT round(pt.mean_value, 6) AS mean_value,
        round(min(res.m), 6) AS boot_lo,
        round(max(res.m), 6) AS boot_hi,
        round(sqrt(greatest(
            {S.dsum('res.m * res.m', d)} / cast({_BOOT_B} as double)
            - ({S.dsum('res.m', d)} / cast({_BOOT_B} as double))
            * ({S.dsum('res.m', d)} / cast({_BOOT_B} as double)),
            cast(0 as double))), 6)
            AS boot_sd,
        cast({_BOOT_B} as int) AS n_replicates
    FROM res CROSS JOIN pt
    GROUP BY pt.mean_value
    """


pair(
    "sample_bootstrap_hash",
    _bootstrap,
    tags=("sampling", "eval"),
    doc=f"Bootstrap CI for the mean event value from {_BOOT_B} DETERMINISTIC "
    "pseudo-resamples: each (row, replicate) draws a Poisson(1) "
    "multiplicity from the portable hash through the exact inverse-CDF "
    "thresholds — the online-bootstrap trick (Oza-Russell) that replaces "
    "with-replacement sampling with independent per-row counts, needs no "
    "rand() and no global shuffle, and reproduces bit-for-bit across "
    "engines, runs, and partitionings. One fan-out x8 (map-side "
    "generator), one hash-agg per replicate, algebra on 8 means.",
)


# ---------------------------------------------------------------------------
# k-core peel (k = 2, two rounds) over the user co-occurrence graph
# ---------------------------------------------------------------------------

_KCORE_K = 2


def _kcore(d: str, edges: str) -> str:
    return f"""
    WITH edges AS ({edges}),
    sym AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg0 AS (SELECT u, count(*) AS dg FROM sym GROUP BY u),
    alive1 AS (SELECT u FROM deg0 WHERE dg >= {_KCORE_K}),
    sym1 AS (
        SELECT s.u, s.v FROM sym s
        JOIN alive1 a ON a.u = s.u
        JOIN alive1 b ON b.u = s.v
    ),
    deg1 AS (SELECT u, count(*) AS dg FROM sym1 GROUP BY u),
    core AS (SELECT u, dg FROM deg1 WHERE dg >= {_KCORE_K})
    SELECT u AS user_id, cast(dg as bigint) AS core_degree
    FROM core
    ORDER BY core_degree DESC, user_id
    LIMIT 20
    """


pair(
    "graph_kcore_peel",
    _kcore,
    shared={"edges": _lpa_edges},
    tags=("graph", "iterative"),
    doc=f"k-core peeling (k = {_KCORE_K}, one full peel round — degree, "
    "prune, re-degree) over the capped user co-occurrence graph: nodes "
    "surviving with in-core degree >= k after their weakly-attached "
    "neighbors are removed — the cohesion screen that separates organic "
    "activity clusters from star-shaped wash patterns (a hub with "
    "one-shot satellites loses its core degree when the satellites "
    "peel). Edge table localCheckpointed once, then two degree "
    "hash-aggs and two semi-join prunes, all equi-joins; top-20 by "
    "TakeOrderedAndProject.",
)
