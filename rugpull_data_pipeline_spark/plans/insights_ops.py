"""Round-11 bank: early-registered debut queries (day-level anomaly and
PACF diagnostics, cohort/type overlap, effect sizes, corpus character
profiles, key-integrity audits, Lorenz deciles, centroid separation,
degree inequality, duplicate family sizes).

Registered one round EARLY by design: the standing rotation needs ~25
genuinely new queries per round, and after the round-10 window the r3
re-proof tier has only 13 rows left — so round 11 needs ~37 debuts.
These queries are registered now so the full-registry oracle gate and
the 13-mode degenerate matrix already certify them this round; they
enter the DRIVER window (never-driver-checked backlog) next round.

Reference anchor: the same analysis/curation surface the r9/r10 tiers
ground in the reference's per-pair state maintenance
(``SERVER/ingest_prices.py:42-55``) plus the BASELINE.json
training-data-pipeline mandate.

Determinism: the round-10 disciplines apply throughout — exact integer/
decimal co-moments (never a mid-computation double mean), ``_r6u``
floor-based half-up rounding where an exact rational can land ON the
6-dp half boundary, argmax ties on integer columns, transcendentals
9-dp-quantized into decimal(38,9) sums.

Scale notes (1000 executors / 100 TB): every query aggregates facts to
a bounded grid first (type/day, type x type, decile, label, char-class,
degree, family-size); pair expansions are grids x grids (broadcast);
the only fact-sized work is single hash-aggs with map-side combine.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import SPARK
from .diagnostics_ops import _dsum9, _r6u
from .llm_ops import _emb_dims, _word_tokens_all
from .mining_ops import _copurchase_pairs, _day_idx
from .registry import pair


def _cents(col: str) -> str:
    return f"cast(cast({col} as decimal(18,2)) * 100 as bigint)"


_EV_CENTS = "cast(floor(value * cast(100 as double)) as bigint)"


# ---------------------------------------------------------------------------
# window_anomalous_days — day-level robust z anomalies per type
# ---------------------------------------------------------------------------


def _anomalous_days(d: str) -> str:
    micro = (
        f"cast(floor(({S.davg('value', d)}) * cast(1000000 as double)"
        f" + cast(0.5 as double)) as bigint)"
    )
    return f"""
    WITH dg AS (
        SELECT event_type, {_day_idx(d)} AS day_idx, {micro} AS dmu
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {_day_idx(d)}
    ),
    st AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
            cast(sum(dmu) as decimal(20,0)) AS s,
            cast(sum(cast(dmu as decimal(19,0))
                     * cast(dmu as decimal(19,0))) as decimal(28,0)) AS q
        FROM dg GROUP BY event_type
    ),
    z AS (
        SELECT g.event_type, g.day_idx,
            (cast(g.dmu as double) - cast(t.s as double) / cast(t.n as double))
                / nullif(sqrt(
                    cast(cast(t.n as decimal(6,0)) * t.q - t.s * t.s as double)
                    / cast(nullif(t.n * (t.n - 1), 0) as double)),
                  cast(0 as double)) AS zs
        FROM dg g JOIN st t ON t.event_type = g.event_type
    )
    SELECT event_type,
        cast(count(*) as bigint) AS n_days,
        {S.isum('CASE WHEN abs(zs) > 2 THEN 1 ELSE 0 END', d)}
            AS n_anomalous,
        cast(min(CASE WHEN abs(zs) > 2 THEN day_idx END) as bigint)
            AS first_anomaly_day,
        cast(max(CASE WHEN abs(zs) > 2 THEN day_idx END) as bigint)
            AS last_anomaly_day,
        {_r6u('coalesce(max(abs(zs)), cast(0 as double))')} AS max_abs_z
    FROM z GROUP BY event_type ORDER BY event_type
    """


pair(
    "window_anomalous_days",
    _anomalous_days,
    tags=("window", "timeseries", "quality"),
    doc="Day-level anomaly screen per event type: days whose micro-unit "
    "daily mean sits beyond 2 sample standard deviations, with the "
    "variance from exact integer co-moments (the r10 "
    "window_variance_ratio discipline) and floor-based half-up output "
    "rounding. The DAY-granularity sibling of agg_zscore_outliers.",
)


# ---------------------------------------------------------------------------
# window_pacf_lag2 — partial autocorrelation via Durbin-Levinson
# ---------------------------------------------------------------------------


def _pacf2(d: str) -> str:
    micro = (
        f"cast(floor(({S.davg('value', d)}) * cast(1000000 as double)"
        f" + cast(0.5 as double)) as bigint)"
    )

    def rho(k: int) -> str:
        # autocovariance ratio at lag k over the mean-anchored series:
        # standard biased estimator, all integer co-moments:
        #   c_k = sum((x_t - m)(x_{t+k} - m)) with m = S/n folded in by
        #   multiplying through by n^2 (same algebra as window_ar1_fit).
        return f"""
    l{k} AS (
        SELECT event_type,
            cast(dmu as decimal(19,0)) AS x,
            cast(lag(dmu, {k}) OVER (
                PARTITION BY event_type ORDER BY day_idx) as decimal(19,0))
                AS xp
        FROM dg
    ),
    c{k} AS (
        SELECT event_type, cast(count(*) as bigint) AS k{k},
            cast(sum(x * xp) as decimal(38,0)) AS p{k},
            cast(sum(x) as decimal(20,0)) AS a{k},
            cast(sum(xp) as decimal(20,0)) AS b{k}
        FROM l{k} WHERE xp IS NOT NULL GROUP BY event_type
    )"""

    def cov(k: int) -> str:
        nd, sd = "cast(t.n as double)", "cast(t.s as double)"
        return (
            f"({nd} * {nd} * cast(c{k}.p{k} as double)"
            f" - {nd} * {sd} * cast(c{k}.a{k} + c{k}.b{k} as double)"
            f" + cast(c{k}.k{k} as double) * {sd} * {sd})"
            f" / ({nd} * {nd})"
        )

    return f"""
    WITH dg AS (
        SELECT event_type, {_day_idx(d)} AS day_idx, {micro} AS dmu
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {_day_idx(d)}
    ),
    st AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
            cast(sum(dmu) as decimal(20,0)) AS s,
            cast(sum(cast(dmu as decimal(19,0))
                     * cast(dmu as decimal(19,0))) as decimal(38,0)) AS q
        FROM dg GROUP BY event_type
    ),
    {rho(1)},
    {rho(2)},
    rr AS (
        SELECT t.event_type,
            t.n,
            ({cov(1)}) / nullif(
                (cast(t.n as double) * cast(t.q as double)
                 - cast(t.s as double) * cast(t.s as double))
                / (cast(t.n as double) * cast(t.n as double)),
                cast(0 as double)) AS r1,
            ({cov(2)}) / nullif(
                (cast(t.n as double) * cast(t.q as double)
                 - cast(t.s as double) * cast(t.s as double))
                / (cast(t.n as double) * cast(t.n as double)),
                cast(0 as double)) AS r2
        FROM st t
        JOIN c1 ON c1.event_type = t.event_type
        JOIN c2 ON c2.event_type = t.event_type
    )
    SELECT event_type, n AS n_days,
        {_r6u('abs(r1)')} * CASE WHEN r1 < 0 THEN -1 ELSE 1 END AS acf_1,
        {_r6u('abs(r2)')} * CASE WHEN r2 < 0 THEN -1 ELSE 1 END AS acf_2,
        {_r6u('abs((r2 - r1 * r1) / nullif(1 - r1 * r1,'
          ' cast(0 as double)))')}
            * CASE WHEN (r2 - r1 * r1) / nullif(1 - r1 * r1,
                cast(0 as double)) < 0 THEN -1 ELSE 1 END AS pacf_2
    FROM rr ORDER BY event_type
    """


pair(
    "window_pacf_lag2",
    _pacf2,
    tags=("window", "timeseries", "stats"),
    doc="Partial autocorrelation at lag 2 via Durbin-Levinson "
    "(pacf_2 = (r2 - r1^2)/(1 - r1^2)) on the micro-unit daily grid — "
    "the AR-order diagnostic that separates AR(1) from AR(2) dynamics; "
    "completes window_acf_lags / window_ar1_fit. Exact integer "
    "co-moments; sign split from |x| so the floor-based rounding stays "
    "non-negative-safe.",
)


# ---------------------------------------------------------------------------
# events_user_overlap_types — pairwise audience Jaccard between types
# ---------------------------------------------------------------------------


def _user_overlap_core(d: str) -> str:
    """The distinct (event_type, user) audience table — the ONE fact pass
    (user-domain sized, <= 5 rows per user)."""
    return "SELECT DISTINCT event_type, user_id FROM events"


def _user_overlap(d: str, ut: str) -> str:
    # The audience table is a shared core: inlined, n_t + the pair
    # self-join re-derived it (4 fact scans planned — the round-11
    # plan audit).
    return f"""
    WITH ut AS ({ut}),
    n_t AS (
        SELECT event_type, cast(count(*) as bigint) AS n_users
        FROM ut GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
            cast(count(*) as bigint) AS n_both
        FROM ut a JOIN ut b
            ON b.user_id = a.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, na.n_users AS users_a, nb.n_users AS users_b,
        p.n_both,
        round(cast(p.n_both as double)
            / cast(nullif(na.n_users + nb.n_users - p.n_both, 0) as double),
            6) AS jaccard,
        round(cast(p.n_both as double)
            / cast(nullif(least(na.n_users, nb.n_users), 0) as double), 6)
            AS containment
    FROM pairs p
    JOIN n_t na ON na.event_type = p.type_a
    JOIN n_t nb ON nb.event_type = p.type_b
    ORDER BY p.type_a, p.type_b
    """


pair(
    "events_user_overlap_types",
    _user_overlap,
    shared={"ut": _user_overlap_core},
    tags=("events", "analytics"),
    doc="Pairwise audience overlap between event types: Jaccard and "
    "containment of the user sets for every type pair with at least one "
    "shared user (zero-overlap pairs are OMITTED — the inner self-join "
    "emits no row for them, a behavior the property test pins; on the "
    "dense fixtures that is all C(5,2) pairs). One distinct-pair "
    "hash-agg, then a user-keyed equi-self-join whose fan-out is bounded "
    "by types-per-user (<= 5); output is the type grid. The audience "
    "sibling of events_cooccurrence_lift. The audience table is "
    "localCheckpointed so n_t and the pair self-join share ONE fact "
    "scan.",
)


# ---------------------------------------------------------------------------
# events_weekday_weekend_lift — calendar-seasonality contrast
# ---------------------------------------------------------------------------


def _wk_lift(d: str) -> str:
    # day_idx 0 = 1970-01-01 (Thursday); (day_idx + 4) % 7 in 0..6 with
    # 0 = Sunday, so weekend = value in (0, 6). Pure integer calendar.
    dow = f"(({_day_idx(d)} + 4) % 7)"
    return f"""
    WITH base AS (
        SELECT event_type,
            CASE WHEN {dow} IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
            {_EV_CENTS} AS c
        FROM events WHERE value IS NOT NULL
    ),
    agg AS (
        SELECT event_type, is_weekend,
            cast(count(*) as bigint) AS n, {S.isum('c', d)} AS s
        FROM base GROUP BY event_type, is_weekend
    )
    SELECT w.event_type,
        wd.n AS n_weekday, w.n AS n_weekend,
        round(cast(wd.s as double) / cast(wd.n as double) / 100, 6)
            AS mean_weekday,
        round(cast(w.s as double) / cast(w.n as double) / 100, 6)
            AS mean_weekend,
        round((cast(w.s as double) / cast(w.n as double))
            / nullif(cast(wd.s as double) / cast(wd.n as double),
                     cast(0 as double)), 6) AS value_lift,
        round((cast(w.n as double) / 2)
            / nullif(cast(wd.n as double) / 5, cast(0 as double)), 6)
            AS volume_lift_per_day
    FROM (SELECT * FROM agg WHERE is_weekend = 1) w
    JOIN (SELECT * FROM agg WHERE is_weekend = 0) wd
        ON wd.event_type = w.event_type
    ORDER BY w.event_type
    """


pair(
    "events_weekday_weekend_lift",
    _wk_lift,
    tags=("events", "analytics", "timeseries"),
    doc="Weekday-vs-weekend contrast per event type: mean value lift and "
    "per-day volume lift (weekend days / 2 vs weekday days / 5), with "
    "the day-of-week derived purely from integer epoch-day arithmetic "
    "(no timezone surface). One hash-agg to the (type, is_weekend) "
    "grid. The contrast sibling of window_seasonal_baseline.",
)


# ---------------------------------------------------------------------------
# eval_cliffs_delta — ordinal effect size with explicit tie handling
# ---------------------------------------------------------------------------


def _cliffs_delta(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT {_EV_CENTS} AS s,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    g AS (
        SELECT s, {S.isum('y', d)} AS pos,
            {S.isum('1 - y', d)} AS neg
        FROM sl GROUP BY s
    ),
    cum AS (
        SELECT s, pos, neg,
            cast(coalesce(sum(neg) OVER (
                ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) as bigint) AS neg_below,
            cast(sum(neg) OVER () - neg
                - coalesce(sum(neg) OVER (
                    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) as bigint) AS neg_above
        FROM g
    ),
    agg AS (
        SELECT {S.isum('pos', d)} AS n_pos, {S.isum('neg', d)} AS n_neg,
            {S.isum('pos * neg_below', d)} AS n_gt,
            {S.isum('pos * neg_above', d)} AS n_lt,
            {S.isum('pos * neg', d)} AS n_tie
        FROM cum
    )
    SELECT n_pos, n_neg, n_gt, n_lt, n_tie,
        round((cast(n_gt as double) - cast(n_lt as double))
            / nullif(cast(n_pos as double) * cast(n_neg as double),
                     cast(0 as double)), 6) AS cliffs_delta,
        CASE
            WHEN abs((cast(n_gt as double) - cast(n_lt as double))
                / nullif(cast(n_pos as double) * cast(n_neg as double),
                         cast(0 as double))) < 0.147 THEN 'negligible'
            WHEN abs((cast(n_gt as double) - cast(n_lt as double))
                / nullif(cast(n_pos as double) * cast(n_neg as double),
                         cast(0 as double))) < 0.33 THEN 'small'
            WHEN abs((cast(n_gt as double) - cast(n_lt as double))
                / nullif(cast(n_pos as double) * cast(n_neg as double),
                         cast(0 as double))) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
    FROM agg
    """


pair(
    "eval_cliffs_delta",
    _cliffs_delta,
    tags=("eval", "stats"),
    doc="Cliff's delta ordinal effect size between purchase and "
    "non-purchase value distributions, with EXPLICIT tie counting "
    "(delta = (#gt - #lt) / (n1 n2); ties counted, not split — the "
    "property AUC-based shortcuts get wrong) and the standard "
    "negligible/small/medium/large banding. Pure integer pair counting "
    "via cumulative windows over the bounded cents grid — never an "
    "n1 x n2 pair join.",
)


# ---------------------------------------------------------------------------
# text_stopword_profile — stopword-density histogram per source
# ---------------------------------------------------------------------------


def _stopword_profile(d: str) -> str:
    sw = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"
    return f"""
    WITH wta AS ({_word_tokens_all(d)}),
    per_doc AS (
        SELECT doc_id,
            cast(count(*) as bigint) AS n_tok,
            {S.isum(f'CASE WHEN tok IN {sw} THEN 1 ELSE 0 END', d)} AS n_sw
        FROM wta GROUP BY doc_id
    ),
    banded AS (
        SELECT dd.source,
            least(cast(4 as bigint),
                {S.idiv('5 * p.n_sw', 'p.n_tok + 1', d)}) AS band,
            p.n_sw, p.n_tok
        FROM per_doc p JOIN documents dd ON dd.doc_id = p.doc_id
    )
    SELECT source, cast(band as bigint) AS density_band,
        cast(count(*) as bigint) AS n_docs,
        {S.isum('n_sw', d)} AS stopwords,
        {S.isum('n_tok', d)} AS tokens,
        round(cast({S.isum('n_sw', d)} as double)
            / cast(nullif({S.isum('n_tok', d)}, 0) as double), 6)
            AS band_sw_ratio
    FROM banded GROUP BY source, band
    ORDER BY source, band
    """


pair(
    "text_stopword_profile",
    _stopword_profile,
    tags=("text", "quality"),
    doc="Stopword-density histogram per source: each document lands in "
    "one of five integer density bands (band = 5*sw div (tok+1)); "
    "sources whose mass sits in band 0 are typically non-English or "
    "non-prose (the CCNet-style quality signal, made distributional). "
    "One token pass + one grid agg; integer banding end-to-end.",
)


# ---------------------------------------------------------------------------
# text_char_class_profile — character-class composition per language
# ---------------------------------------------------------------------------


def _char_class(d: str) -> str:
    def cnt(pattern: str) -> str:
        if d == SPARK:
            return f"length(regexp_replace(text, '{pattern}', ''))"
        return f"length(regexp_replace(text, '{pattern}', '', 'g'))"

    return f"""
    WITH per_doc AS (
        SELECT lang,
            cast(length(text) as bigint) AS n_chars,
            cast({cnt('[^A-Za-z]')} as bigint) AS n_ascii_letter,
            cast({cnt('[^0-9]')} as bigint) AS n_digit,
            cast({cnt('[^ ]')} as bigint) AS n_space,
            cast({cnt(r'[^.,;:!?]')} as bigint) AS n_punct
        FROM documents
    )
    SELECT lang,
        {S.isum('n_chars', d)} AS chars,
        round(cast({S.isum('n_ascii_letter', d)} as double)
            / cast(nullif({S.isum('n_chars', d)}, 0) as double), 6)
            AS ascii_letter_share,
        round(cast({S.isum('n_digit', d)} as double)
            / cast(nullif({S.isum('n_chars', d)}, 0) as double), 6)
            AS digit_share,
        round(cast({S.isum('n_space', d)} as double)
            / cast(nullif({S.isum('n_chars', d)}, 0) as double), 6)
            AS space_share,
        round(cast({S.isum('n_punct', d)} as double)
            / cast(nullif({S.isum('n_chars', d)}, 0) as double), 6)
            AS punct_share,
        round(1 - cast({S.isum('n_ascii_letter + n_digit + n_space'
                               ' + n_punct', d)} as double)
            / cast(nullif({S.isum('n_chars', d)}, 0) as double), 6)
            AS other_share
    FROM per_doc GROUP BY lang ORDER BY lang
    """


pair(
    "text_char_class_profile",
    _char_class,
    tags=("text", "profiling"),
    doc="Character-class composition per language: ASCII-letter, digit, "
    "space, sentence-punctuation, and other (non-ASCII) shares — the "
    "cheap script/noise fingerprint that separates CJK from Latin "
    "sources and flags markup-heavy crawls before tokenization. "
    "Code-point counts via negated-class regex strips (the r10 "
    "dialect lesson: DuckDB needs the 'g' flag); integer until the "
    "final shares.",
)


# ---------------------------------------------------------------------------
# profile_pk_uniqueness — candidate-key integrity audit
# ---------------------------------------------------------------------------


def _pk_uniqueness(d: str) -> str:
    # Spark spells the unbounded string type `string`, DuckDB `varchar`.
    st = "string" if d == SPARK else "varchar"
    checks = [
        ("orders", "o_orderkey", f"cast(o_orderkey as {st})"),
        ("customer", "c_custkey", f"cast(c_custkey as {st})"),
        ("part", "p_partkey", f"cast(p_partkey as {st})"),
        (
            "lineitem",
            "l_orderkey,l_linenumber",
            f"cast(l_orderkey as {st}) || ':' || cast(l_linenumber as {st})",
        ),
        ("documents", "doc_id", f"cast(doc_id as {st})"),
        ("embeddings", "vec_id", f"cast(vec_id as {st})"),
        ("events", "event_id", f"cast(event_id as {st})"),
    ]
    parts = []
    for tbl, label, key in checks:
        parts.append(f"""
        SELECT '{tbl}' AS table_name, '{label}' AS key_cols,
            cast(count(*) as bigint) AS n_rows,
            cast(count(DISTINCT {key}) as bigint) AS n_distinct,
            cast(count(*) - count(DISTINCT {key}) as bigint)
                AS n_dup_rows,
            round(cast(count(DISTINCT {key}) as double)
                / cast(nullif(count(*), 0) as double), 6)
                AS uniqueness_ratio
        FROM {tbl}
        """)
    return " UNION ALL ".join(parts) + " ORDER BY table_name"


pair(
    "profile_pk_uniqueness",
    _pk_uniqueness,
    tags=("profile", "quality"),
    doc="Candidate-key uniqueness audit across all seven keyed tables "
    "(incl. the composite lineitem key): rows vs distinct keys, dup "
    "count, and the uniqueness ratio — the PRIMARY-KEY contract check "
    "whose violation the --duplicate-storm surface showed makes "
    "agg-then-join plans legitimately diverge; run it BEFORE trusting "
    "any dim join. One count-distinct per table, string-composed "
    "composite keys so both engines hash the identical value.",
)


# ---------------------------------------------------------------------------
# agg_lorenz_deciles — Lorenz curve points per market segment
# ---------------------------------------------------------------------------


def _lorenz(d: str) -> str:
    return f"""
    WITH pos AS (
        SELECT c_mktsegment AS seg, {_cents('c_acctbal')} AS v, c_custkey
        FROM customer WHERE c_acctbal > 0
    ),
    rk AS (
        SELECT seg, v,
            row_number() OVER (PARTITION BY seg ORDER BY v, c_custkey)
                AS rn,
            count(*) OVER (PARTITION BY seg) AS n,
            sum(v) OVER (PARTITION BY seg) AS tot
        FROM pos
    ),
    dec AS (
        SELECT seg, {S.idiv('10 * (rn - 1)', 'n', d)} AS decile,
            {S.isum('v', d)} AS dv, cast(max(n) as bigint) AS n,
            cast(max(tot) as bigint) AS tot
        FROM rk GROUP BY seg, {S.idiv('10 * (rn - 1)', 'n', d)}
    )
    SELECT seg, cast(decile as bigint) AS decile, n AS n_customers,
        dv AS decile_cents,
        round(cast(sum(dv) OVER w as double) / cast(tot as double), 6)
            AS cum_share
    FROM dec
    WINDOW w AS (PARTITION BY seg ORDER BY decile)
    ORDER BY seg, decile
    """


pair(
    "agg_lorenz_deciles",
    _lorenz,
    tags=("agg", "stats"),
    doc="Lorenz curve points per market segment: rank customers by "
    "positive balance (integer tie-break on the key), split into "
    "integer deciles (decile = 10*(rn-1) div n), and report each "
    "decile's CUMULATIVE share of total balance — the curve whose area "
    "agg_gini_value summarizes. Rank window + decile grid; exact "
    "integer cents until the final share.",
)


# ---------------------------------------------------------------------------
# sim_centroid_separation — intra vs inter centroid-gap audit
# ---------------------------------------------------------------------------


def _centroid_core(d: str) -> str:
    """The (label, dim, centroid-mean) grid — k x dims rows, one pass
    over the exploded embedding dims."""
    return f"""
    WITH edc AS ({_emb_dims(d)})
    SELECT label, dim,
        cast(sum(cast(v as decimal(38,9))) as double)
            / cast(count(*) as double) AS m
    FROM edc GROUP BY label, dim
    """


def _centroid_sep(d: str, cm: str) -> str:
    # The k x dims centroid grid is a shared core: inlined, its four
    # consumers (vc/cn/xc a/b) each re-derived it (7 embeddings scans
    # planned — the round-11 plan audit).
    return f"""
    WITH ed AS ({_emb_dims(d)}),
    cm AS ({cm}),
    vc AS (
        SELECT e.label, e.vec_id,
            {_dsum9('round(e.v * c.m, 9)')} AS dot,
            {_dsum9('round(e.v * e.v, 9)')} AS n2v
        FROM ed e JOIN cm c ON c.label = e.label AND c.dim = e.dim
        GROUP BY e.label, e.vec_id
    ),
    cn AS (
        SELECT label,
            sqrt(cast(sum(cast(round(m * m, 12) as decimal(38,12)))
                as double)) AS cnorm
        FROM cm GROUP BY label
    ),
    intra AS (
        SELECT v.label,
            {_dsum9('round(v.dot / nullif(sqrt(v.n2v) * c.cnorm,'
                    ' cast(0 as double)), 9)')}
                / cast(count(*) as double) AS mean_intra_cos,
            cast(count(*) as bigint) AS n_vecs
        FROM vc v JOIN cn c ON c.label = v.label
        GROUP BY v.label
    ),
    xc AS (
        SELECT a.label AS label_a, b.label AS label_b,
            {_dsum9('round(a.m * b.m, 12)')} AS cdot
        FROM cm a JOIN cm b ON b.dim = a.dim AND a.label <> b.label
        GROUP BY a.label, b.label
    ),
    inter AS (
        SELECT x.label_a AS label,
            max(x.cdot / nullif(ca.cnorm * cb.cnorm, cast(0 as double)))
                AS max_inter_cos
        FROM xc x
        JOIN cn ca ON ca.label = x.label_a
        JOIN cn cb ON cb.label = x.label_b
        GROUP BY x.label_a
    )
    SELECT i.label, i.n_vecs,
        round(i.mean_intra_cos, 6) AS mean_intra_cos,
        round(n.max_inter_cos, 6) AS max_inter_centroid_cos,
        round(i.mean_intra_cos - n.max_inter_cos, 6) AS separation_gap
    FROM intra i JOIN inter n ON n.label = i.label
    ORDER BY i.label
    """


pair(
    "sim_centroid_separation",
    _centroid_sep,
    shared={"cm": _centroid_core},
    tags=("sim",),
    doc="Cluster-separation audit per label: mean cosine of each vector "
    "to its OWN centroid vs the maximum cosine between this centroid "
    "and any OTHER centroid — a positive gap means label-blocked ANN "
    "(sim_cosine_ivf_bucketed) is safe; a negative one predicts recall "
    "loss. Per-dim grid aggregates; the inter-centroid compare is a "
    "k x k x dim grid join (bounded by the label domain); 9-dp "
    "quantization before every cross-row sum. The k x dims centroid "
    "grid is localCheckpointed so its four consumers share one "
    "derivation (inlined = 7 embeddings scans).",
)


# ---------------------------------------------------------------------------
# graph_degree_gini — inequality of the co-purchase degree distribution
# ---------------------------------------------------------------------------


def _degree_gini(d: str, pw: str) -> str:
    # ``pw`` is shared: the sym UNION reads the co-purchase pair table
    # twice, and inlined it re-derived the self-join (4 fact scans planned
    # — the round-11 plan audit).
    return f"""
    WITH pw AS ({pw}),
    sym AS (SELECT src, dst FROM pw UNION ALL SELECT dst, src FROM pw),
    deg AS (
        SELECT src AS node, cast(count(*) as bigint) AS deg
        FROM sym GROUP BY src
    ),
    rk AS (
        SELECT deg,
            cast(row_number() OVER (ORDER BY deg, node) as bigint) AS rn,
            cast(count(*) OVER () as bigint) AS n,
            cast(sum(deg) OVER () as bigint) AS tot
        FROM deg
    )
    SELECT max(n) AS n_nodes, max(tot) AS n_half_edges,
        round(cast(max(tot) as double) / cast(max(n) as double), 6)
            AS mean_degree,
        round(cast({S.isum('(2 * rn - n - 1) * deg', d)} as double)
            / (cast(max(n) as double) * cast(max(tot) as double)), 6)
            AS degree_gini
    FROM rk
    """


pair(
    "graph_degree_gini",
    _degree_gini,
    shared={"pw": _copurchase_pairs},
    tags=("graph", "stats"),
    doc="Gini coefficient of the co-purchase degree distribution via the "
    "rank formula G = sum((2 r_i - n - 1) d_i) / (n sum(d)) — the "
    "hub-concentration scalar that tells you whether degree-aware "
    "partitioning (salting the top hubs) is worth it; complements "
    "graph_degree_powerlaw's tail fit. Degrees are a node-domain grid; "
    "the rank window rides it. Integer until the final ratio. The pair "
    "table is localCheckpointed so the co-purchase self-join runs once.",
)


# ---------------------------------------------------------------------------
# dedup_doc_family_sizes — exact-duplicate family-size histogram
# ---------------------------------------------------------------------------


def _family_sizes(d: str) -> str:
    h = S.portable_hash64("text", d)
    return f"""
    WITH fam AS (
        SELECT {h} AS th, cast(count(*) as bigint) AS family_size
        FROM documents GROUP BY {h}
    )
    SELECT family_size,
        cast(count(*) as bigint) AS n_families,
        cast(family_size * count(*) as bigint) AS n_docs,
        cast((family_size - 1) * count(*) as bigint) AS removable_docs,
        round(cast(family_size * count(*) as double)
            / cast((SELECT count(*) FROM documents) as double), 6)
            AS corpus_share
    FROM fam GROUP BY family_size ORDER BY family_size
    """


pair(
    "dedup_doc_family_sizes",
    _family_sizes,
    tags=("dedup", "profiling"),
    doc="Exact-duplicate family-size histogram over the content hash: "
    "how many families of size k exist, how many documents they hold, "
    "and how many a keep-one dedup would remove — the dedup PLANNING "
    "number (dedup_exact_docs lists members; this sizes the win). The "
    "frequency-of-frequency shape on the content-hash grid; the "
    "--duplicate-storm surface pins its multiplicity behavior.",
)
