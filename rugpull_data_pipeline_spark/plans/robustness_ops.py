"""Round-11 robustness tier: rank tests, sketch audits, corpus forensics.

Completes the round-11 debut window alongside ``forensics_ops``: the
nonparametric / rank-based statistics the r10 calibration tier left open
(Mann-Whitney U, survival concordance, rank-biased overlap), the two
sketch-vs-exact audits the verdict asked for (approx_percentile and
approx_count_distinct against exact grid order statistics — the audit
siblings of ``audit_ann_recall``), corpus-forensic text operators
(ingest-batch token novelty, Burrows' delta stylometry, RAKE keyphrases),
directed-graph reciprocity and rich-club structure, cohort LTV curves,
and probability-proportional-to-size systematic sampling.

Same disciplines as ``forensics_ops`` (grid-first, exact integer/decimal
arithmetic, ``_r6u`` roundings, constant-key equi-joins for fan-outs);
pair counting always rides cumulative windows over bounded grids — never
an n x n pair join (the ``eval_cliffs_delta`` pattern).

The two sketch audits are the only queries in the registry whose Spark
text differs structurally from the oracle: the sketch value itself is
merge-order-dependent, so the OUTPUT carries only the exact order
statistics both engines can agree on plus a bound-check boolean the
sketch contract guarantees; the oracle asserts the same boolean as a
literal. That is the honest way to oracle-test an approximate operator.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .analytics_ops import _weighted_edges_sql
from .diagnostics_ops import _EV_CENTS, _cents, _r6u
from .llm_ops import _word_tokens_all
from .mining_ops import _copurchase_pairs, _day_idx
from .registry import pair


# ---------------------------------------------------------------------------
# eval_mann_whitney_u — rank-sum test of purchase vs each other type
# ---------------------------------------------------------------------------


def _mwu_core(d: str) -> str:
    """The (event_type, cents, count) grid — the ONE pass over facts."""
    return f"""
        SELECT event_type, {_EV_CENTS} AS s, cast(count(*) as bigint) AS c
        FROM events WHERE value IS NOT NULL AND value >= 0
        GROUP BY event_type, {_EV_CENTS}
    """


def _mwu(d: str, g: str) -> str:
    # U from the same cumulative-window pair counting as eval_cliffs_delta
    # (never an n1 x n2 join); 2*U stays exact bigint. The tie-corrected
    # normal approximation needs sum(t^3 - t): the cube is computed in
    # bigint per grid row (safe to t ~ 2e6) and summed as decimal(38,0)
    # so fleet-scale tie masses cannot wrap. The grid is a shared core,
    # so the four downstream consumers (p/o/types/svals) don't each
    # re-scan the facts (CTE inlining planned 4 fact scans — the round-11
    # plan audit).
    return f"""
    WITH g AS ({g}),
    p AS (SELECT s, c AS cp FROM g WHERE event_type = 'purchase'),
    o AS (SELECT event_type, s, c FROM g WHERE event_type <> 'purchase'),
    types AS (
        SELECT DISTINCT event_type, 1 AS k FROM o
    ),
    svals AS (SELECT DISTINCT s, 1 AS k FROM g),
    grid AS (
        SELECT t.event_type, v.s,
            coalesce(p.cp, 0) AS pos, coalesce(o.c, 0) AS neg
        FROM types t
        JOIN svals v ON v.k = t.k
        LEFT JOIN p ON p.s = v.s
        LEFT JOIN o ON o.event_type = t.event_type AND o.s = v.s
    ),
    cum AS (
        SELECT event_type, s, pos, neg,
            cast(coalesce(sum(neg) OVER (PARTITION BY event_type
                ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) as bigint) AS neg_below,
            cast(sum(neg) OVER (PARTITION BY event_type) - neg
                - coalesce(sum(neg) OVER (PARTITION BY event_type
                    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) as bigint) AS neg_above
        FROM grid
    ),
    agg AS (
        SELECT event_type,
            {S.isum('pos', d)} AS n1, {S.isum('neg', d)} AS n2,
            {S.isum('pos * neg_below', d)} AS n_gt,
            {S.isum('pos * neg_above', d)} AS n_lt,
            {S.isum('pos * neg', d)} AS n_tie,
            cast(sum(cast((pos + neg) * (pos + neg) * (pos + neg)
                - (pos + neg) as decimal(38,0))) as double) AS tie3
        FROM cum GROUP BY event_type
    ),
    z AS (
        SELECT event_type, n1, n2, 2 * n_gt + n_tie AS u2,
            (cast(2 * n_gt + n_tie as double)
                - cast(n1 as double) * cast(n2 as double))
            / nullif(cast(2 as double) * sqrt(greatest(cast(0 as double),
                cast(n1 as double) * cast(n2 as double)
                    / cast(12 as double)
                * ((cast(n1 + n2 + 1 as double))
                    - tie3 / nullif(cast(n1 + n2 as double)
                        * cast(n1 + n2 - 1 as double),
                        cast(0 as double))))),
              cast(0 as double)) AS zval
        FROM agg WHERE n1 > 0 AND n2 > 0
    )
    SELECT event_type AS contrast_type, n1 AS n_purchase, n2 AS n_other,
        u2 AS u_doubled,
        {_r6u('zval')} AS z_stat,
        {_r6u('(cast(u2 as double) - cast(n1 as double) '
              '* cast(n2 as double)) / (cast(n1 as double) '
              '* cast(n2 as double))')} AS rank_biserial
    FROM z
    ORDER BY contrast_type
    """


pair(
    "eval_mann_whitney_u",
    _mwu,
    shared={"g": _mwu_core},
    tags=("eval", "stats"),
    doc="Mann-Whitney U rank-sum test of purchase value against each "
    "other event type: 2U stays exact bigint from the eval_cliffs_delta "
    "cumulative pair counting over the cents grid; z is the tie-corrected "
    "normal approximation (tie cubes in bigint per grid row, decimal "
    "summed). The rank-biserial effect size is 2U/(n1 n2) - 1. The grid "
    "fan-out (4 contrast types x distinct cents) is a constant-key "
    "equi-join — bounded by the value domain, not rows. The cents grid "
    "is localCheckpointed so its four consumers share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# eval_rank_biased_overlap — RBO between two part rankings
# ---------------------------------------------------------------------------


def _rbo(d: str) -> str:
    # p = 1/2 so every weight p^(d-1) is an exact power of two in IEEE
    # double (libm pow never enters); each depth term is quantized to
    # decimal(38,12) before the order-free decimal sum.
    return f"""
    WITH byqty AS (
        SELECT l_partkey, row_number() OVER (ORDER BY
            sum(cast(floor(l_quantity) as bigint)) DESC, l_partkey) AS ra
        FROM lineitem GROUP BY l_partkey
    ),
    byrev AS (
        SELECT l_partkey, row_number() OVER (ORDER BY
            {S.isum(_cents('l_extendedprice'), d)} DESC, l_partkey) AS rb
        FROM lineitem GROUP BY l_partkey
    ),
    joint AS (
        SELECT a.l_partkey, greatest(a.ra, b.rb) AS m
        FROM (SELECT * FROM byqty WHERE ra <= 50) a
        JOIN (SELECT * FROM byrev WHERE rb <= 50) b
            ON b.l_partkey = a.l_partkey
    ),
    mc AS (SELECT m, cast(count(*) as bigint) AS c, 1 AS k FROM joint
           GROUP BY m),
    dg AS (
        SELECT dep, 1 AS k FROM (SELECT 1 AS one) one_row
        {S.explode_seq('dep', '1', '50', d)}
    ),
    xd AS (
        SELECT g.dep,
            cast(coalesce(sum(CASE WHEN mc.m <= g.dep THEN mc.c END), 0)
                as bigint) AS x
        FROM dg g LEFT JOIN mc ON mc.k = g.k
        GROUP BY g.dep
    ),
    terms AS (
        SELECT dep, x,
            cast((cast(x as double) / cast(dep as double))
                / cast({S.shift_left('cast(1 as bigint)', 'dep', d)}
                    as double) as decimal(38,12)) AS term
        FROM xd
    )
    SELECT cast(50 as bigint) AS depth_k,
        cast(0.5 as double) AS p_persistence,
        {S.isum('CASE WHEN dep = 10 THEN x ELSE 0 END', d)} AS overlap_at_10,
        {S.isum('CASE WHEN dep = 50 THEN x ELSE 0 END', d)} AS overlap_at_50,
        {_r6u('cast(sum(CASE WHEN dep = 50 THEN x ELSE 0 END) as double) '
              '/ (cast(100 as double) '
              '- cast(sum(CASE WHEN dep = 50 THEN x ELSE 0 END) '
              'as double))')} AS jaccard_at_50,
        {_r6u('cast(sum(term) as double)')} AS rbo
    FROM terms
    """


pair(
    "eval_rank_biased_overlap",
    _rbo,
    tags=("eval", "stats"),
    doc="Rank-biased overlap (p = 1/2, depth 50) between the two natural "
    "part rankings — by total quantity vs by total revenue: RBO = "
    "(1-p) sum p^(d-1) |A_d n B_d| / d, the top-weighted agreement "
    "measure for comparing ranked lists (the ANN-audit sibling for "
    "rankings). Overlap-at-depth comes from one cumulative count over "
    "max(rank_a, rank_b); p = 1/2 makes every weight an exact power of "
    "two so no libm pow enters; depth terms are decimal-quantized before "
    "the order-free sum. Rankings are dimension-domain (part aggregate) "
    "row_numbers — the accepted SSSP-top-20 class.",
)


# ---------------------------------------------------------------------------
# eval_concordance_index — survival C-index on the day x decile grid
# ---------------------------------------------------------------------------


def _cindex_core(d: str) -> str:
    """The subject table (user, event flag, day, score decile) — all the
    fact scans live here, so the builder can checkpoint it once."""
    ep = S.epoch_s("ts", d)
    return f"""
    WITH fv AS (
        SELECT user_id, min({ep}) AS v
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
        SELECT e.user_id, min({ep}) AS p
        FROM events e JOIN fv ON fv.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND {ep} >= fv.v
        GROUP BY e.user_id
    ),
    mx AS (SELECT max({ep}) AS m, 1 AS k FROM events),
    clicks AS (
        SELECT fv.user_id,
            cast(coalesce(cnt.c, 0) as bigint) AS n_clicks, 1 AS k
        FROM fv LEFT JOIN (
            SELECT user_id, cast(count(*) as bigint) AS c
            FROM events WHERE event_type = 'click' GROUP BY user_id
        ) cnt ON cnt.user_id = fv.user_id
    ),
    cmax AS (SELECT max(n_clicks) AS mc, 1 AS k FROM clicks)
    SELECT fv.user_id,
        CASE WHEN fp.p IS NOT NULL THEN 1 ELSE 0 END AS ev,
        {S.idiv('(CASE WHEN fp.p IS NOT NULL THEN fp.p - fv.v '
                'ELSE mx.m - fv.v END)', '86400', d)} AS t,
        least(cast(9 as bigint), {S.idiv(
            'cl.n_clicks',
            f"greatest(cast(1 as bigint), {S.idiv('cm.mc + 1', '10', d)})",
            d)}) AS r
    FROM fv
    LEFT JOIN fp ON fp.user_id = fv.user_id
    JOIN clicks cl ON cl.user_id = fv.user_id
    JOIN mx ON mx.k = cl.k
    JOIN cmax cm ON cm.k = cl.k
    """


def _cindex(d: str, subj: str) -> str:
    # Harrell's C for view->purchase conversion with click count as the
    # risk score: concordant = higher score converts earlier. All pair
    # counting on the (day, score-band) grid via two suffix-sum windows —
    # O(days x 10) state, never an n^2 subject join. Tied event times are
    # not comparable (strict t' > t); tied scores earn half credit
    # (2*conc + ties over 2*comparable keeps it exact bigint).
    # The subject table is a shared core: CTE inlining otherwise
    # re-derives it per consumer (21 fact scans in the planned query —
    # the round-11 plan audit).
    return f"""
    WITH subj AS ({subj}),
    cells AS (
        SELECT t, r, {S.isum('ev', d)} AS dv,
            cast(count(*) as bigint) AS c
        FROM subj GROUP BY t, r
    ),
    tmax AS (SELECT max(t) AS tm, 1 AS k FROM cells),
    full_grid AS (
        SELECT tg.t, rg.r, coalesce(ce.dv, 0) AS dv, coalesce(ce.c, 0) AS c
        FROM (SELECT tt AS t, k FROM tmax
              {S.explode_seq('tt', '0', 'tm', d)}) tg
        JOIN (SELECT rr AS r, 1 AS k FROM (SELECT 1 AS one) one_row
              {S.explode_seq('rr', '0', '9', d)}) rg ON rg.k = tg.k
        LEFT JOIN cells ce ON ce.t = tg.t AND ce.r = rg.r
    ),
    b AS (
        SELECT t, r, dv, c,
            cast(coalesce(sum(c) OVER (PARTITION BY t ORDER BY r
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint) AS c_below_r
        FROM full_grid
    ),
    a AS (
        SELECT t, r, dv, c,
            cast(coalesce(sum(c_below_r) OVER (PARTITION BY r ORDER BY t
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
                as bigint) AS later_lower,
            cast(coalesce(sum(c) OVER (PARTITION BY r ORDER BY t
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
                as bigint) AS later_same,
            cast(coalesce(sum(c) OVER (ORDER BY t
                RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
                as bigint) AS later_all
        FROM b
    ),
    tot AS (
        SELECT {S.isum('dv', d)} AS n_events,
            {S.isum('dv * later_all', d)} AS comparable,
            {S.isum('dv * later_lower', d)} AS concordant,
            {S.isum('dv * later_same', d)} AS tied_score
        FROM a
    )
    SELECT (SELECT cast(count(*) as bigint) FROM subj) AS n_subjects,
        n_events, comparable, concordant, tied_score,
        {_r6u('cast(2 * concordant + tied_score as double) '
              '/ nullif(cast(2 * comparable as double), '
              'cast(0 as double))')} AS c_index
    FROM tot
    """


pair(
    "eval_concordance_index",
    _cindex,
    shared={"subj": _cindex_core},
    tags=("eval", "mlprep"),
    doc="Harrell's concordance index for view->purchase conversion with "
    "the user's click count as the risk score (higher score should "
    "convert earlier): C = (concordant + ties/2) / comparable over all "
    "event-vs-later-subject pairs. Pair counting via two suffix-sum "
    "windows on the (day, score-decile) grid — O(days x 10) cells, never "
    "an n^2 subject join; tied times excluded, tied scores half credit, "
    "2C+T over 2*comparable keeps it exact bigint. The ranking sibling "
    "of events_survival_km. The subject table is localCheckpointed so "
    "its five consumers share one derivation.",
)


# ---------------------------------------------------------------------------
# audit_quantile_sketch — approx_percentile vs exact grid order statistics
# ---------------------------------------------------------------------------

_QPCT = (25, 50, 75, 90)


_QCASES = " ".join(
    f"WHEN {pct} THEN cast({pct} as double) / cast(100 as double)"
    for pct in _QPCT
)

# Shared exact side: cents grid -> cumulative counts -> per-(type, q)
# bracketing order statistics at positions floor/ceil(q * (n - 1)).
# ``g`` (the same grid as _mwu_core) is shared: inlined, the exact side's
# consumers re-ran the fact hash-agg (4 fact scans planned — the round-11
# plan audit); the GK sketch pass itself must eat raw rows, so the Spark
# side keeps its own ``sl`` pass.
def _qsketch_exact(g: str) -> str:
    return f"""
    g AS ({g}),
    cum AS (
        SELECT event_type, s, c,
            cast(sum(c) OVER (PARTITION BY event_type ORDER BY s)
                as bigint) AS cum,
            cast(sum(c) OVER (PARTITION BY event_type) as bigint) AS n
        FROM g
    ),
    tt AS (
        SELECT event_type, max(n) AS n, 1 AS k
        FROM cum GROUP BY event_type
    ),
    qs AS ({" UNION ALL ".join(
        f"SELECT {pct} AS q_pct, 1 AS k" for pct in _QPCT)}),
    pos AS (
        SELECT t.event_type, q.q_pct, t.n,
            cast(floor((CASE q.q_pct {_QCASES} END)
                * cast(t.n - 1 as double)) as bigint) AS plo,
            cast(ceil((CASE q.q_pct {_QCASES} END)
                * cast(t.n - 1 as double)) as bigint) AS phi
        FROM tt t JOIN qs q ON q.k = t.k
    ),
    exact AS (
        SELECT p.event_type, p.q_pct, p.n,
            min(CASE WHEN cu.cum >= p.plo + 1 THEN cu.s END) AS exact_lo,
            min(CASE WHEN cu.cum >= p.phi + 1 THEN cu.s END) AS exact_hi
        FROM pos p JOIN cum cu ON cu.event_type = p.event_type
        GROUP BY p.event_type, p.q_pct, p.n
    )
"""


def _qsketch(d: str, g: str) -> str:
    if d == DUCK:
        return f"""
    WITH {_qsketch_exact(g)}
    SELECT event_type, cast(q_pct as bigint) AS q_pct, n,
        cast(exact_lo as bigint) AS exact_lo_cents,
        cast(exact_hi as bigint) AS exact_hi_cents,
        1 AS within_bound
    FROM exact
    ORDER BY event_type, q_pct
    """
    eps = "cast(10000 as double)"  # accuracy parameter -> eps = n/10000
    return f"""
    WITH sl AS (
        SELECT event_type, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    {_qsketch_exact(g)},
    ap AS (
        SELECT event_type,
            approx_percentile(s, array(0.25D, 0.5D, 0.75D, 0.9D), 10000)
                AS qarr
        FROM sl GROUP BY event_type
    ),
    apx AS (
        SELECT event_type,
            CASE qi WHEN 0 THEN 25 WHEN 1 THEN 50 WHEN 2 THEN 75
                ELSE 90 END AS q_pct,
            qv AS approx_v
        FROM ap LATERAL VIEW posexplode(qarr) t AS qi, qv
    ),
    acnt AS (
        SELECT a.event_type, a.q_pct,
            cast(sum(CASE WHEN cu.s < a.approx_v THEN cu.c ELSE 0 END)
                as bigint) AS cnt_lt,
            cast(sum(CASE WHEN cu.s <= a.approx_v THEN cu.c ELSE 0 END)
                as bigint) AS cnt_le
        FROM apx a JOIN cum cu ON cu.event_type = a.event_type
        GROUP BY a.event_type, a.q_pct
    )
    SELECT e.event_type, cast(e.q_pct as bigint) AS q_pct, e.n,
        cast(e.exact_lo as bigint) AS exact_lo_cents,
        cast(e.exact_hi as bigint) AS exact_hi_cents,
        CASE WHEN cast(ac.cnt_lt as double)
                <= (CASE e.q_pct {_QCASES} END) * cast(e.n as double)
                    + cast(e.n as double) / {eps} + cast(1 as double)
            AND cast(ac.cnt_le as double)
                >= (CASE e.q_pct {_QCASES} END) * cast(e.n as double)
                    - cast(e.n as double) / {eps} - cast(1 as double)
            THEN 1 ELSE 0 END AS within_bound
    FROM exact e
    JOIN acnt ac ON ac.event_type = e.event_type AND ac.q_pct = e.q_pct
    ORDER BY e.event_type, q_pct
    """


# ---------------------------------------------------------------------------
# audit_distinct_sketch — approx_count_distinct vs exact cardinality
# ---------------------------------------------------------------------------


def _dsketch_spark() -> str:
    return """
    SELECT event_type,
        cast(count(DISTINCT user_id) as bigint) AS exact_users,
        cast(greatest(cast(5 as bigint),
            cast(ceil(cast(count(DISTINCT user_id) as double)
                * cast(0.25 as double)) as bigint)) as bigint)
            AS abs_err_bound,
        CASE WHEN abs(approx_count_distinct(user_id)
                - count(DISTINCT user_id))
            <= greatest(cast(5 as bigint),
                cast(ceil(cast(count(DISTINCT user_id) as double)
                    * cast(0.25 as double)) as bigint))
            THEN 1 ELSE 0 END AS within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


def _dsketch_duck() -> str:
    return """
    SELECT event_type,
        cast(count(DISTINCT user_id) as bigint) AS exact_users,
        cast(greatest(cast(5 as bigint),
            cast(ceil(cast(count(DISTINCT user_id) as double)
                * cast(0.25 as double)) as bigint)) as bigint)
            AS abs_err_bound,
        1 AS within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "audit_quantile_sketch",
    _qsketch,
    shared={"g": _mwu_core},
    tags=("audit", "sketch"),
    doc="Sketch-vs-exact quantile audit: Spark's approx_percentile "
    "(GK summary, accuracy 10000) is rank-checked against the exact "
    "cumulative cents grid — the output carries the exact bracketing "
    "order statistics (engine-agreed) and a within-bound boolean the "
    "GK contract guarantees (rank error <= n/accuracy, +1 slack); "
    "the oracle asserts the boolean as a literal. The sketch VALUE "
    "never reaches the output: it is merge-order-dependent, the "
    "bound is not. Audit sibling of audit_ann_recall. Exact side is "
    "one grid window; the sketch is one pass, mergeable at any "
    "parallelism. The cents grid is localCheckpointed so the exact "
    "side shares ONE fact scan (the GK pass keeps its own raw pass).",
)


def _register_sketch_audits() -> None:
    pair(
        "audit_distinct_sketch",
        lambda d: _dsketch_spark() if d == SPARK else _dsketch_duck(),
        tags=("audit", "sketch"),
        doc="Sketch-vs-exact cardinality audit: approx_count_distinct "
        "(HyperLogLog++, rsd 5%) against exact count(DISTINCT) per event "
        "type, asserting |approx - exact| <= max(5, 25% of exact) — a "
        "5-sigma bound the HLL register maxima satisfy deterministically "
        "for a fixed dataset (register merges are commutative, unlike GK "
        "quantile merges). Output carries the exact count and the "
        "boolean; the approximate value itself stays out of the hash.",
    )


_register_sketch_audits()


# ---------------------------------------------------------------------------
# text_token_novelty — new-vocabulary rate across ingest batches
# ---------------------------------------------------------------------------


def _novelty_batch(d: str) -> str:
    batch = f"least(cast(7 as bigint), {S.idiv('doc_id * 8', 'mx + 1', d)})"
    return f"""
    mxt AS (SELECT max(doc_id) AS mx, 1 AS k FROM documents),
    db AS (
        SELECT dd.doc_id, {batch} AS batch
        FROM (SELECT doc_id, 1 AS k FROM documents) dd
        JOIN mxt ON mxt.k = dd.k
    )
    """


def _novelty_core(d: str) -> str:
    """(batch, token, count) — the only token-exploding pass."""
    return f"""
    WITH {_novelty_batch(d)},
    wta AS ({_word_tokens_all(d)})
    SELECT db.batch, w.tok, cast(count(*) as bigint) AS c
    FROM wta w JOIN db ON db.doc_id = w.doc_id
    GROUP BY db.batch, w.tok
    """


def _token_novelty(d: str, tb: str) -> str:
    # The batch-token grid is a shared core: inlined, its two consumers
    # re-run the token explode (8 documents scans planned — the round-11
    # plan audit). The cheap explode-free batch map is re-derived either
    # way.
    return f"""
    WITH {_novelty_batch(d)},
    tb AS ({tb}),
    first_seen AS (
        SELECT tok, min(batch) AS fb FROM tb GROUP BY tok
    ),
    per_batch AS (
        SELECT t.batch,
            cast(count(*) as bigint) AS vocab_types,
            {S.isum('CASE WHEN f.fb = t.batch THEN 1 ELSE 0 END', d)}
                AS new_types,
            {S.isum('t.c', d)} AS n_tokens,
            {S.isum('CASE WHEN f.fb = t.batch THEN t.c ELSE 0 END', d)}
                AS new_token_occurrences
        FROM tb t JOIN first_seen f ON f.tok = t.tok
        GROUP BY t.batch
    ),
    docs AS (
        SELECT batch, cast(count(*) as bigint) AS n_docs
        FROM db GROUP BY batch
    )
    SELECT p.batch AS ingest_batch, dc.n_docs, p.vocab_types, p.new_types,
        p.n_tokens,
        {_r6u('cast(p.new_types as double) '
              '/ cast(p.vocab_types as double)')} AS type_novelty_rate,
        {_r6u('cast(p.new_token_occurrences as double) '
              '/ cast(p.n_tokens as double)')} AS token_novelty_rate
    FROM per_batch p JOIN docs dc ON dc.batch = p.batch
    ORDER BY p.batch
    """


pair(
    "text_token_novelty",
    _token_novelty,
    shared={"tb": _novelty_core},
    tags=("text", "curation"),
    doc="Token-novelty curve across eight ingest batches (doc_id ranges — "
    "arrival order): per batch, the share of vocabulary types and token "
    "occurrences never seen in ANY earlier batch. The curve is the "
    "standard crawl-freshness/contamination diagnostic: a healthy crawl "
    "decays smoothly; a re-crawled (contaminated) batch drops to ~0. "
    "Three hash-aggs (batch-token, first-seen, rollup), all map-side "
    "combinable; nothing is quadratic in batches or tokens. The "
    "batch-token grid is localCheckpointed so the token explode runs "
    "once.",
)


# ---------------------------------------------------------------------------
# text_burrows_delta — stylometric distance between sources
# ---------------------------------------------------------------------------


def _burrows_core(d: str) -> str:
    """(source, token, count) — the only token-exploding pass."""
    return f"""
    WITH wta AS ({_word_tokens_all(d)})
    SELECT dd.source, w.tok, cast(count(*) as bigint) AS c
    FROM wta w JOIN documents dd ON dd.doc_id = w.doc_id
    GROUP BY dd.source, w.tok
    """


def _burrows(d: str, ts: str) -> str:
    # Counts-per-million are exact integers (1e6*c // n); z-scores use the
    # n-multiplied co-moment combine; per-pair |z_a - z_b| terms are
    # decimal-quantized before the order-free sum (the _dsum9 class).
    # The source-token grid is a shared core: inlined, CTE fan-out re-ran
    # the token explode 12 times (the round-11 plan audit's worst
    # offender, 8 s at sf0.1).
    return f"""
    WITH ts AS ({ts}),
    tot AS (
        SELECT source, {S.isum('c', d)} AS n, 1 AS k
        FROM ts GROUP BY source
    ),
    top AS (
        SELECT tok, 1 AS k FROM (
            SELECT tok, row_number() OVER (
                ORDER BY sum(c) DESC, tok) AS rn
            FROM ts GROUP BY tok
        ) r WHERE rn <= 30
    ),
    cpm AS (
        SELECT t.source, tp.tok,
            {S.idiv('1000000 * coalesce(x.c, 0)', 't.n', d)} AS cpm
        FROM tot t
        JOIN top tp ON tp.k = t.k
        LEFT JOIN ts x ON x.source = t.source AND x.tok = tp.tok
        WHERE t.n > 0
    ),
    st AS (
        SELECT tok, cast(count(*) as bigint) AS ns,
            {S.isum('cpm', d)} AS t1,
            cast(sum(cast(cpm as decimal(19,0)) * cpm) as double) AS t2
        FROM cpm GROUP BY tok
    ),
    z AS (
        SELECT c.source, c.tok,
            CASE WHEN cast(s.ns as double) * s.t2
                    - cast(s.t1 as double) * cast(s.t1 as double)
                    > cast(0 as double)
                THEN (cast(c.cpm as double)
                        - cast(s.t1 as double) / cast(s.ns as double))
                    / sqrt((cast(s.ns as double) * s.t2
                        - cast(s.t1 as double) * cast(s.t1 as double))
                        / (cast(s.ns as double) * cast(s.ns as double)))
                ELSE cast(0 as double) END AS zv
        FROM cpm c JOIN st s ON s.tok = c.tok
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
            cast(count(*) as bigint) AS n_terms,
            cast(sum(cast(abs(a.zv - b.zv) as decimal(38,9))) as double)
                AS zsum
        FROM z a JOIN z b
            ON b.tok = a.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_terms,
        {_r6u('zsum / cast(n_terms as double)')} AS burrows_delta
    FROM pairs
    ORDER BY source_a, source_b
    """


pair(
    "text_burrows_delta",
    _burrows,
    shared={"ts": _burrows_core},
    tags=("text", "stats"),
    doc="Burrows' delta stylometry between corpus sources: z-score the "
    "counts-per-million of the 30 most frequent tokens across sources, "
    "then delta(a,b) = mean |z_a - z_b| — the authorship-attribution "
    "classic, here a source-forensics screen (two 'different' sources "
    "with near-zero delta are the same generator — a dedup lead the "
    "content hashes miss). CPM is exact integer; the pair join fans out "
    "over sources x 30 tokens — dimension-bounded, never rows. "
    "Degenerate zero-variance tokens contribute z = 0 by definition. "
    "The source-token grid is localCheckpointed so the token explode "
    "runs once (inlined it ran 12x).",
)


# ---------------------------------------------------------------------------
# text_keyphrase_rake — RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOP = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"


def _rake_core(d: str) -> str:
    """Positional non-stopword tokens with phrase-run ids — the only
    token-exploding pass."""
    if d == SPARK:
        tokpos = f"""
        SELECT doc_id, pos, tok
        FROM (SELECT doc_id, {S.toks(SPARK)} AS tk FROM documents) b
        LATERAL VIEW posexplode(tk) t AS pos, tok
        """
    else:
        tokpos = f"""
        SELECT doc_id, pos - 1 AS pos, tok FROM (
            SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos,
                unnest(tk) AS tok
            FROM (SELECT doc_id, {S.toks(DUCK)} AS tk FROM documents) b
        ) u
        """
    return f"""
    WITH tp AS ({tokpos})
    SELECT doc_id, pos, tok,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM tp WHERE tok NOT IN {_RAKE_STOP} AND tok <> ''
    """


def _rake(d: str, nonstop: str) -> str:
    # The token-run table is a shared core: inlined, its four consumers
    # (wstat/plen/wdeg/scored) each re-ran the posexplode (the round-11
    # plan audit).
    if d == SPARK:
        phrase_agg = (
            "array_join(transform(array_sort(collect_list("
            "struct(n.pos, n.tok))), x -> x.tok), ' ')"
        )
    else:
        phrase_agg = "string_agg(n.tok, ' ' ORDER BY n.pos)"
    return f"""
    WITH nonstop AS ({nonstop}),
    wstat AS (
        SELECT tok, cast(count(*) as bigint) AS freq FROM nonstop
        GROUP BY tok
    ),
    plen AS (
        SELECT doc_id, grp, cast(count(*) as bigint) AS n_words
        FROM nonstop GROUP BY doc_id, grp
    ),
    wdeg AS (
        SELECT n.tok, {S.isum('p.n_words', d)} AS degree
        FROM nonstop n JOIN plen p
            ON p.doc_id = n.doc_id AND p.grp = n.grp
        GROUP BY n.tok
    ),
    scored AS (
        SELECT n.doc_id, n.grp,
            {phrase_agg} AS phrase,
            cast(count(*) as bigint) AS n_words,
            cast(sum(cast(cast(wd.degree as double)
                / cast(ws.freq as double) as decimal(38,9))) as double)
                AS rake_score
        FROM nonstop n
        JOIN wstat ws ON ws.tok = n.tok
        JOIN wdeg wd ON wd.tok = n.tok
        GROUP BY n.doc_id, n.grp
    ),
    agg AS (
        SELECT phrase, max(n_words) AS n_words,
            cast(count(*) as bigint) AS n_occurrences,
            max(rake_score) AS rake_score
        FROM scored GROUP BY phrase
    ),
    ranked AS (
        SELECT phrase, n_words, n_occurrences, rake_score,
            row_number() OVER (
                ORDER BY rake_score DESC, phrase) AS rn
        FROM agg
    )
    SELECT cast(rn as bigint) AS rank, phrase,
        cast(n_words as bigint) AS n_words, n_occurrences,
        {_r6u('rake_score')} AS rake_score
    FROM ranked WHERE rn <= 15
    ORDER BY rank
    """


pair(
    "text_keyphrase_rake",
    _rake,
    shared={"nonstop": _rake_core},
    tags=("text", "curation"),
    doc="RAKE keyphrase extraction: candidate phrases are maximal "
    "stopword-free token runs (gaps-and-islands on token positions — no "
    "regex splitting, so the engines cannot disagree on boundary "
    "semantics); word score = phrase-degree / frequency, phrase score = "
    "sum of member word scores (terms decimal-quantized before the sum); "
    "top-15 phrases corpus-wide with deterministic tiebreak. Everything "
    "is hash-aggs over (doc, phrase-run) keys; the only windows are "
    "per-document position row_numbers — fully distributed. The "
    "token-run table is localCheckpointed so the posexplode runs once.",
)


# ---------------------------------------------------------------------------
# graph_edge_reciprocity — directed followed-by graph reciprocity
# ---------------------------------------------------------------------------


def _reciprocity_core(d: str) -> str:
    """The directed (src, dst, weight) edge table — the ONE pass over
    the followed-by self-join."""
    return """
    WITH e AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
            ON b.l_orderkey = a.l_orderkey
            AND b.l_linenumber = a.l_linenumber + 1
        WHERE a.l_partkey <> b.l_partkey
    )
    SELECT src, dst, cast(count(*) as bigint) AS w
    FROM e GROUP BY src, dst
    """


def _reciprocity(d: str, de: str) -> str:
    # The edge table is a shared core: the reciprocity self-join
    # otherwise re-derived the lineitem self-join on both sides (4 fact
    # scans planned — the round-11 plan audit).
    return f"""
    WITH de AS ({de}),
    r AS (
        SELECT de.src, de.dst, de.w, rv.w AS w_rev
        FROM de LEFT JOIN de rv
            ON rv.src = de.dst AND rv.dst = de.src
    )
    SELECT cast(count(*) as bigint) AS n_directed_edges,
        {S.isum('w', d)} AS n_transitions,
        {S.isum('CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END', d)}
            AS n_reciprocated_edges,
        {_r6u('cast(sum(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END) '
              'as double) / cast(count(*) as double)')} AS edge_reciprocity,
        {_r6u('cast(sum(least(w, coalesce(w_rev, 0))) as double) '
              '/ cast(sum(w) as double)')} AS weighted_reciprocity
    FROM r
    """


pair(
    "graph_edge_reciprocity",
    _reciprocity,
    shared={"de": _reciprocity_core},
    tags=("graph",),
    doc="Reciprocity of the directed followed-by part graph (edge u->v "
    "when v's line follows u's within an order): share of edges whose "
    "reverse exists, and the weighted variant sum(min(w, w_rev))/sum(w). "
    "Directed complement to the undirected co-purchase family — high "
    "reciprocity = symmetric pairing (bundles), low = directional flows. "
    "The followed-by self-join fans out by lines-per-order (<= 7, "
    "schema-bounded); reciprocity check is one self equi-join on the "
    "EDGE table, already aggregated. The edge table is localCheckpointed "
    "so the lineitem self-join runs once.",
)


# ---------------------------------------------------------------------------
# graph_rich_club — rich-club coefficient of the co-purchase graph
# ---------------------------------------------------------------------------


def _rich_club(d: str, pw: str) -> str:
    # ``pw`` is shared: inlined, deg/ed/nk/ek each re-derived the
    # co-purchase self-join (14 lineitem scans planned — the round-11 plan
    # audit's worst remaining offender after the first checkpoint pass).
    ths = " UNION ALL ".join(
        f"SELECT cast({t} as bigint) AS thr, 1 AS k" for t in (1, 2, 4, 8, 16, 32)
    )
    return f"""
    WITH {_weighted_edges_sql(pw)},
    deg AS (
        SELECT src AS node, cast(count(*) as bigint) AS degree, 1 AS k
        FROM wsym GROUP BY src
    ),
    ed AS (
        SELECT p.src, p.dst, da.degree AS dsrc, db.degree AS ddst, 1 AS k
        FROM pw p
        JOIN deg da ON da.node = p.src
        JOIN deg db ON db.node = p.dst
    ),
    th AS ({ths}),
    nk AS (
        SELECT t.thr,
            {S.isum('CASE WHEN g.degree > t.thr THEN 1 ELSE 0 END', d)}
                AS n_nodes
        FROM deg g JOIN th t ON t.k = g.k
        GROUP BY t.thr
    ),
    ek AS (
        SELECT t.thr,
            {S.isum('CASE WHEN e.dsrc > t.thr AND e.ddst > t.thr '
                    'THEN 1 ELSE 0 END', d)} AS n_edges
        FROM ed e JOIN th t ON t.k = e.k
        GROUP BY t.thr
    )
    SELECT n.thr AS degree_threshold, n.n_nodes,
        coalesce(e.n_edges, 0) AS n_edges,
        {_r6u('cast(2 * coalesce(e.n_edges, 0) as double) '
              '/ nullif(cast(n.n_nodes as double) '
              '* cast(n.n_nodes - 1 as double), cast(0 as double))')}
            AS rich_club_coeff
    FROM nk n LEFT JOIN ek e ON e.thr = n.thr
    ORDER BY degree_threshold
    """


pair(
    "graph_rich_club",
    _rich_club,
    shared={"pw": _copurchase_pairs},
    tags=("graph",),
    doc="Rich-club coefficient of the co-purchase graph at degree "
    "thresholds 1..32: R(k) = 2 E_k / (N_k (N_k - 1)) where N_k = nodes "
    "of degree > k and E_k = edges among them — rising R(k) means hubs "
    "preferentially interconnect (the insider-clique shape in a "
    "token-flow graph). Both counts are conditional sums over ONE "
    "constant-key fan-out of the degree/edge tables (6 thresholds) — no "
    "per-threshold subgraph materialization. The pair-weight edge table "
    "is localCheckpointed so the co-purchase self-join runs once "
    "(inlined it ran 7x = 14 fact scans).",
)


# ---------------------------------------------------------------------------
# events_cohort_ltv — weekly-cohort cumulative value curves
# ---------------------------------------------------------------------------


def _cohort_first_day(d: str) -> str:
    """The (user, first-activity day) table — user-domain sized."""
    di = _day_idx(d)
    return f"SELECT user_id, min({di}) AS fd FROM events GROUP BY user_id"


def _cohort_ltv(d: str, f: str) -> str:
    di = _day_idx(d)
    # The first-day table is a shared core: inlined, cs and the rev
    # join each re-ran the fact hash-agg (4 fact scans planned — the
    # round-11 plan audit; rev and gm keep their own genuinely
    # distinct fact aggregates).
    return f"""
    WITH f AS ({f}),
    cs AS (
        SELECT {S.idiv('fd', '7', d)} AS cw,
            cast(count(*) as bigint) AS n_users
        FROM f GROUP BY {S.idiv('fd', '7', d)}
    ),
    rev AS (
        SELECT {S.idiv('f.fd', '7', d)} AS cw,
            {S.idiv(f'({di} - f.fd)', '7', d)} AS age_w,
            {S.isum(_EV_CENTS, d)} AS cents
        FROM events e JOIN f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
            AND e.value >= 0
        GROUP BY {S.idiv('f.fd', '7', d)}, {S.idiv(f'({di} - f.fd)', '7', d)}
    ),
    gm AS (SELECT max({di}) AS gmaxd, 1 AS k FROM events),
    grid AS (
        SELECT c.cw, c.n_users, ag.age_w, coalesce(r.cents, 0) AS cents
        FROM (SELECT cw, n_users, 1 AS k FROM cs) c
        JOIN (SELECT aw AS age_w, gmaxd, k FROM gm
              {S.explode_seq('aw', '0', S.idiv('gmaxd', '7', d), d)}) ag
            ON ag.k = c.k
        LEFT JOIN rev r ON r.cw = c.cw AND r.age_w = ag.age_w
        WHERE c.cw * 7 + ag.age_w * 7 <= ag.gmaxd
    )
    SELECT cast(cw as bigint) AS cohort_week,
        cast(age_w as bigint) AS age_weeks, n_users,
        cast(cents as bigint) AS week_cents,
        cast(sum(cents) OVER (PARTITION BY cw ORDER BY age_w) as bigint)
            AS cum_cents,
        {_r6u('cast(sum(cents) OVER (PARTITION BY cw ORDER BY age_w) '
              'as double) / cast(n_users as double) '
              '/ cast(100 as double)')} AS ltv_per_user
    FROM grid
    ORDER BY cohort_week, age_weeks
    """


pair(
    "events_cohort_ltv",
    _cohort_ltv,
    shared={"f": _cohort_first_day},
    tags=("events", "analytics"),
    doc="Weekly-cohort lifetime-value curves: users cohorted by "
    "first-activity epoch week; LTV(age) = cumulative purchase cents per "
    "cohort user at each week of age, gap-filled over the observable age "
    "grid (a cohort only gets ages its observation window actually "
    "covers — no phantom flat tail). The value sibling of "
    "events_retention_cohorts (which counts active users). Exact integer "
    "cents end-to-end; the cumulative window rides the cohort x age "
    "grid, bounded by the calendar squared, not rows. The first-day "
    "table is localCheckpointed so cs and the rev join share one "
    "derivation.",
)


# ---------------------------------------------------------------------------
# sample_pps_systematic — probability-proportional-to-size sampling
# ---------------------------------------------------------------------------


def _pps(d: str) -> str:
    h = S.portable_hash64("concat('pps:', cast(p_partkey as string))", d)
    return f"""
    WITH w AS (
        SELECT p_partkey, {_cents('p_retailprice')} AS wt, {h} AS h
        FROM part WHERE p_retailprice IS NOT NULL AND p_retailprice > 0
    ),
    cum AS (
        SELECT p_partkey, wt, h,
            cast(sum(wt) OVER (ORDER BY h, p_partkey) as bigint) AS w_hi,
            cast(sum(wt) OVER () as bigint) AS tot
        FROM w
    ),
    par AS (
        SELECT p_partkey, wt, h, w_hi, w_hi - wt AS w_lo, tot,
            greatest(cast(1 as bigint), {S.idiv('tot', '64', d)}) AS step,
            {S.idiv(f"greatest(cast(1 as bigint), {S.idiv('tot', '64', d)})",
                    '2', d)} AS start
        FROM cum
    ),
    drawn AS (
        SELECT p_partkey, wt, w_lo, w_hi, tot, step,
            (CASE WHEN w_hi >= start
                THEN {S.idiv('(w_hi - start)', 'step', d)} + 1
                ELSE 0 END)
            - (CASE WHEN w_lo >= start
                THEN {S.idiv('(w_lo - start)', 'step', d)} + 1
                ELSE 0 END) AS draws
        FROM par
    )
    SELECT p_partkey, cast(wt as bigint) AS weight_cents,
        cast(w_lo as bigint) AS cum_before,
        cast(draws as bigint) AS n_draws,
        {_r6u('cast(64 as double) * cast(wt as double) '
              '/ cast(tot as double)')} AS expected_draws
    FROM drawn WHERE draws >= 1
    ORDER BY p_partkey
    """


pair(
    "sample_pps_systematic",
    _pps,
    tags=("sample",),
    doc="Probability-proportional-to-size systematic sample of parts "
    "weighted by retail price: parts are laid on a cumulative-weight "
    "line in portable-hash order (deterministic shuffle), then 64 "
    "equally-spaced points starting at step/2 select them — large "
    "weights can earn multiple draws (reported, with the exact "
    "expectation 64 w/W). The unequal-probability companion to "
    "sample_systematic_every_k. The cumulative window runs over the "
    "part DIMENSION in hash order (the accepted dimension-domain "
    "single-partition class); everything else is per-row integer math.",
)
