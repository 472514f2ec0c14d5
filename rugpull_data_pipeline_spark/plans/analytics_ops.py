"""Round-9 analytics, privacy, and graph operators — the debut tier.

The standing rotation obligation (~25 genuinely new queries per round for
the driver window, see registry.driver_order) paired with the
round-8 verdict's content prescription: privacy-trio completion
(t-closeness + a k-anonymity suppression/generalization plan + DP
sensitivity budgeting), graph completion (bounded weighted shortest path,
neighborhood Jaccard, local clustering, degree power-law fit), sequence
mining (first-occurrence ordering), engagement analytics (DAU/WAU/MAU),
join-key skew + encoding layout advisors, k-fold assignment, two-round
gradient-boosted stumps, PR-AUC and label-separation KS evaluation,
seasonal-strength and realized-volatility time-series diagnostics,
sentence-length and vocabulary-coverage corpus diagnostics, source
vocabulary overlap, contrastive pair sampling, and a nearest-value 1-D
join.

Reference anchor: the reference maintains per-pair price state and
hot-set membership (``SERVER/combined_subscriber.py:86-98``,
``SERVER/ingest_prices.py:42-55``); these are the analysis/curation
shapes such state feeds, plus the training-data-pipeline uplift
BASELINE.json mandates.

Cross-engine determinism (house fp discipline): counts/checksums stay
integer; ratios of integers divide once at the end; transcendentals
(ln/exp/sqrt) run on identical doubles and their outputs are 9-dp
quantized BEFORE any cross-row sum (decimal accumulation, order-free);
argmax/argmin ties always break on an integer column.

Scale notes (1000 executors / 100 TB):
- t-closeness / suppression plan / DP sensitivity: one hash-agg to the
  QI (or user-cell) grid; the band grid expansion is an equi-join on a
  constant key (BroadcastHashJoin, never a CartesianProduct); all EMD
  arithmetic is integer until one final division.
- graph family: the co-purchase pair build is the bounded-basket
  self-equi-join of the r8 tier; Bellman-Ford/clustering/Jaccard run on
  a localCheckpointed edge set (one pair build per query) with
  dimension-sized broadcasts (frontier / hub / top-pair tables); the
  only quadratic step (pairs among a hub's neighbors) is bounded to the
  top-10 hubs and documented.
- DAU/WAU/MAU: the classic active-window expansion — each distinct
  (user, day) fans out k rows map-side (k = window length), then one
  distinct-count per day; no band join, no self-join.
- advisors/eval/stats: aggregate to a bounded grid (key, cents, hour,
  degree, dow) first; windows ride the grid, never raw rows.
- nearest-value join: both sides aggregate to their DISTINCT cents grid
  (bounded by the price domain) before the single merge window;
  production range-buckets first — documented on the query.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import SPARK
from .mining_ops import _copurchase_pairs, _daily_means, _day_idx, _pw_sym
from .registry import pair


# Decimal-cast cents quantization (NOT floor(double*100), which lands one
# cent low on non-representable 2-dp doubles — the round-9 ADVICE class).
def _cents(col: str) -> str:
    return f"cast(cast({col} as decimal(18,2)) * 100 as bigint)"


_BAND = "cast(floor(c_acctbal / cast(1000 as double)) as bigint)"


# ---------------------------------------------------------------------------
# t-closeness privacy audit (the l-diversity sibling; EMD over ordered bands)
# ---------------------------------------------------------------------------


def _t_closeness(d: str) -> str:
    # EMD between a QI group's sensitive-band distribution P and the global
    # distribution Q over the ORDERED band grid:
    #   EMD = (1/(m-1)) * sum_i |cumP_i - cumQ_i|
    # kept exact-integer until the end:
    #   cumP_i - cumQ_i = (cum_n_i * N - cum_gn_i * n_g) / (n_g * N).
    return f"""
    WITH cell AS (
        SELECT c_nationkey, c_mktsegment, {_BAND} AS band,
            cast(count(*) as bigint) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment, {_BAND}
    ),
    gband AS (
        SELECT band, 1 AS k,
            cast(sum(sum(n)) OVER (ORDER BY band) as bigint) AS cum_gn,
            cast(sum(sum(n)) OVER () as bigint) AS n_tot,
            cast(count(*) OVER () as bigint) AS m
        FROM cell GROUP BY band
    ),
    grp AS (
        SELECT c_nationkey, c_mktsegment, {S.isum('n', d)} AS ng, 1 AS k
        FROM cell GROUP BY c_nationkey, c_mktsegment
    ),
    grid AS (
        SELECT g.c_nationkey, g.c_mktsegment, g.ng,
            b.band, b.cum_gn, b.n_tot, b.m
        FROM grp g JOIN gband b ON g.k = b.k
    ),
    j AS (
        SELECT grid.c_nationkey, grid.c_mktsegment, grid.ng, grid.band,
            grid.cum_gn, grid.n_tot, grid.m, coalesce(c.n, 0) AS n
        FROM grid LEFT JOIN cell c
            ON c.c_nationkey = grid.c_nationkey
            AND c.c_mktsegment = grid.c_mktsegment
            AND c.band = grid.band
    ),
    cum AS (
        SELECT c_nationkey, c_mktsegment, ng, n_tot, m,
            cast(sum(n) OVER (
                PARTITION BY c_nationkey, c_mktsegment ORDER BY band
            ) as bigint) AS cum_n,
            cum_gn
        FROM j
    ),
    emd AS (
        SELECT c_nationkey, c_mktsegment, ng,
            coalesce(round(
                cast({S.isum('abs(cum_n * n_tot - cum_gn * ng)', d)} as double)
                / cast(ng as double) / cast(n_tot as double)
                / cast(nullif(m - 1, 0) as double), 6), cast(0 as double)) AS emd
        FROM cum GROUP BY c_nationkey, c_mktsegment, ng, n_tot, m
    )
    SELECT c_nationkey, c_mktsegment, ng AS n_rows, emd,
        CASE WHEN emd > 0.25 THEN 1 ELSE 0 END AS fails_t25
    FROM emd ORDER BY c_nationkey, c_mktsegment
    """


pair(
    "quality_t_closeness",
    _t_closeness,
    tags=("quality", "privacy", "audit"),
    doc="t-closeness audit over the (nation, segment) quasi-identifier: "
    "earth-mover's distance between each QI group's sensitive acctbal "
    "kilo-band distribution and the global one, over the ORDERED band "
    "grid (EMD = mean |cumulative difference|). Completes the privacy "
    "trio with quality_k_anonymity / quality_l_diversity. One hash-agg "
    "to the (QI, band) grid; the group x band expansion is an equi-join "
    "on a constant key (broadcast hash, never cartesian); all EMD "
    "arithmetic stays integer until one final division.",
)


# ---------------------------------------------------------------------------
# k-anonymity suppression / generalization ladder
# ---------------------------------------------------------------------------


def _k_suppression(d: str) -> str:
    levels = [
        (0, "nation,segment,band", f"c_nationkey, c_mktsegment, {_BAND}"),
        (1, "nation,segment", "c_nationkey, c_mktsegment"),
        (2, "nation", "c_nationkey"),
    ]
    parts = []
    for lvl, qi, cols in levels:
        parts.append(f"""
        SELECT cast({lvl} as bigint) AS level, '{qi}' AS qi,
            cast(count(*) as bigint) AS n_classes,
            cast(min(n) as bigint) AS min_class_size,
            {S.isum('CASE WHEN n < 5 THEN 1 ELSE 0 END', d)} AS classes_below_k5,
            {S.isum('CASE WHEN n < 5 THEN n ELSE 0 END', d)} AS rows_suppressed,
            round(cast({S.isum('CASE WHEN n >= 5 THEN n ELSE 0 END', d)} as double)
                / cast(nullif({S.isum('n', d)}, 0) as double), 6) AS share_retained
        FROM (
            SELECT cast(count(*) as bigint) AS n FROM customer GROUP BY {cols}
        ) g{lvl}
        """)
    return " UNION ALL ".join(parts) + " ORDER BY level"


pair(
    "quality_k_suppression_plan",
    _k_suppression,
    tags=("quality", "privacy", "audit"),
    doc="k-anonymity remediation plan: the generalization ladder (full QI "
    "-> drop the balance band -> nation only), and per level how many "
    "classes/rows k=5 suppression would cost — the actionable companion "
    "of quality_k_anonymity's audit. Three hash-aggs, each to its own "
    "bounded QI grid; the ladder is a 3-row union.",
)


# ---------------------------------------------------------------------------
# Differential-privacy sensitivity budgeting
# ---------------------------------------------------------------------------


def _dp_sensitivity(d: str) -> str:
    return f"""
    WITH cellg AS (
        SELECT event_type, user_id, {_day_idx(d)} AS day_idx,
            cast(count(*) as bigint) AS n
        FROM events GROUP BY event_type, user_id, {_day_idx(d)}
    ),
    ut AS (
        SELECT event_type, user_id, {S.isum('n', d)} AS n_events,
            cast(count(*) as bigint) AS n_cells,
            cast(max(n) as bigint) AS max_cell
        FROM cellg GROUP BY event_type, user_id
    )
    SELECT event_type, cast(count(*) as bigint) AS n_users,
        cast(max(n_events) as bigint) AS l1_sensitivity,
        cast(max(n_cells) as bigint) AS l0_sensitivity,
        cast(max(max_cell) as bigint) AS linf_sensitivity,
        round(cast(max(n_events) as double) * cast(count(*) as double)
            / cast(nullif({S.isum('n_events', d)}, 0) as double), 6)
            AS max_over_avg_contrib
    FROM ut GROUP BY event_type ORDER BY event_type
    """


pair(
    "quality_dp_sensitivity",
    _dp_sensitivity,
    tags=("quality", "privacy", "profiling"),
    doc="Differential-privacy sensitivity budget for the per-(type, day) "
    "count histogram under USER-level privacy: per event type the exact "
    "L1 (max events per user), L0 (max cells touched), and Linf (max "
    "per-cell contribution) sensitivities — the numbers that size "
    "Laplace/Gaussian noise and contribution clamps before any DP "
    "release. Two stacked hash-aggs on bounded grids; all integers.",
)


# ---------------------------------------------------------------------------
# Co-purchase graph helpers (weighted edges; shared by the r9 graph tier)
# ---------------------------------------------------------------------------

_W_EDGE = "greatest(cast(1 as bigint), 11 - least(cast(10 as bigint), n_orders))"


def _weighted_edges_sql(pw: str) -> str:
    """The co-purchase pair table ``pw`` (query text) plus its weighted
    symmetric edges: strong ties (many shared orders) are CHEAP
    (w = max(1, 11 - min(10, n_orders))) — affinity distance."""
    return f"""
    pw AS ({pw}),
    wsym AS (
        SELECT src, dst, {_W_EDGE} AS w FROM pw
        UNION ALL SELECT dst AS src, src AS dst, {_W_EDGE} AS w FROM pw
    )
    """


def _sssp_wsym(d: str) -> str:
    return f"WITH {_weighted_edges_sql(_copurchase_pairs(d))} SELECT src, dst, w FROM wsym"


def _sssp_round(wsym: str, prev: str) -> str:
    """One Bellman-Ford relaxation of the (node, dist) table ``prev``. The
    dist table is node-domain-bounded and broadcast (the checkpoint's size
    estimate inherits the edge self-join's), so the edge set never
    shuffles across rounds."""
    return f"""
    WITH wsym AS ({wsym}), p AS ({prev})
    SELECT node, min(dist) AS dist FROM (
        SELECT /*+ BROADCAST(p) */ e.dst AS node, p.dist + e.w AS dist
        FROM wsym e JOIN p ON p.node = e.src
        UNION ALL SELECT node, dist FROM p
    ) t GROUP BY node
    """


def _sssp(d: str, wsym: str, r0: str, r2: str) -> str:
    return f"""
    WITH r0 AS ({r0}), r3 AS ({_sssp_round(wsym, r2)})
    SELECT rn, node, dist FROM (
        SELECT r3.node, r3.dist,
            cast(row_number() OVER (ORDER BY r3.dist, r3.node) as bigint) AS rn
        FROM r3 LEFT JOIN r0 ON r0.node = r3.node
        WHERE r0.node IS NULL
    ) t WHERE rn <= 20 ORDER BY rn
    """


pair(
    "graph_sssp_bellman3",
    _sssp,
    shared={
        "wsym": _sssp_wsym,
        "r0": lambda d: "SELECT DISTINCT p_partkey AS node,"
        " cast(0 as bigint) AS dist FROM part WHERE p_size = 1",
        "r1": lambda d, wsym, r0: _sssp_round(wsym, r0),
        "r2": lambda d, wsym, r1: _sssp_round(wsym, r1),
    },
    tags=("graph", "iterative"),
    doc="Bounded weighted shortest path (3 Bellman-Ford rounds) over the "
    "co-purchase graph from the p_size=1 seed set; edge cost = "
    "max(1, 11 - min(10, shared orders)) so strong affinity is cheap. "
    "The 20 nearest non-seed parts by (dist, node). Each round is one "
    "equi-join + min-agg (the distributed Bellman-Ford step) against the "
    "node-domain-bounded dist table; the weighted edge set, the seeds and "
    "each dist table the next round reads twice are localCheckpointed, "
    "so the edge set never re-shuffles across rounds (the "
    "graph_bfs_frontier3 pattern).",
)


def _jaccard(d: str, pw: str, top: str) -> str:
    return f"""
    WITH top AS ({top}), sym AS ({_pw_sym(pw)}),
    deg AS (
        SELECT src AS node, cast(count(*) as bigint) AS deg FROM sym GROUP BY src
    ),
    inter AS (
        SELECT t.a, t.b, cast(count(*) as bigint) AS n_inter
        FROM top t
        JOIN sym s1 ON s1.src = t.a
        JOIN sym s2 ON s2.src = t.b AND s2.dst = s1.dst
        GROUP BY t.a, t.b
    )
    SELECT t.a AS part_a, t.b AS part_b, t.n_orders,
        da.deg AS deg_a, db.deg AS deg_b,
        coalesce(i.n_inter, 0) AS n_inter,
        da.deg + db.deg - coalesce(i.n_inter, 0) AS n_union,
        round(cast(coalesce(i.n_inter, 0) as double)
            / cast(nullif(da.deg + db.deg - coalesce(i.n_inter, 0), 0) as double),
            6) AS jaccard
    FROM top t
    JOIN deg da ON da.node = t.a
    JOIN deg db ON db.node = t.b
    LEFT JOIN inter i ON i.a = t.a AND i.b = t.b
    ORDER BY part_a, part_b
    """


def _jaccard_top(d: str, pw: str) -> str:
    return f"""
    SELECT src AS a, dst AS b, n_orders FROM (
        SELECT src, dst, n_orders,
            row_number() OVER (ORDER BY n_orders DESC, src, dst) AS rn
        FROM ({pw}) pw
    ) t WHERE rn <= 20
    """


pair(
    "graph_neighbor_jaccard",
    _jaccard,
    shared={"pw": _copurchase_pairs, "top": _jaccard_top},
    tags=("graph", "similarity"),
    doc="Neighborhood Jaccard similarity of the top-20 co-purchase pairs "
    "(by shared-order weight): |N(a) n N(b)| / |N(a) u N(b)| over the "
    "symmetric edge set (neighborhoods include the partner — the pairs "
    "are adjacent by construction). The link-prediction sibling of "
    "graph_adamic_adar. The pair table and the 20-pair probe are "
    "localCheckpointed ONCE each; the probe and the degree table are "
    "dimension-sized, and the intersection meet is a pure equi-join chain "
    "(src, then (src, dst)) — never quadratic in edges.",
)


def _clustering_hubs(d: str, pw: str) -> str:
    return f"""
    WITH sym AS ({_pw_sym(pw)}),
    deg AS (
        SELECT src AS node, cast(count(*) as bigint) AS deg FROM sym GROUP BY src
    )
    SELECT node, deg FROM (
        SELECT node, deg, row_number() OVER (ORDER BY deg DESC, node) AS rn
        FROM deg
    ) t WHERE rn <= 10
    """


def _clustering_nb(d: str, pw: str, hubs: str) -> str:
    return f"""
    WITH sym AS ({_pw_sym(pw)}), hubs AS ({hubs})
    SELECT h.node, s.dst AS x FROM hubs h JOIN sym s ON s.src = h.node
    """


def _clustering(d: str, pw: str, hubs: str, nb: str) -> str:
    return f"""
    WITH pw AS ({pw}), hubs AS ({hubs}), nb AS ({nb}),
    tri AS (
        SELECT n1.node, cast(count(*) as bigint) AS n_tri
        FROM nb n1
        JOIN nb n2 ON n1.node = n2.node AND n1.x < n2.x
        JOIN pw e ON e.src = n1.x AND e.dst = n2.x
        GROUP BY n1.node
    )
    SELECT h.node, h.deg, coalesce(t.n_tri, 0) AS n_tri,
        round(cast(2 * coalesce(t.n_tri, 0) as double)
            / cast(nullif(h.deg * (h.deg - 1), 0) as double), 6) AS clustering
    FROM hubs h LEFT JOIN tri t ON t.node = h.node
    ORDER BY h.deg DESC, h.node
    """


pair(
    "graph_local_clustering",
    _clustering,
    shared={"pw": _copurchase_pairs, "hubs": _clustering_hubs, "nb": _clustering_nb},
    tags=("graph", "stats"),
    doc="Local clustering coefficient of the 10 highest-degree co-purchase "
    "hubs: triangles through each hub / C(deg, 2) — the per-node "
    "complement of graph_triangle_count's global census. The one "
    "quadratic step (pairs among a hub's neighbors) is bounded to the "
    "top-10 hub neighborhoods by construction (documented; production "
    "caps or samples hub neighborhoods); the pair table, the hub table "
    "and the hub neighborhoods are localCheckpointed, and the pair probe "
    "meets the edge set through a plain (src, dst) equi-join.",
)


def _powerlaw(d: str, pw: str) -> str:
    # MLE alpha over the d >= 2 tail (alpha = 1 + n / sum ln(d/dmin)) plus
    # the OLS log-log slope of the degree pdf; ln values 9-dp quantized
    # before decimal accumulation (order-free), one division at the end.
    lx = "cast(round(ln(cast(d as double)), 9) as decimal(18,9))"
    ly = "cast(round(ln(cast(cnt as double)), 9) as decimal(18,9))"
    lxy = ("cast(round(round(ln(cast(d as double)), 9)"
           " * round(ln(cast(cnt as double)), 9), 12) as decimal(28,12))")
    lxx = ("cast(round(round(ln(cast(d as double)), 9)"
           " * round(ln(cast(d as double)), 9), 12) as decimal(28,12))")
    ltail = ("cast(cnt as decimal(18,0)) * cast(round(ln(cast(d as double)"
             " / cast(2 as double)), 9) as decimal(18,9))")
    # ``pw`` is shared: the sym UNION reads the co-purchase pair table
    # twice, and inlined it re-derived the self-join (4 fact scans planned
    # - the round-11 registry-wide plan audit).
    return f"""
    WITH pw AS ({pw}),
    sym AS (SELECT src, dst FROM pw UNION ALL SELECT dst, src FROM pw),
    deg AS (
        SELECT src AS node, cast(count(*) as bigint) AS deg FROM sym GROUP BY src
    ),
    dist AS (
        SELECT deg AS d, cast(count(*) as bigint) AS cnt FROM deg GROUP BY deg
    ),
    m AS (
        SELECT {S.isum('cnt', d)} AS n_nodes,
            cast(count(*) as bigint) AS n_degree_values,
            {S.isum('CASE WHEN d >= 2 THEN cnt ELSE 0 END', d)} AS n_tail,
            cast(sum(CASE WHEN d >= 2 THEN {ltail} END) as double) AS s_lntail,
            cast(count(*) as double) AS np,
            cast(sum({lx}) as double) AS sx,
            cast(sum({ly}) as double) AS sy,
            cast(sum({lxy}) as double) AS sxy,
            cast(sum({lxx}) as double) AS sxx
        FROM dist
    )
    SELECT n_nodes, n_degree_values, n_tail,
        round(cast(1 as double) + cast(n_tail as double)
            / nullif(s_lntail, cast(0 as double)), 6) AS alpha_mle,
        round((np * sxy - sx * sy)
            / nullif(np * sxx - sx * sx, cast(0 as double)), 6) AS ols_slope
    FROM m
    """


pair(
    "graph_degree_powerlaw",
    _powerlaw,
    shared={"pw": _copurchase_pairs},
    tags=("graph", "stats"),
    doc="Degree-distribution power-law fit of the co-purchase graph: the "
    "discrete MLE alpha = 1 + n/sum(ln(d/dmin)) over the d>=2 tail plus "
    "the OLS slope of the log-log degree pdf — the text_zipf_fit "
    "companion for graphs. Everything rides the degree-value grid "
    "(bounded by max degree); ln terms are 9-dp quantized before the "
    "decimal sums, one division per statistic at the end. The pair "
    "table is localCheckpointed so the co-purchase self-join runs once.",
)


# ---------------------------------------------------------------------------
# k-fold assignment (deterministic hash folds)
# ---------------------------------------------------------------------------


def _kfold(d: str) -> str:
    h = S.portable_hash64("cast(user_id as string)", d, seed="'fold'")
    return f"""
    SELECT ({h}) % 5 AS fold,
        cast(count(*) as bigint) AS n_events,
        cast(count(DISTINCT user_id) as bigint) AS n_users,
        round(cast({S.isum("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END", d)}
            as double) / cast(count(*) as double), 6) AS purchase_share,
        {S.isum('event_id', d)} AS event_checksum
    FROM events GROUP BY ({h}) % 5 ORDER BY fold
    """


pair(
    "mlprep_kfold_assign",
    _kfold,
    tags=("mlprep", "sampling"),
    doc="Deterministic 5-fold cross-validation assignment keyed on the "
    "portable 60-bit hash of user_id — every event of a user lands in "
    "the same fold (group-aware, the leakage guard of "
    "sample_group_holdout generalized to k folds). Per fold: sizes, "
    "label balance, and an id checksum so exact membership is graded. "
    "Map-only + one hash-agg; zero joins.",
)


# ---------------------------------------------------------------------------
# Two-round gradient-boosted stumps (squared loss)
# ---------------------------------------------------------------------------


# Sort key putting every row whose gain is within 1e-9 of the best
# (``mx``) first, so the threshold, not float noise, decides exact ties.
_NEAR_BEST = "CASE WHEN gain >= mx - 1e-9 * greatest(mx, 1.0) THEN 0 ELSE 1 END"


def _boosted_stumps(d: str) -> str:
    # Stage 1: exact best threshold on the cents grid for y ~ value
    # (variance-reduction split via integer cumulative sums). Stage 2: a
    # stump on hour-of-day fit to stage-1 residuals; residual sums are
    # reconstructed EXACTLY from per-(hour, side) integer aggregates, scaled
    # by nl*nr so they stay integers: nl*nr*(sum y - n*side_mean). Gains
    # within 1e-9 of the best are floating-point ties, broken on the
    # lowest threshold.
    return f"""
    WITH pts AS (
        SELECT {_cents('value')} AS s, cast(hour(ts) as bigint) AS hr,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    g1 AS (
        SELECT s, cast(count(*) as bigint) AS n, {S.isum('y', d)} AS sy
        FROM pts GROUP BY s
    ),
    c1 AS (
        SELECT s,
            cast(sum(n) OVER (ORDER BY s) as bigint) AS nl,
            cast(sum(sy) OVER (ORDER BY s) as bigint) AS yl,
            cast(sum(n) OVER () as bigint) AS nt,
            cast(sum(sy) OVER () as bigint) AS yt
        FROM g1
    ),
    gain1 AS (
        SELECT s, nl, yl, nt - nl AS nr, yt - yl AS yr,
            cast(yl as double) * cast(yl as double) / cast(nl as double)
            + cast(yt - yl as double) * cast(yt - yl as double)
                / cast(nt - nl as double) AS gain
        FROM c1 WHERE nl > 0 AND nt - nl > 0
    ),
    t1 AS (
        SELECT s, nl, yl, nr, yr, gain,
            cast(yl as double) / cast(nl as double) AS ml,
            cast(yr as double) / cast(nr as double) AS mr,
            1 AS k
        FROM (
            SELECT s, nl, yl, nr, yr, gain,
                row_number() OVER (ORDER BY {_NEAR_BEST}, s) AS rn
            FROM (SELECT *, max(gain) OVER () AS mx FROM gain1) m
        ) t WHERE rn = 1
    ),
    g2 AS (
        SELECT p.hr, CASE WHEN p.s <= t.s THEN 1 ELSE 0 END AS side,
            cast(count(*) as bigint) AS n2, {S.isum('p.y', d)} AS sy2,
            max(t.nl) AS nl, max(t.yl) AS yl, max(t.nr) AS nr, max(t.yr) AS yr
        FROM (SELECT s, hr, y, 1 AS k FROM pts) p
        JOIN t1 t ON p.k = t.k
        GROUP BY p.hr, CASE WHEN p.s <= t.s THEN 1 ELSE 0 END
    ),
    rh AS (
        SELECT hr,
            sum(cast(sy2 as decimal(38,0)) * nl * nr
                - cast(n2 as decimal(38,0)) * (CASE WHEN side = 1
                    THEN cast(yl as decimal(38,0)) * nr
                    ELSE cast(yr as decimal(38,0)) * nl END)) AS rsum,
            max(cast(nl as double) * cast(nr as double)) AS lz,
            {S.isum('n2', d)} AS nh
        FROM g2 GROUP BY hr
    ),
    c2 AS (
        SELECT hr, lz,
            sum(rsum) OVER (ORDER BY hr) AS rls,
            cast(sum(nh) OVER (ORDER BY hr) as bigint) AS nl2,
            sum(rsum) OVER () AS rts,
            cast(sum(nh) OVER () as bigint) AS nt2
        FROM rh
    ),
    gain2 AS (
        SELECT hr, nl2, nr2, rl, rr,
            rl * rl / cast(nl2 as double) + rr * rr / cast(nr2 as double)
                AS gain
        FROM (
            SELECT hr, nl2, nt2 - nl2 AS nr2,
                cast(rls as double) / lz AS rl,
                cast(rts - rls as double) / lz AS rr
            FROM c2 WHERE nl2 > 0 AND nt2 - nl2 > 0
        ) r
    ),
    t2 AS (
        SELECT hr, nl2, nr2, rl, rr, gain FROM (
            SELECT hr, nl2, nr2, rl, rr, gain,
                row_number() OVER (ORDER BY {_NEAR_BEST}, hr) AS rn
            FROM (SELECT *, max(gain) OVER () AS mx FROM gain2) m
        ) t WHERE rn = 1
    )
    SELECT cast(1 as bigint) AS stage, 'value_cents' AS feature,
        s AS threshold, nl AS n_left, nr AS n_right,
        round(ml, 6) AS mean_left, round(mr, 6) AS mean_right,
        round(gain, 6) AS gain
    FROM t1
    UNION ALL
    SELECT cast(2 as bigint), 'hour', hr, nl2, nr2,
        round(rl / cast(nl2 as double), 6),
        round(rr / cast(nr2 as double), 6),
        round(gain, 6)
    FROM t2
    ORDER BY stage
    """


pair(
    "mlprep_boosted_stumps2",
    _boosted_stumps,
    tags=("mlprep", "iterative"),
    doc="Two-round gradient boosting of decision stumps under squared "
    "loss: stage 1 fits the exact variance-reduction split of the "
    "purchase label on the value-cents grid (integer cumulative sums, "
    "ties broken on the threshold); stage 2 fits an hour-of-day stump "
    "to stage-1 residuals, whose sums are reconstructed exactly from "
    "per-(hour, side) INTEGER aggregates scaled by nl*nr "
    "(nl*nr*(sum y - n*mean)) and accumulated as decimal(38,0) — no "
    "per-row residual materialization, no float accumulation; gains "
    "within 1e-9 of the best tie on the threshold. The 1-row stage-1 model "
    "meets the hour grid via an equi-join on a constant key (broadcast "
    "hash). All pairwise work rides bounded grids (cents, 24 hours).",
)


# ---------------------------------------------------------------------------
# Sequential pattern mining: first-occurrence ordering support
# ---------------------------------------------------------------------------


def _seq_support(d: str) -> str:
    return f"""
    WITH ft AS (
        SELECT user_id, event_type, min({S.epoch_s('ts', d)}) AS fts
        FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
            {S.isum('''CASE WHEN a.fts < b.fts
                OR (a.fts = b.fts AND a.event_type < b.event_type)
                THEN 1 ELSE 0 END''', d)} AS n_seq,
            cast(count(*) as bigint) AS n_both
        FROM ft a JOIN ft b
            ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_seq, n_both,
        round(cast(n_seq as double) / cast(nullif(n_both, 0) as double), 6)
            AS seq_share
    FROM pairs ORDER BY type_a, type_b
    """


pair(
    "events_sequential_support",
    _seq_support,
    tags=("events", "mining"),
    doc="Sequential pattern support with UNLIMITED gap: for each ordered "
    "type pair (a, b), how many users first saw a strictly before first "
    "seeing b (first-occurrence ordering; epoch-second ties break on "
    "the type name) — the any-gap complement of events_path_trigrams' "
    "consecutive paths and events_transition_matrix's Markov steps. One "
    "hash-agg to the (user, type) first-seen grid, then a self-equi-"
    "join on user whose fan-out is bounded by the type domain.",
)


# ---------------------------------------------------------------------------
# DAU / WAU / MAU engagement
# ---------------------------------------------------------------------------


def _dau_ud_core(d: str) -> str:
    """The distinct (user, day) activity grid — the ONE fact pass."""
    return f"SELECT DISTINCT user_id, {_day_idx(d)} AS day_idx FROM events"


def _dau_wau_mau(d: str, ud: str) -> str:
    # The activity grid is a shared core: inlined, spine/dau/w7/m30
    # each re-ran the fact distinct (5 fact scans planned — the
    # round-11 registry-wide plan audit).
    return f"""
    WITH ud AS ({ud}),
    spine AS (SELECT DISTINCT day_idx FROM ud),
    dau AS (
        SELECT day_idx, cast(count(*) as bigint) AS dau FROM ud GROUP BY day_idx
    ),
    w7 AS (
        SELECT t.day_idx + t.k AS day_idx, t.user_id
        FROM (SELECT user_id, day_idx, k FROM ud {S.explode_seq('k', '0', '6', d)}) t
    ),
    wau AS (
        SELECT w.day_idx, cast(count(DISTINCT w.user_id) as bigint) AS wau
        FROM w7 w JOIN spine sp ON sp.day_idx = w.day_idx
        GROUP BY w.day_idx
    ),
    m30 AS (
        SELECT t.day_idx + t.k AS day_idx, t.user_id
        FROM (SELECT user_id, day_idx, k FROM ud {S.explode_seq('k', '0', '29', d)}) t
    ),
    mau AS (
        SELECT m.day_idx, cast(count(DISTINCT m.user_id) as bigint) AS mau
        FROM m30 m JOIN spine sp ON sp.day_idx = m.day_idx
        GROUP BY m.day_idx
    )
    SELECT d.day_idx, d.dau, w.wau, m.mau,
        round(cast(d.dau as double) / cast(nullif(w.wau, 0) as double), 6)
            AS stickiness
    FROM dau d JOIN wau w ON w.day_idx = d.day_idx
    JOIN mau m ON m.day_idx = d.day_idx
    ORDER BY d.day_idx
    """


pair(
    "events_dau_wau_mau",
    _dau_wau_mau,
    shared={"ud": _dau_ud_core},
    tags=("events", "analytics"),
    doc="DAU / WAU / MAU engagement with the DAU/WAU stickiness ratio, "
    "via the active-window expansion: each distinct (user, day) fans "
    "out k rows map-side (k = 7 or 30), contributing the user to every "
    "trailing window that covers the day, then one distinct-count per "
    "day — the equi-join formulation of a sliding distinct window (no "
    "band join, no self-join). At 100 TB the (user, day) grid is the "
    "bounded input and the fan-out factor is the window length. The "
    "activity grid is localCheckpointed so its four consumers share "
    "ONE fact scan.",
)


# ---------------------------------------------------------------------------
# Join-key skew advisor (heavy hitters -> salting recommendation)
# ---------------------------------------------------------------------------


def _join_skew(d: str) -> str:
    return f"""
    WITH kg AS (
        SELECT o_custkey AS join_key, cast(count(*) as bigint) AS n
        FROM orders GROUP BY o_custkey
    ),
    st AS (
        SELECT join_key, n,
            cast(sum(n) OVER () as bigint) AS n_total,
            cast(count(*) OVER () as bigint) AS n_keys,
            row_number() OVER (ORDER BY n DESC, join_key) AS rn
        FROM kg
    )
    SELECT join_key, n AS n_rows,
        round(cast(n as double) / cast(n_total as double), 6) AS share,
        round(cast(n as double) * cast(n_keys as double)
            / cast(n_total as double), 6) AS skew_vs_avg,
        cast(ceil(cast(n as double) * cast(n_keys as double)
            / cast(n_total as double)) as bigint) AS salt_factor,
        CASE WHEN cast(n as double) * cast(n_keys as double)
                > cast(4 as double) * cast(n_total as double)
             THEN 'salt' ELSE 'none' END AS action
    FROM st WHERE rn <= 10 ORDER BY n_rows DESC, join_key
    """


pair(
    "layout_join_skew_advisor",
    _join_skew,
    tags=("layout", "advisor"),
    doc="Join-key heavy-hitter advisor on orders.o_custkey: top-10 keys by "
    "frequency, their skew ratio against the mean key, and the salting "
    "factor (ceil(n/avg)) a shuffle join on this key should apply when "
    "the ratio exceeds 4x — the per-KEY companion of "
    "layout_partition_skew_advisor's per-partition view, pairing with "
    "layout_bloom_advisor. One hash-agg to the key grid; totals are "
    "grid windows; no joins at all.",
)


# ---------------------------------------------------------------------------
# Column encoding advisor (entropy -> dictionary/RLE/plain)
# ---------------------------------------------------------------------------


def _encoding_advisor(d: str) -> str:
    # Per column: distinct count, Shannon entropy of the value distribution
    # (9-dp-quantized p*ln p terms, decimal-accumulated), avg encoded width
    # (string length for text columns; 8 bytes for fixed-width numerics),
    # then the encoding a columnar writer should pick.
    specs = [
        ("event_type", "event_type", "length(event_type)"),
        ("user_id", "cast(user_id as bigint)", "8"),
        ("props", "props", "length(props)"),
        ("value", _cents("value"), "8"),
    ]
    parts = []
    for name, expr, width in specs:
        parts.append(f"""
        SELECT '{name}' AS column_name, n_rows, n_distinct, entropy, avg_width,
            CASE WHEN n_distinct <= 1 THEN 'constant-rle'
                 WHEN cast(n_distinct as double)
                     >= 0.9 * cast(n_rows as double) THEN 'plain'
                 WHEN entropy <= cast(2 as double) THEN 'dictionary-rle'
                 ELSE 'dictionary' END AS recommendation
        FROM (
            SELECT cast(sum(c) as bigint) AS n_rows,
                cast(count(*) as bigint) AS n_distinct,
                round(-cast(sum(cast(round(
                    (cast(c as double) / cast(n_tot as double))
                    * ln(cast(c as double) / cast(n_tot as double)),
                    9) as decimal(28,9))) as double), 6) AS entropy,
                round(cast(sum(cast(w_sum as decimal(38,6))) as double)
                    / cast(sum(c) as double), 6) AS avg_width
            FROM (
                SELECT v, c, w_sum, cast(sum(c) OVER () as bigint) AS n_tot
                FROM (
                    SELECT {expr} AS v, cast(count(*) as bigint) AS c,
                        {S.isum(f'({width})', d)} AS w_sum
                    FROM events GROUP BY {expr}
                ) grid_{name}
            ) tot_{name}
        ) agg_{name}
        """)
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


pair(
    "layout_encoding_advisor",
    _encoding_advisor,
    tags=("layout", "advisor", "profiling"),
    doc="Column-encoding advisor: per events column the exact distinct "
    "count, Shannon entropy of the value distribution, and average "
    "encoded width, mapped to the encoding a columnar writer should "
    "pick (constant-RLE / dictionary / dictionary-RLE / plain) — the "
    "information-theoretic companion of profile_distinct_ratio_advisor. "
    "One hash-agg per column to its value grid; entropy terms are "
    "9-dp-quantized p*ln p values accumulated in decimal.",
)


# ---------------------------------------------------------------------------
# Geometric / harmonic / arithmetic means
# ---------------------------------------------------------------------------


def _geo_harmonic(d: str) -> str:
    lnp = "cast(round(ln(l_extendedprice), 9) as decimal(28,9))"
    inv = ("cast(round(cast(1 as double) / l_extendedprice, 12)"
           " as decimal(28,12))")
    return f"""
    SELECT l_returnflag AS flag, cast(count(*) as bigint) AS n,
        round({S.davg('l_extendedprice', d)}, 6) AS arith_mean,
        round(exp(cast(sum({lnp}) as double) / cast(count(*) as double)), 6)
            AS geo_mean,
        round(cast(count(*) as double) / cast(sum({inv}) as double), 6)
            AS harm_mean
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY l_returnflag ORDER BY flag
    """


pair(
    "agg_geo_harmonic_mean",
    _geo_harmonic,
    tags=("agg", "stats"),
    doc="Pythagorean-means profile of the extended price per return flag: "
    "arithmetic (decimal-exact), geometric (exp of the mean of "
    "9-dp-quantized logs, decimal-accumulated), and harmonic (n over "
    "the decimal sum of 12-dp-quantized reciprocals). One hash-agg; "
    "each mean takes exactly one transcendental/division at the end, "
    "so the values are order- and engine-independent.",
)


# ---------------------------------------------------------------------------
# Mode (peak hour) per event type
# ---------------------------------------------------------------------------


def _mode_peak_hour(d: str) -> str:
    return f"""
    WITH hg AS (
        SELECT event_type, cast(hour(ts) as bigint) AS hr,
            cast(count(*) as bigint) AS n
        FROM events GROUP BY event_type, cast(hour(ts) as bigint)
    ),
    tot AS (
        SELECT event_type, hr, n,
            cast(sum(n) OVER (PARTITION BY event_type) as bigint) AS n_type,
            row_number() OVER (
                PARTITION BY event_type ORDER BY n DESC, hr) AS rn
        FROM hg
    )
    SELECT event_type, hr AS peak_hour, n AS n_at_peak,
        round(cast(n as double) / cast(n_type as double), 6) AS peak_share
    FROM tot WHERE rn = 1 ORDER BY event_type
    """


pair(
    "agg_mode_peak_hour",
    _mode_peak_hour,
    tags=("agg", "analytics"),
    doc="Mode aggregate: the modal (peak) hour-of-day per event type with "
    "its share of the type's traffic; ties break on the lower hour — "
    "the deterministic argmax-by-count shape (max_by cannot express the "
    "count tie-break). One hash-agg to the (type, hour) grid; the "
    "window partitions by type over 24 rows each.",
)


# ---------------------------------------------------------------------------
# Pairwise column covariance / correlation (one scan)
# ---------------------------------------------------------------------------


def _col_cov(d: str) -> str:
    # Raw co-moments in one pass: products 9-dp-quantized then decimal-
    # accumulated; the inner aggregate emits the moments, the outer row
    # does all divisions/sqrts once on identical doubles.
    def q(x: str, y: str) -> str:
        return f"cast(sum(cast(round({x} * {y}, 9) as decimal(38,12))) as double)"

    cols = {"q": "l_quantity", "p": "l_extendedprice", "dd": "l_discount"}
    sums = ", ".join(
        f"{S.dsum(c, d)} AS s_{k}" for k, c in cols.items()
    )
    moments = ", ".join(
        [
            f"{q('l_quantity', 'l_quantity')} AS s_qq",
            f"{q('l_extendedprice', 'l_extendedprice')} AS s_pp",
            f"{q('l_discount', 'l_discount')} AS s_dd2",
            f"{q('l_quantity', 'l_extendedprice')} AS s_qp",
            f"{q('l_quantity', 'l_discount')} AS s_qd",
            f"{q('l_extendedprice', 'l_discount')} AS s_pd",
        ]
    )

    def cov(sxy: str, sx: str, sy: str) -> str:
        return f"round(({sxy} - {sx} * {sy} / nd) / nd, 6)"

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str) -> str:
        return (
            f"round(({sxy} - {sx} * {sy} / nd)"
            f" / nullif(sqrt(greatest(cast(0 as double), {sxx} - {sx} * {sx} / nd))"
            f" * sqrt(greatest(cast(0 as double), {syy} - {sy} * {sy} / nd)),"
            " cast(0 as double)), 6)"
        )

    return f"""
    WITH m AS (
        SELECT cast(count(*) as bigint) AS n,
            cast(count(*) as double) AS nd,
            {sums}, {moments}
        FROM lineitem
    )
    SELECT n,
        {cov('s_qp', 's_q', 's_p')} AS cov_qty_price,
        {corr('s_qp', 's_q', 's_p', 's_qq', 's_pp')} AS corr_qty_price,
        {cov('s_qd', 's_q', 's_dd')} AS cov_qty_disc,
        {corr('s_qd', 's_q', 's_dd', 's_qq', 's_dd2')} AS corr_qty_disc,
        {cov('s_pd', 's_p', 's_dd')} AS cov_price_disc,
        {corr('s_pd', 's_p', 's_dd', 's_pp', 's_dd2')} AS corr_price_disc
    FROM m WHERE n > 0
    """


pair(
    "agg_column_covariance",
    _col_cov,
    tags=("agg", "stats", "profiling"),
    doc="Pairwise covariance/correlation among lineitem's quantity, price "
    "and discount columns in ONE scan (raw co-moments, 9-dp-quantized "
    "products accumulated in decimal; divisions and the two sqrts "
    "happen once per statistic on identical doubles) — the column-pair "
    "screen feeding feature selection, sibling of "
    "agg_series_correlation's time-aligned variant.",
)


# ---------------------------------------------------------------------------
# Precision-recall AUC (trapezoid over the score grid)
# ---------------------------------------------------------------------------


def _pr_auc(d: str) -> str:
    return f"""
    WITH g AS (
        SELECT {_cents('value')} AS s,
            cast(count(*) as bigint) AS n,
            {S.isum("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END", d)} AS np
        FROM events WHERE value IS NOT NULL GROUP BY {_cents('value')}
    ),
    c AS (
        SELECT s,
            cast(sum(np) OVER (ORDER BY s DESC) as bigint) AS tp,
            cast(sum(n) OVER (ORDER BY s DESC) as bigint) AS pred_p,
            cast(sum(np) OVER () as bigint) AS pos,
            cast(sum(n) OVER () as bigint) AS tot
        FROM g
    ),
    pr AS (
        SELECT s, pos, tot,
            cast(tp as double) / cast(pred_p as double) AS prec,
            cast(tp as double) / cast(nullif(pos, 0) as double) AS rec
        FROM c
    ),
    tz AS (
        SELECT pos, tot,
            cast(round((rec - lag(rec, 1, cast(0 as double)) OVER (ORDER BY s DESC))
                * (prec + lag(prec, 1, cast(1 as double)) OVER (ORDER BY s DESC))
                / cast(2 as double), 9) as decimal(28,9)) AS term
        FROM pr
    )
    SELECT cast(max(pos) as bigint) AS n_pos,
        cast(max(tot) - max(pos) as bigint) AS n_neg,
        cast(count(*) as bigint) AS n_thresholds,
        round(cast(sum(term) as double), 6) AS pr_auc
    FROM tz GROUP BY pos, tot
    """


pair(
    "eval_pr_auc_trapezoid",
    _pr_auc,
    tags=("eval", "mlprep"),
    doc="Precision-recall AUC of 'value predicts purchase' by trapezoid "
    "over the descending score grid (convention: the curve starts at "
    "recall 0, precision 1). The imbalance-robust companion of "
    "eval_auc_roc's Mann-Whitney ROC. Precision/recall are ratios of "
    "integer cumulative sums over the distinct-cents grid; trapezoid "
    "terms are 9-dp-quantized before the decimal sum.",
)


# ---------------------------------------------------------------------------
# KS label separation (credit-scoring KS)
# ---------------------------------------------------------------------------


def _ks_separation(d: str) -> str:
    return f"""
    WITH g AS (
        SELECT {_cents('value')} AS s,
            {S.isum("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END", d)} AS np,
            {S.isum("CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END", d)} AS nn
        FROM events WHERE value IS NOT NULL GROUP BY {_cents('value')}
    ),
    c AS (
        SELECT s,
            cast(sum(np) OVER (ORDER BY s) as bigint) AS cp,
            cast(sum(nn) OVER (ORDER BY s) as bigint) AS cn,
            cast(sum(np) OVER () as bigint) AS pos,
            cast(sum(nn) OVER () as bigint) AS neg
        FROM g
    ),
    m AS (
        SELECT s, pos, neg, abs(cp * neg - cn * pos) AS sep,
            row_number() OVER (ORDER BY abs(cp * neg - cn * pos) DESC, s) AS rn
        FROM c WHERE pos > 0 AND neg > 0
    )
    SELECT pos AS n_pos, neg AS n_neg,
        round(cast(sep as double) / (cast(pos as double) * cast(neg as double)),
            6) AS ks_stat,
        s AS ks_at_cents
    FROM m WHERE rn = 1
    """


pair(
    "eval_ks_separation",
    _ks_separation,
    tags=("eval", "stats"),
    doc="Kolmogorov-Smirnov label separation of the value score between "
    "purchase and non-purchase events (the credit-scoring KS), with the "
    "achieving threshold — the label-axis sibling of profile_drift_ks's "
    "two-sample source drift. The max |cdf difference| is an INTEGER "
    "argmax (|cumP*N - cumN*P|) over the cents grid; ties break on the "
    "lower threshold; one division at the end.",
)


# ---------------------------------------------------------------------------
# Seasonal strength (STL companion)
# ---------------------------------------------------------------------------


def _seasonal_strength(d: str) -> str:
    q9 = "cast(round({x}, 9) as decimal(28,9))"
    q18 = "cast(round({x} * {x}, 12) as decimal(38,12))"
    return f"""
    WITH {_daily_means(d)},
    t AS (
        SELECT event_type, day_idx, cast(dm as double) AS x,
            cast(sum(dm) OVER w7 as double) / cast(7 as double) AS trend,
            count(*) OVER w7 AS n_win
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day_idx
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    dt AS (
        SELECT event_type, day_idx, day_idx % 7 AS dow,
            round(x - trend, 9) AS detr
        FROM t WHERE n_win = 7
    ),
    seas AS (
        SELECT event_type, dow,
            cast(sum({q9.format(x='detr')}) as double)
                / cast(count(*) as double) AS sdow
        FROM dt GROUP BY event_type, dow
    ),
    rem AS (
        SELECT d1.event_type,
            d1.detr AS xd,
            round(d1.detr - s.sdow, 9) AS xr
        FROM dt d1 JOIN seas s
            ON s.event_type = d1.event_type AND s.dow = d1.dow
    ),
    v AS (
        SELECT event_type, cast(count(*) as bigint) AS n_days,
            cast(sum({q18.format(x='xd')}) as double) AS sdd,
            cast(sum({q9.format(x='xd')}) as double) AS sd1,
            cast(sum({q18.format(x='xr')}) as double) AS srr,
            cast(sum({q9.format(x='xr')}) as double) AS sr1
        FROM rem GROUP BY event_type
    )
    SELECT event_type, n_days,
        round(sdd / cast(n_days as double)
            - (sd1 / cast(n_days as double)) * (sd1 / cast(n_days as double)),
            6) AS var_detrended,
        round(srr / cast(n_days as double)
            - (sr1 / cast(n_days as double)) * (sr1 / cast(n_days as double)),
            6) AS var_remainder,
        round(greatest(cast(0 as double),
            cast(1 as double) - (srr / cast(n_days as double)
                - (sr1 / cast(n_days as double)) * (sr1 / cast(n_days as double)))
            / nullif(sdd / cast(n_days as double)
                - (sd1 / cast(n_days as double)) * (sd1 / cast(n_days as double)),
                cast(0 as double))), 6) AS seasonal_strength
    FROM v ORDER BY event_type
    """


pair(
    "window_seasonal_strength",
    _seasonal_strength,
    tags=("window", "timeseries"),
    doc="Seasonal-strength diagnostic (Hyndman's 1 - Var(remainder)/"
    "Var(detrended)) on the per-type daily series, from the same "
    "centered-7-day decomposition as window_stl_decompose — the single "
    "number that says whether the weekly pattern is real. Detrended and "
    "remainder values are 9-dp quantized before decimal moment sums; "
    "windows ride the pre-aggregated daily grid.",
)


# ---------------------------------------------------------------------------
# Realized volatility of the daily series
# ---------------------------------------------------------------------------


def _realized_vol(d: str) -> str:
    return f"""
    WITH {_daily_means(d)},
    r AS (
        SELECT event_type,
            round(ln(cast(dm as double)
                / cast(lag(dm) OVER (PARTITION BY event_type ORDER BY day_idx)
                    as double)), 9) AS lr
        FROM daily
        WHERE dm > 0
    )
    SELECT event_type, cast(count(lr) as bigint) AS n_returns,
        round(sqrt(cast(sum(cast(round(lr * lr, 12) as decimal(38,12)))
            as double)), 6) AS realized_vol,
        round(max(abs(lr)), 6) AS max_abs_return
    FROM r WHERE lr IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """


pair(
    "window_realized_vol",
    _realized_vol,
    tags=("window", "timeseries"),
    doc="Realized volatility per event type: sqrt of the sum of squared "
    "daily log returns of the mean-value series (the price-risk number "
    "the reference's price maintenance feeds, "
    "SERVER/ingest_prices.py:42-55), plus the largest absolute move. "
    "Log returns are 9-dp quantized, squares 12-dp, decimal-"
    "accumulated; one lag window over the pre-aggregated daily grid.",
)


# ---------------------------------------------------------------------------
# Sentence-length statistics
# ---------------------------------------------------------------------------


def _sentence_stats(d: str) -> str:
    if d == SPARK:
        src = ("SELECT lang, s FROM documents "
               "LATERAL VIEW explode(split(text, '[.!?]+')) t_s AS s "
               "WHERE text IS NOT NULL AND length(text) > 0")
        words = "size(filter(split(trim(s), ' '), x -> length(x) > 0))"
    else:
        src = ("SELECT lang, unnest(regexp_split_to_array(text, '[.!?]+')) AS s "
               "FROM documents WHERE text IS NOT NULL AND length(text) > 0")
        words = ("len(list_filter(string_split(trim(s), ' '),"
                 " x -> length(x) > 0))")
    return f"""
    WITH sent AS (
        SELECT lang, length(trim(s)) AS n_chars,
            cast({words} as bigint) AS n_words
        FROM ({src}) t WHERE length(trim(s)) > 0
    )
    SELECT lang, cast(count(*) as bigint) AS n_sentences,
        round({S.davg('cast(n_chars as double)', d)}, 6) AS avg_sent_chars,
        round({S.davg('cast(n_words as double)', d)}, 6) AS avg_sent_words,
        cast(max(n_words) as bigint) AS max_sent_words
    FROM sent GROUP BY lang ORDER BY lang
    """


pair(
    "text_sentence_length_stats",
    _sentence_stats,
    tags=("text", "quality"),
    doc="Sentence-segmentation statistics per language: sentence count, "
    "average characters and whitespace words per sentence, longest "
    "sentence — the readability/quality dimension below the document "
    "level (token counts exist; sentence shape did not). The [.!?]+ "
    "split is a map-side explode; empty fragments are filtered before "
    "aggregation; per-sentence word counts are array math, no second "
    "explode.",
)


# ---------------------------------------------------------------------------
# Vocabulary coverage curve
# ---------------------------------------------------------------------------

_COVERAGE_KS = (10, 100, 1000)


def _vocab_coverage_summary_sql(d: str) -> str:
    toks = S.split_ws("text", d)
    if d == SPARK:
        occ = (f"SELECT explode({toks}) AS tok FROM documents "
               "WHERE text IS NOT NULL AND length(text) > 0")
    else:
        occ = (f"SELECT unnest({toks}) AS tok FROM documents "
               "WHERE text IS NOT NULL AND length(text) > 0")
    cases = ", ".join(
        f"cast(max(CASE WHEN rn <= {k} THEN cum END) as bigint) AS c{k}"
        for k in _COVERAGE_KS
    )
    return f"""
    WITH tok AS ({occ}),
    vc AS (SELECT tok, cast(count(*) as bigint) AS c FROM tok GROUP BY tok),
    r AS (
        SELECT c,
            row_number() OVER (ORDER BY c DESC, tok) AS rn,
            cast(sum(c) OVER (ORDER BY c DESC, tok) as bigint) AS cum,
            cast(sum(c) OVER () as bigint) AS total
        FROM vc
    )
    SELECT {cases},
        cast(max(total) as bigint) AS total_tokens,
        cast(min(CASE WHEN 10 * cum >= 9 * total THEN rn END) as bigint)
            AS ranks_for_90pct
    FROM r
    """


def _vocab_coverage(d: str, summ: str) -> str:
    branches = []
    for k in _COVERAGE_KS:
        branches.append(f"""
        SELECT cast({k} as bigint) AS vocab_k, c{k} AS covered_tokens,
            round(cast(c{k} as double) / cast(nullif(total_tokens, 0) as double),
                6) AS coverage,
            total_tokens, ranks_for_90pct
        FROM summ
        """)
    return (
        f"WITH summ AS ({summ}) "
        + " UNION ALL ".join(branches)
        + " ORDER BY vocab_k"
    )


pair(
    "text_vocab_coverage",
    _vocab_coverage,
    shared={"summ": _vocab_coverage_summary_sql},
    tags=("text", "quality"),
    doc="Vocabulary coverage curve: the share of all token occurrences "
    "covered by the top-10/100/1000 vocabulary, and the vocabulary size "
    "needed for 90%% coverage — the tokenizer-sizing diagnostic "
    "(text_oov_rate's aggregate view). The one-row grid summary (token "
    "grid + two windows) is computed distributed and localCheckpointed; "
    "the three curve rows are selects from that one row.",
)


# ---------------------------------------------------------------------------
# Source vocabulary overlap
# ---------------------------------------------------------------------------


def _vocab_overlap_sv(d: str) -> str:
    """(source, tok): the top-50 tokens of each of the 5 largest sources."""
    toks = S.split_ws("text", d)
    if d == SPARK:
        occ = (f"SELECT source, explode({toks}) AS tok FROM documents "
               "WHERE text IS NOT NULL AND length(text) > 0")
    else:
        occ = (f"SELECT source, unnest({toks}) AS tok FROM documents "
               "WHERE text IS NOT NULL AND length(text) > 0")
    return f"""
    WITH tok AS ({occ}),
    top_src AS (
        SELECT source FROM (
            SELECT source, cast(count(*) as bigint) AS n,
                row_number() OVER (ORDER BY count(*) DESC, source) AS rn
            FROM documents GROUP BY source
        ) t WHERE rn <= 5
    )
    SELECT t.source, t.tok FROM (
        SELECT /*+ BROADCAST(s) */ tok.source, tok.tok,
            row_number() OVER (
                PARTITION BY tok.source ORDER BY count(*) DESC, tok.tok
            ) AS rn
        FROM tok JOIN top_src s ON s.source = tok.source
        GROUP BY tok.source, tok.tok
    ) t WHERE t.rn <= 50
    """


def _vocab_overlap_sql(d: str, sv: str) -> str:
    return f"""
    WITH sv AS ({sv}),
    sz AS (
        SELECT source, cast(count(*) as bigint) AS sz FROM sv GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
            cast(count(*) as bigint) AS n_inter
        FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
        sa.sz AS size_a, sb.sz AS size_b,
        coalesce(i.n_inter, 0) AS n_inter,
        round(cast(coalesce(i.n_inter, 0) as double)
            / cast(nullif(sa.sz + sb.sz - coalesce(i.n_inter, 0), 0) as double),
            6) AS jaccard
    FROM sz sa JOIN sz sb ON sa.source < sb.source
    LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source
    ORDER BY source_a, source_b
    """


pair(
    "profile_source_vocab_overlap",
    _vocab_overlap_sql,
    shared={"sv": _vocab_overlap_sv},
    tags=("profiling", "text"),
    doc="Pairwise top-50 vocabulary Jaccard between the 5 largest sources "
    "— the corpus-mix redundancy diagnostic (two sources with identical "
    "head vocabularies add less diversity than their row counts "
    "suggest). The <=250-row per-source top-token set is a shared core "
    "(localCheckpointed once), so the size and intersection joins reuse "
    "it instead of each re-running the token aggregation; the sz x sz "
    "pair frame is a 5-row self-join.",
)


# ---------------------------------------------------------------------------
# Contrastive pair sampling
# ---------------------------------------------------------------------------


def _contrastive(d: str) -> str:
    h = S.portable_hash64("cast(vec_id as string)", d, seed="'cpair'")
    return f"""
    WITH r AS (
        SELECT label, vec_id,
            row_number() OVER (PARTITION BY label ORDER BY {h}, vec_id) AS rn
        FROM embeddings
    ),
    pos AS (
        SELECT a.label AS label_a, a.label AS label_b,
            cast(count(*) as bigint) AS n_pairs,
            {S.isum('a.vec_id + b.vec_id', d)} AS id_checksum
        FROM r a JOIN r b
            ON a.label = b.label AND b.rn = a.rn + 1 AND a.rn % 2 = 1
        GROUP BY a.label
    ),
    neg AS (
        SELECT a.label AS label_a, b.label AS label_b,
            cast(count(*) as bigint) AS n_pairs,
            {S.isum('a.vec_id + b.vec_id', d)} AS id_checksum
        FROM r a JOIN r b ON b.label = a.label + 1 AND b.rn = a.rn
        GROUP BY a.label, b.label
    )
    SELECT 'pos' AS kind, label_a, label_b, n_pairs, id_checksum FROM pos
    UNION ALL
    SELECT 'neg' AS kind, label_a, label_b, n_pairs, id_checksum FROM neg
    ORDER BY kind, label_a
    """


pair(
    "sample_contrastive_pairs",
    _contrastive,
    tags=("sampling", "similarity", "mlprep"),
    doc="Deterministic contrastive-pair construction for embedding "
    "training: within each label, vectors are ranked by the portable "
    "hash (reproducible shuffle) and consecutive odd/even ranks pair as "
    "POSITIVES; equal ranks of adjacent labels pair as NEGATIVES — "
    "both pure equi-joins on (label, rank), no similarity computation, "
    "no cross join. Checksummed so exact pair membership is graded.",
)


# ---------------------------------------------------------------------------
# Nearest-value 1-D join
# ---------------------------------------------------------------------------


def _nearest_value(d: str) -> str:
    pc = _cents("value")
    cc = _cents("p_retailprice")
    return f"""
    WITH probe AS (
        SELECT event_id, {pc} AS cents FROM events
        WHERE value IS NOT NULL AND event_id % 500 = 0
    ),
    cat AS (SELECT DISTINCT {cc} AS cents FROM part),
    u AS (
        SELECT cents, cast(0 as bigint) AS is_probe,
            cast(NULL as bigint) AS event_id FROM cat
        UNION ALL
        SELECT cents, cast(1 as bigint), event_id FROM probe
    ),
    w AS (
        SELECT cents, is_probe, event_id,
            max(CASE WHEN is_probe = 0 THEN cents END) OVER (
                ORDER BY cents, is_probe
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_cat,
            min(CASE WHEN is_probe = 0 THEN cents END) OVER (
                ORDER BY cents, is_probe
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_cat
        FROM u
    )
    SELECT event_id, cents AS probe_cents,
        CASE WHEN prev_cat IS NULL THEN next_cat
             WHEN next_cat IS NULL THEN prev_cat
             WHEN cents - prev_cat <= next_cat - cents THEN prev_cat
             ELSE next_cat END AS nearest_cents,
        CASE WHEN prev_cat IS NULL THEN next_cat - cents
             WHEN next_cat IS NULL THEN cents - prev_cat
             WHEN cents - prev_cat <= next_cat - cents THEN cents - prev_cat
             ELSE next_cat - cents END AS dist_cents
    FROM w WHERE is_probe = 1 ORDER BY event_id
    """


pair(
    "join_nearest_value_1d",
    _nearest_value,
    tags=("join",),
    doc="Nearest-value 1-D join: each probe event value matched to the "
    "NEAREST part retail price (ties to the lower price) via the "
    "sort-merge trick — union both sides tagged, one ordered pass "
    "carrying the last catalog value backward and the next forward — "
    "never a cross join. The catalog side aggregates to its DISTINCT "
    "cents grid first (bounded by the price domain), so the single "
    "global window rides grid+probes, not raw rows; at 100 TB the "
    "production variant range-buckets both sides and runs the same "
    "window per bucket (documented).",
)
