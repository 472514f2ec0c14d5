"""Round-12 screening tier: k-sample/ordered/paired rank inference,
experiment-design audits, censored-survival comparisons, and forensic
transaction screens.

The round-11 tier closed the two-sample rank tests (Mann-Whitney) and
single-series forensics; this tier completes the inferential toolbox a
fraud/experimentation analyst runs next — the reference's scoring
pipeline (`RECEIVER/stage2_processing.cpp`, `SERVER/subscriber.py`)
flags candidates, and THESE are the confirmatory statistics run over the
flagged cohorts:

- k-sample and ordered-alternative rank tests (Kruskal-Wallis,
  Jonckheere-Terpstra), paired block ranks (Friedman + Kendall's W),
  rank correlation robust to oscillation (Chatterjee's xi), ordinal
  association on contingency grids (Goodman-Kruskal gamma);
- experiment hygiene: sample-ratio-mismatch chi-square on the hash
  assignment, and the two-proportion power/sample-size planner;
- censored survival comparison (log-rank test) and the Nelson-Aalen
  cumulative hazard — the confirmatory siblings of events_survival_km;
- transaction forensics: round-number clustering, split-transaction
  reconstruction, cross-account amount reuse, card-testing runs,
  order-key sequence integrity, velocity acceleration;
- series screens: inter-arrival runs test (bot regularity), Page-
  Hinkley drift, Amihud illiquidity, stochastic %K/%D;
- Katz centrality (bounded 3-hop walk counts, dyadic beta), Atkinson
  inequality (completes the gini/theil/lorenz family), chi-square
  feature selection in ONE grouping-sets pass, and a code-vs-prose
  heuristic gate for corpus curation.

Disciplines carried over from forensics_ops/robustness_ops verbatim:
facts aggregate to a bounded grid FIRST; pair counting rides cumulative
windows over grids (never an n x n row join); exact bigint/decimal until
the final statistic; ``_r6u`` half-up roundings; shared cores
localCheckpointed so no query plans > 4 fact scans (the committed
tools/plan_fingerprint.py cap); constant fan-outs join on a literal key.
"""

from __future__ import annotations

from ..functions import scalars as S
from .diagnostics_ops import _EV_CENTS, _r6u
from .mining_ops import _day_idx
from .registry import pair
from .robustness_ops import _mwu_core


# Decimal-widened product of two bigint grid columns: at 100 TB a cell
# count times a doubled midrank can pass 2^63, so the multiply happens in
# decimal(19,0) x decimal(19,0) -> decimal(38,0), never bigint.
def _dmul(a: str, b: str) -> str:
    return f"(cast({a} as decimal(19,0)) * cast({b} as decimal(19,0)))"


# ---------------------------------------------------------------------------
# eval_kruskal_wallis — k-sample rank test across event types
# ---------------------------------------------------------------------------


def _kruskal_wallis(d: str, g: str) -> str:
    # Midranks without materializing ranks per row: over the pooled cents
    # grid, 2*midrank(s) = 2*(count strictly below) + (count tied) + 1
    # stays bigint; per-group doubled rank sums fold as decimal(38,0).
    # H uses R_j = r2sum_j / 2; the tie correction divides by
    # 1 - sum(t^3 - t)/(N^3 - N). The shared grid core feeds both
    # consumers (sv and pg) — one fact scan.
    return f"""
    WITH g AS ({g}),
    sv AS (SELECT s, {S.isum('c', d)} AS cs FROM g GROUP BY s),
    r AS (
        SELECT s, cs,
            2 * cast(coalesce(sum(cs) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint) + cs + 1 AS r2
        FROM sv
    ),
    pg AS (
        SELECT g.event_type, {S.isum('g.c', d)} AS n_j,
            cast(sum({_dmul('g.c', 'r.r2')}) as decimal(38,0)) AS r2sum
        FROM g JOIN r ON r.s = g.s
        GROUP BY g.event_type
    ),
    tot AS (
        SELECT {S.isum('cs', d)} AS n,
            cast(sum({_dmul('cs', 'cs * cs - 1')}) as decimal(38,0)) AS tie3
        FROM sv
    ),
    h AS (
        SELECT t.n, t.tie3, cast(count(*) as bigint) AS k,
            cast(sum(cast(
                (cast(p.r2sum as double) / cast(2 as double))
                * (cast(p.r2sum as double) / cast(2 as double))
                / cast(p.n_j as double) as decimal(38,6)))
              as double) AS rsq_over_n
        FROM pg p, tot t
        GROUP BY t.n, t.tie3
    )
    SELECT n AS n_total, k AS k_groups, k - 1 AS df,
        {_r6u('cast(12 as double) / (cast(n as double) '
              '* cast(n + 1 as double)) * rsq_over_n '
              '- cast(3 as double) * cast(n + 1 as double)')} AS h_stat,
        {_r6u('(cast(12 as double) / (cast(n as double) '
              '* cast(n + 1 as double)) * rsq_over_n '
              '- cast(3 as double) * cast(n + 1 as double)) '
              '/ nullif(cast(1 as double) - cast(tie3 as double) '
              '/ nullif(cast(n as double) * cast(n as double) '
              '* cast(n as double) - cast(n as double), '
              'cast(0 as double)), cast(0 as double))')} AS h_tie_adj,
        CASE WHEN (cast(12 as double) / (cast(n as double)
                * cast(n + 1 as double)) * rsq_over_n
                - cast(3 as double) * cast(n + 1 as double))
            / nullif(cast(1 as double) - cast(tie3 as double)
                / nullif(cast(n as double) * cast(n as double)
                    * cast(n as double) - cast(n as double),
                    cast(0 as double)), cast(0 as double))
            > cast(9.487729 as double) THEN 1 ELSE 0 END AS reject_95
    FROM h
    """


pair(
    "eval_kruskal_wallis",
    _kruskal_wallis,
    shared={"g": _mwu_core},
    tags=("eval", "stats"),
    doc="Kruskal-Wallis k-sample rank test of events.value across all "
    "event types: the one-way ANOVA-on-ranks confirmatory sibling of "
    "eval_anova_oneway (and the k-group generalization of "
    "eval_mann_whitney_u). Doubled midranks 2*below + tied + 1 stay "
    "bigint over the pooled cents grid; per-group doubled rank sums and "
    "the tie mass sum(t^3 - t) fold as decimal(38,0) (cells x midranks "
    "pass 2^63 at fleet scale, so the multiply is decimal-widened); H and "
    "its tie-adjusted form assemble in ONE fixed double expression, with "
    "the 95th-percentile chi-square(4) decision at 9.487729. The cents "
    "grid is localCheckpointed: both consumers (pooled ranks, per-group "
    "sums) share ONE fact scan. Reference: the scoring comparisons of "
    "RECEIVER/stage2_processing.cpp across candidate pools, run as a "
    "proper k-sample test.",
)


# ---------------------------------------------------------------------------
# eval_jonckheere_terpstra — ordered-alternative trend across funnel stages
# ---------------------------------------------------------------------------


_JT_ORD = (
    "CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2 "
    "WHEN 'click' THEN 3 WHEN 'purchase' THEN 4 END"
)


def _jonckheere(d: str, g0: str) -> str:
    # JT = sum over ordered group pairs (i < j) of the Mann-Whitney count
    # U_ij; doubled (2U = 2*below + ties) it stays exact bigint. Each
    # per-group cumulative rides the dense (ord x cents) fan-out — a
    # constant-key equi-join bounded by the value domain — and the pair
    # sum is ONE hash join on the cents key with ord_i < ord_j as a
    # residual filter (4 x 4 orders per cents row, never rows x rows).
    # The null mean/variance use the no-tie form (ties are in the doc).
    return f"""
    WITH g0 AS ({g0}),
    g AS (
        SELECT {_JT_ORD} AS o, s, {S.isum('c', d)} AS c
        FROM g0 WHERE event_type <> 'error'
        GROUP BY {_JT_ORD}, s
    ),
    oo AS (SELECT DISTINCT o, 1 AS k FROM g),
    sv AS (SELECT DISTINCT s, 1 AS k FROM g),
    full_g AS (
        SELECT oo.o, sv.s, coalesce(g.c, 0) AS c
        FROM oo JOIN sv ON sv.k = oo.k
        LEFT JOIN g ON g.o = oo.o AND g.s = sv.s
    ),
    cum AS (
        SELECT o, s, c,
            cast(coalesce(sum(c) OVER (PARTITION BY o ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint) AS cb
        FROM full_g
    ),
    pair AS (
        SELECT cast(sum({_dmul('hi.c', '2 * lo.cb + lo.c')})
            as decimal(38,0)) AS jt2
        FROM cum lo JOIN cum hi ON hi.s = lo.s AND lo.o < hi.o
    ),
    nn AS (
        SELECT {S.isum('n_j', d)} AS n,
            cast(sum({_dmul('n_j', 'n_j')}) as decimal(38,0)) AS sq,
            cast(sum({_dmul('n_j', '2 * n_j + 3')}) as decimal(38,0)) AS q3
        FROM (SELECT o, {S.isum('c', d)} AS n_j FROM g GROUP BY o) t
    )
    SELECT nn.n AS n_total, cast(pair.jt2 as bigint) AS jt_doubled,
        {_r6u('(cast(nn.n as double) * cast(nn.n as double) '
              '- cast(nn.sq as double)) / cast(4 as double)')} AS e_jt,
        {_r6u('(cast(pair.jt2 as double) / cast(2 as double) '
              '- (cast(nn.n as double) * cast(nn.n as double) '
              '- cast(nn.sq as double)) / cast(4 as double)) '
              '/ nullif(sqrt((cast(nn.n as double) * cast(nn.n as double) '
              '* (cast(2 as double) * cast(nn.n as double) '
              '+ cast(3 as double)) - cast(nn.q3 as double)) '
              '/ cast(72 as double)), cast(0 as double))')} AS z_trend
    FROM pair, nn
    """


pair(
    "eval_jonckheere_terpstra",
    _jonckheere,
    shared={"g0": _mwu_core},
    tags=("eval", "stats"),
    doc="Jonckheere-Terpstra ordered-alternative trend test across the "
    "funnel stages signup < view < click < purchase (errors excluded): "
    "does events.value rise monotonically along the funnel? JT doubles "
    "to stay bigint via the eval_cliffs_delta cumulative pair counting "
    "per ordered group over the dense (stage x cents) grid; the pair sum "
    "is one equi-join on the cents key (4x4 stages per value row). The "
    "z uses the no-tie null mean (N^2 - sum n_j^2)/4 and variance "
    "(N^2(2N+3) - sum n_j^2 (2n_j+3))/72; squared group sizes are "
    "decimal-widened. The grid is localCheckpointed — one fact scan "
    "feeds the stage cumulatives, the pair join, and the group sizes.",
)


# ---------------------------------------------------------------------------
# eval_friedman_ranks — within-day block ranks across event types
# ---------------------------------------------------------------------------


def _friedman_core(d: str) -> str:
    """The (day, type, count) grid — the ONE pass over facts."""
    return f"""
        SELECT {_day_idx(d)} AS di, event_type,
            cast(count(*) as bigint) AS c
        FROM events GROUP BY {_day_idx(d)}, event_type
    """


def _friedman(d: str, g: str) -> str:
    # Blocks = calendar days, treatments = event types, response = daily
    # event count. Within each block the k treatments take midranks
    # (2*midrank = 2*below + tied + 1, exact bigint via two windows over
    # the 5-row block); missing (day, type) cells enter as zero counts so
    # every block ranks the same k treatments. Kendall's W = chi2_F /
    # (n (k-1)) comes out of the same aggregate. The shared grid core
    # feeds its three consumers (days, types, full_g) — inlined, Spark
    # planned FIVE fact scans here.
    return f"""
    WITH g AS ({g}),
    days AS (SELECT DISTINCT di, 1 AS k FROM g),
    types AS (SELECT DISTINCT event_type, 1 AS k FROM g),
    full_g AS (
        SELECT d2.di, t.event_type, coalesce(g.c, 0) AS c
        FROM days d2 JOIN types t ON t.k = d2.k
        LEFT JOIN g ON g.di = d2.di AND g.event_type = t.event_type
    ),
    r AS (
        SELECT di, event_type,
            2 * cast(coalesce(count(*) OVER (PARTITION BY di ORDER BY c
                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint)
            + cast(count(*) OVER (PARTITION BY di, c) as bigint)
            + 1 AS r2
        FROM full_g
    ),
    pg AS (
        SELECT event_type,
            cast(sum(cast(r2 as decimal(19,0))) as decimal(38,0)) AS r2sum
        FROM r GROUP BY event_type
    ),
    nn AS (SELECT cast(count(*) as bigint) AS n FROM days),
    kk AS (SELECT cast(count(*) as bigint) AS k FROM types),
    chi AS (
        SELECT nn.n, kk.k,
            cast(12 as double)
                / (cast(nn.n as double) * cast(kk.k as double)
                    * cast(kk.k + 1 as double))
                * cast(sum(cast(
                    (cast(p.r2sum as double) / cast(2 as double))
                    * (cast(p.r2sum as double) / cast(2 as double))
                    as decimal(38,6))) as double)
            - cast(3 as double) * cast(nn.n as double)
                * cast(kk.k + 1 as double) AS chi2_f
        FROM pg p, nn, kk
        GROUP BY nn.n, kk.k
    )
    SELECT n AS n_blocks, k AS k_treatments, k - 1 AS df,
        {_r6u('chi2_f')} AS chi2_friedman,
        {_r6u('chi2_f / nullif(cast(n as double) '
              '* cast(k - 1 as double), cast(0 as double))')}
            AS kendalls_w,
        CASE WHEN chi2_f > cast(9.487729 as double) THEN 1 ELSE 0 END
            AS reject_95
    FROM chi
    """


pair(
    "eval_friedman_ranks",
    _friedman,
    shared={"g": _friedman_core},
    tags=("eval", "stats"),
    doc="Friedman two-way rank test: do the event types keep the same "
    "activity ordering day after day? Blocks are calendar days, "
    "treatments the k event types, response the daily count; within-block "
    "midranks stay bigint (2*below + tied + 1 via one RANGE window and "
    "one tie-group count over each 5-row block), missing cells rank as "
    "zeros so blocks stay complete. Kendall's W (chi2_F / n(k-1)) rides "
    "the same aggregate — the agreement coefficient for free. The fan-out "
    "is days x types, a constant-key equi-join bounded by the calendar; "
    "the (day, type) count grid is localCheckpointed so its three "
    "consumers share ONE fact scan (inlined, Spark planned five).",
)


# ---------------------------------------------------------------------------
# eval_chatterjee_xi — rank correlation robust to non-monotone dependence
# ---------------------------------------------------------------------------


def _chatterjee(d: str) -> str:
    # Chatterjee (2021) xi: sort blocks by x, walk the y-ranks. With the
    # ties-general form xi = 1 - n * sum|r_{i+1} - r_i| /
    # (2 * sum l_i (n - l_i)) everything is exact integers: r_i = #{y_j
    # <= y_i} and l_i = #{y_j >= y_i} are RANGE-window counts, the walk
    # order is (x, day) — day breaks x-ties deterministically (the
    # original breaks them uniformly at random; a fixed tiebreak keeps
    # the oracle exact and is documented).
    return f"""
    WITH g AS (
        SELECT {_day_idx(d)} AS di,
            {S.isum("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END", d)}
                AS xv,
            {S.isum(f"CASE WHEN event_type = 'purchase' THEN {_EV_CENTS} "
                    "ELSE 0 END", d)} AS yv
        FROM events GROUP BY {_day_idx(d)}
    ),
    rk AS (
        SELECT di, xv, yv,
            cast(count(*) OVER (ORDER BY yv
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                as bigint) AS r,
            cast(count(*) OVER (ORDER BY yv DESC
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                as bigint) AS l,
            cast(count(*) OVER () as bigint) AS n
        FROM g
    ),
    st AS (
        SELECT n, r,
            lead(r) OVER (ORDER BY xv, di) AS r_next, l
        FROM rk
    )
    SELECT max(n) AS n_days,
        {S.isum('abs(r_next - r)', d)} AS sum_rank_steps,
        {_r6u('cast(1 as double) - cast(max(n) as double) '
              '* cast(sum(abs(r_next - r)) as double) '
              '/ nullif(cast(2 as double) '
              '* cast(sum(l * (max_n - l)) as double), '
              'cast(0 as double))')} AS xi_stat
    FROM (SELECT n, r, r_next, l, max(n) OVER () AS max_n FROM st) t
    """


pair(
    "eval_chatterjee_xi",
    _chatterjee,
    tags=("eval", "stats"),
    doc="Chatterjee's xi rank correlation between daily view counts (x) "
    "and daily purchase revenue (y): unlike Spearman/Kendall it detects "
    "NON-monotone dependence (a pump-and-dump hump correlates near zero "
    "by rho but near one by xi). The ties-general form 1 - n sum|r_next "
    "- r| / (2 sum l(n-l)) is exact integers end-to-end: r and l are "
    "RANGE-window cumulative counts over the day grid, the walk is "
    "ordered by (x, day) with the day index as the deterministic x-tie "
    "break (the original randomizes ties; fixing the break keeps the "
    "DuckDB oracle exact and biases xi by at most the tie fraction). "
    "One fact pass builds the day grid; everything after is "
    "calendar-bounded.",
)


# ---------------------------------------------------------------------------
# eval_goodman_kruskal_gamma — ordinal association on a contingency grid
# ---------------------------------------------------------------------------


def _gk_gamma(d: str) -> str:
    # Concordant/discordant pair masses via 2-D suffix sums over the
    # dense (priority x price-band) grid: a row-wise suffix window then a
    # column-wise suffix window gives T(i,j) = sum_{i'>i, j'>j} n — no
    # pair join at all, just two bounded window passes. All counts
    # bigint; pair products decimal-widened.
    return f"""
    WITH cells AS (
        SELECT cast(substring(o_orderpriority, 1, 1) as int) AS i,
            least(9, {S.idiv("cast(cast(o_totalprice as decimal(18,2)) "
                             "* 100 as bigint)", "2500000", d)}) AS j,
            cast(count(*) as bigint) AS n
        FROM orders GROUP BY 1, 2
    ),
    ii AS (SELECT DISTINCT i, 1 AS k FROM cells),
    jj AS (SELECT DISTINCT j, 1 AS k FROM cells),
    full_g AS (
        SELECT ii.i, jj.j, coalesce(c.n, 0) AS n
        FROM ii JOIN jj ON jj.k = ii.k
        LEFT JOIN cells c ON c.i = ii.i AND c.j = jj.j
    ),
    rowsfx AS (
        SELECT i, j, n,
            cast(coalesce(sum(n) OVER (PARTITION BY i ORDER BY j DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint) AS above_j,
            cast(coalesce(sum(n) OVER (PARTITION BY i ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint) AS below_j
        FROM full_g
    ),
    colsfx AS (
        SELECT i, j, n,
            cast(coalesce(sum(above_j) OVER (PARTITION BY j ORDER BY i DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint) AS conc_mass,
            cast(coalesce(sum(below_j) OVER (PARTITION BY j ORDER BY i DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                as bigint) AS disc_mass
        FROM rowsfx
    ),
    agg AS (
        SELECT {S.isum('n', d)} AS n_orders,
            cast(sum({_dmul('n', 'conc_mass')}) as decimal(38,0)) AS p2,
            cast(sum({_dmul('n', 'disc_mass')}) as decimal(38,0)) AS q2
        FROM colsfx
    )
    SELECT n_orders, cast(p2 as bigint) AS concordant_pairs,
        cast(q2 as bigint) AS discordant_pairs,
        {_r6u('(cast(p2 as double) - cast(q2 as double)) '
              '/ nullif(cast(p2 as double) + cast(q2 as double), '
              'cast(0 as double))')} AS gamma
    FROM agg
    """


pair(
    "eval_goodman_kruskal_gamma",
    _gk_gamma,
    tags=("eval", "stats"),
    doc="Goodman-Kruskal gamma between order priority (ordinal 1..5) and "
    "total-price band ($25k steps, top-coded at band 9): the ordinal "
    "association coefficient that ignores ties, completing the rank pair "
    "family (tau handles continuous, gamma handles grouped ordinal). "
    "Concordant/discordant pair masses come from TWO bounded window "
    "passes over the dense priority x band grid (row-suffix then "
    "column-suffix gives sum over the strictly-greater quadrant) — no "
    "pair join exists in the plan; cell-mass products are "
    "decimal-widened. One fact pass builds the 50-cell grid.",
)


# ---------------------------------------------------------------------------
# eval_theil_u_forecast — forecast-skill ratio of naive-1 vs naive-7
# ---------------------------------------------------------------------------


def _theil_u(d: str) -> str:
    # U = RMSE(lag-1 naive) / RMSE(lag-7 naive) on the activity-day
    # revenue series per type. Squared integer cent errors fold as
    # decimal(38,0) (a day-revenue delta squares past 2^63 at fleet
    # scale); the final ratio is one fixed double expression.
    return f"""
    WITH dd AS (
        SELECT event_type, {_day_idx(d)} AS di,
            {S.isum(_EV_CENTS, d)} AS v
        FROM events WHERE value IS NOT NULL AND value >= 0
        GROUP BY event_type, {_day_idx(d)}
    ),
    lg AS (
        SELECT event_type, di, v,
            lag(v, 1) OVER (PARTITION BY event_type ORDER BY di) AS l1,
            lag(v, 7) OVER (PARTITION BY event_type ORDER BY di) AS l7
        FROM dd
    ),
    agg AS (
        SELECT event_type,
            {S.isum('CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END', d)} AS n1,
            {S.isum('CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END', d)} AS n7,
            cast(sum(CASE WHEN l1 IS NOT NULL
                THEN {_dmul('v - l1', 'v - l1')} END)
                as decimal(38,0)) AS sse1,
            cast(sum(CASE WHEN l7 IS NOT NULL
                THEN {_dmul('v - l7', 'v - l7')} END)
                as decimal(38,0)) AS sse7
        FROM lg GROUP BY event_type
    )
    SELECT event_type, n1 AS n_step1, n7 AS n_step7,
        {_r6u('sqrt(cast(sse1 as double) / cast(n1 as double))')}
            AS rmse_naive1_cents,
        {_r6u('sqrt(cast(sse7 as double) / cast(n7 as double))')}
            AS rmse_naive7_cents,
        {_r6u('sqrt(cast(sse1 as double) / cast(n1 as double)) '
              '/ nullif(sqrt(cast(sse7 as double) / cast(n7 as double)), '
              'cast(0 as double))')} AS theil_u
    FROM agg WHERE n7 > 0
    ORDER BY event_type
    """


pair(
    "eval_theil_u_forecast",
    _theil_u,
    tags=("eval", "timeseries"),
    doc="Theil's U forecast-skill ratio per event type: RMSE of the "
    "lag-1 naive forecast over RMSE of the 7-step-back naive on the "
    "activity-day revenue series — U < 1 means yesterday predicts better "
    "than last week (momentum), U > 1 means weekly seasonality "
    "dominates. Squared cent errors are decimal-widened before the "
    "order-free decimal sum; the series is the (type, day) grid from "
    "one fact pass, windows ride the grid.",
)


# ---------------------------------------------------------------------------
# eval_power_twoprop — two-proportion sample-size planner
# ---------------------------------------------------------------------------


def _power_twoprop(d: str) -> str:
    # Classic two-proportion power formula with alpha = 0.05 two-sided
    # (z = 1.959964) and power 80% (z = 0.841621) as literals; the
    # observed weekday/weekend high-value shares are the design inputs.
    # Weekend from the epoch-day index: day 0 (1970-01-01) was a
    # Thursday, so di % 7 in (2, 3) is Sat/Sun — pure integer arithmetic,
    # no timezone or locale surface.
    wk = f"CASE WHEN ({_day_idx(d)}) % 7 IN (2, 3) THEN 1 ELSE 0 END"
    return f"""
    WITH g AS (
        SELECT event_type, {wk} AS we,
            cast(count(*) as bigint) AS n,
            {S.isum(f'CASE WHEN {_EV_CENTS} >= 5000 THEN 1 ELSE 0 END', d)}
                AS hi
        FROM events WHERE value IS NOT NULL AND value >= 0
        GROUP BY event_type, {wk}
    ),
    piv AS (
        SELECT event_type,
            {S.isum('CASE WHEN we = 0 THEN n ELSE 0 END', d)} AS n1,
            {S.isum('CASE WHEN we = 0 THEN hi ELSE 0 END', d)} AS h1,
            {S.isum('CASE WHEN we = 1 THEN n ELSE 0 END', d)} AS n2,
            {S.isum('CASE WHEN we = 1 THEN hi ELSE 0 END', d)} AS h2
        FROM g GROUP BY event_type
    ),
    p AS (
        SELECT event_type, n1, n2,
            cast(h1 as double) / cast(n1 as double) AS p1,
            cast(h2 as double) / cast(n2 as double) AS p2,
            cast(h1 + h2 as double) / cast(n1 + n2 as double) AS pbar
        FROM piv WHERE n1 > 0 AND n2 > 0
    )
    SELECT event_type, n1 AS n_weekday, n2 AS n_weekend,
        {_r6u('p1')} AS p_weekday, {_r6u('p2')} AS p_weekend,
        {_r6u('abs(p1 - p2)')} AS observed_lift,
        cast(ceiling(
            (cast(1.959964 as double)
                * sqrt(cast(2 as double) * pbar
                    * (cast(1 as double) - pbar))
             + cast(0.841621 as double)
                * sqrt(p1 * (cast(1 as double) - p1)
                    + p2 * (cast(1 as double) - p2)))
            * (cast(1.959964 as double)
                * sqrt(cast(2 as double) * pbar
                    * (cast(1 as double) - pbar))
             + cast(0.841621 as double)
                * sqrt(p1 * (cast(1 as double) - p1)
                    + p2 * (cast(1 as double) - p2)))
            / nullif((p1 - p2) * (p1 - p2), cast(0 as double)))
            as bigint) AS n_required_per_arm
    FROM p
    ORDER BY event_type
    """


pair(
    "eval_power_twoprop",
    _power_twoprop,
    tags=("eval", "stats"),
    doc="Two-proportion power planner per event type: given the observed "
    "weekday vs weekend high-value shares (>= $50), the minimum per-arm "
    "sample size to detect that lift at alpha = 0.05 two-sided with 80% "
    "power — the experiment-design closer for the weekday/weekend lift "
    "screen (events_weekday_weekend_lift measures it, this query says "
    "how much data confirms it). Normal quantiles are fixed literals "
    "(1.959964, 0.841621); weekend comes from epoch-day % 7 (day 0 was "
    "Thursday) so no timezone surface; everything after the one "
    "(type x weekend-flag) grid pass is a 10-row computation.",
)


# ---------------------------------------------------------------------------
# audit_srm_assignment — sample-ratio-mismatch test on the hash split
# ---------------------------------------------------------------------------


def _srm(d: str) -> str:
    # The A/B hygiene check: hash users into two arms with the SAME
    # portable 60-bit hash the samplers use, then chi-square the arm
    # counts against 50/50. (n_a - n_b)^2 / n is the 1-df chi-square
    # identity for equal expectations; 3.841459 is its 95th percentile.
    h = S.portable_hash64("cast(user_id as string)", d, seed="'srm'")
    return f"""
    WITH u AS (
        SELECT user_id, ({h}) % 2 AS arm
        FROM (SELECT DISTINCT user_id FROM events) t
    ),
    agg AS (
        SELECT cast(count(*) as bigint) AS n,
            {S.isum('CASE WHEN arm = 0 THEN 1 ELSE 0 END', d)} AS na,
            {S.isum('CASE WHEN arm = 1 THEN 1 ELSE 0 END', d)} AS nb
        FROM u
    )
    SELECT n AS n_users, na AS n_arm_a, nb AS n_arm_b,
        {_r6u('cast((na - nb) * (na - nb) as double) '
              '/ nullif(cast(n as double), cast(0 as double))')}
            AS chi2_srm,
        CASE WHEN cast((na - nb) * (na - nb) as double)
            / nullif(cast(n as double), cast(0 as double))
            > cast(3.841459 as double) THEN 1 ELSE 0 END AS srm_flag
    FROM agg
    """


pair(
    "audit_srm_assignment",
    _srm,
    tags=("audit", "eval"),
    doc="Sample-ratio-mismatch audit of the deterministic hash "
    "assignment: users hash into two arms with the same portable 60-bit "
    "MD5-prefix hash the samplers use (text_train_val_split's family, "
    "seeded 'srm'), and the arm counts face the 1-df chi-square identity "
    "(n_a - n_b)^2 / n against its 95th percentile 3.841459. An SRM flag "
    "on a deterministic hash means the hash itself is biased on this id "
    "population — the audit that validates every hash-split sampler in "
    "the registry. One distinct-user pass, then a 2-row aggregate.",
)


# Order-free decimal sum keeping the full 9-dp quantization (the
# diagnostics_ops._dsum9 discipline, local so this module's survival
# sums don't import a private sibling helper).
def _d9(expr: str) -> str:
    return f"cast(sum(cast(({expr}) as decimal(38,9))) as double)"


# ---------------------------------------------------------------------------
# Shared survival-subject core (events_logrank_test / events_nelson_aalen)
# ---------------------------------------------------------------------------


def _subj_core(d: str) -> str:
    """(user, arm, event-flag, minute-bucketed time) — the KM subject table
    of events_survival_km (traindata_ops) with the SRM hash arm attached:
    time-to-purchase from first view, right-censored at the observation
    horizon. Three fact passes (first view, first qualifying purchase,
    horizon) — the checkpointed core every consumer shares."""
    ep = S.epoch_s("ts", d)
    h = S.portable_hash64("cast(fv.user_id as string)", d, seed="'srm'")
    return f"""
        SELECT fv.user_id, ({h}) % 2 AS arm,
            CASE WHEN fp.p IS NOT NULL THEN 1 ELSE 0 END AS ev,
            cast(floor(CASE WHEN fp.p IS NOT NULL THEN fp.p - fv.v
                            ELSE mx.m - fv.v END / 60.0) as bigint) AS t
        FROM (
            SELECT user_id, min({ep}) AS v
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ) fv
        LEFT JOIN (
            SELECT e.user_id, min({ep}) AS p
            FROM events e
            JOIN (SELECT user_id, min({ep}) AS v FROM events
                  WHERE event_type = 'view' GROUP BY user_id) v2
                ON v2.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND {ep} >= v2.v
            GROUP BY e.user_id
        ) fp ON fp.user_id = fv.user_id,
        (SELECT max({ep}) AS m FROM events) mx
    """


def _logrank(d: str, subj: str) -> str:
    # Standard two-group log-rank: at each distinct subject time the
    # (time x arm) grid carries deaths d and leavers c; at-risk counts
    # are ONE descending cumulative window per arm over the dense grid.
    # O1 - E1 and the hypergeometric variance fold as 9-dp-quantized
    # decimal sums of per-time doubles (each term's expression tree is
    # fixed, so both engines compute bit-identical summands).
    return f"""
    WITH subj AS ({subj}),
    cell AS (
        SELECT t, arm, cast(count(*) as bigint) AS c,
            {S.isum('ev', d)} AS dd
        FROM subj GROUP BY t, arm
    ),
    tg AS (SELECT DISTINCT t, 1 AS k FROM cell),
    ag AS (SELECT DISTINCT arm, 1 AS k FROM cell),
    full_g AS (
        SELECT tg.t, ag.arm, coalesce(cell.c, 0) AS c,
            coalesce(cell.dd, 0) AS dd
        FROM tg JOIN ag ON ag.k = tg.k
        LEFT JOIN cell ON cell.t = tg.t AND cell.arm = ag.arm
    ),
    risk AS (
        SELECT t, arm, dd,
            cast(sum(c) OVER (PARTITION BY arm ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                as bigint) AS n_arm
        FROM full_g
    ),
    tt AS (
        SELECT t,
            {S.isum('dd', d)} AS d_t,
            {S.isum('CASE WHEN arm = 1 THEN dd ELSE 0 END', d)} AS d1_t,
            {S.isum('n_arm', d)} AS n_t,
            {S.isum('CASE WHEN arm = 1 THEN n_arm ELSE 0 END', d)} AS n1_t
        FROM risk GROUP BY t
    ),
    terms AS (
        SELECT t, d_t, d1_t, n_t, n1_t,
            cast(d_t as double) * cast(n1_t as double)
                / cast(n_t as double) AS e1_t,
            CASE WHEN n_t > 1 THEN
                cast(d_t as double)
                * (cast(n1_t as double) / cast(n_t as double))
                * (cast(1 as double)
                    - cast(n1_t as double) / cast(n_t as double))
                * cast(n_t - d_t as double) / cast(n_t - 1 as double)
            ELSE cast(0 as double) END AS v_t
        FROM tt WHERE d_t > 0
    )
    SELECT {S.isum('d_t', d)} AS n_events,
        {S.isum('d1_t', d)} AS observed_grp1,
        {_r6u(_d9('e1_t'))} AS expected_grp1,
        {_r6u(f"(cast(sum(d1_t) as double) - {_d9('e1_t')}) "
              f"* (cast(sum(d1_t) as double) - {_d9('e1_t')}) "
              f"/ nullif({_d9('v_t')}, cast(0 as double))")}
            AS chi2_logrank,
        CASE WHEN (cast(sum(d1_t) as double) - {_d9('e1_t')})
            * (cast(sum(d1_t) as double) - {_d9('e1_t')})
            / nullif({_d9('v_t')}, cast(0 as double))
            > cast(3.841459 as double) THEN 1 ELSE 0 END AS reject_95
    FROM terms
    """


pair(
    "events_logrank_test",
    _logrank,
    shared={"subj": _subj_core},
    tags=("events", "stats"),
    doc="Two-group log-rank test on view->purchase survival: do the two "
    "hash arms (the SAME portable-hash assignment audit_srm_assignment "
    "validates) convert at the same rate over time? Subjects are "
    "events_survival_km's right-censored minute-bucketed table with the "
    "arm attached; at-risk counts are one descending cumulative window "
    "per arm over the dense (time x arm) grid (bounded by distinct event "
    "times, not rows); O-E and the hypergeometric variance are "
    "9-dp-quantized decimal sums of fixed-expression doubles, closed by "
    "the 1-df chi-square decision at 3.841459. The subject core is "
    "localCheckpointed: three fact passes (first view, first qualifying "
    "purchase, horizon) feed every consumer. Reference: "
    "SERVER/subscriber.py's collapse-watch cohorts, compared properly.",
)


# ---------------------------------------------------------------------------
# events_nelson_aalen — cumulative-hazard sibling of the KM curve
# ---------------------------------------------------------------------------


def _nelson_aalen(d: str, subj: str) -> str:
    # H(t) = sum_{t_i <= t} d_i / n_i and its Poisson variance
    # sum d_i / n_i^2: each increment is one exact double division
    # (deterministic), 9-dp-quantized, then an exact decimal cumulative
    # sum — no exp/ln at all, unlike the KM product.
    return f"""
    WITH subj AS ({subj}),
    agg AS (
        SELECT t, {S.isum('ev', d)} AS d_ev,
            cast(count(*) as bigint) AS c
        FROM subj GROUP BY t
    ),
    risk AS (
        SELECT t, d_ev,
            cast(sum(c) OVER (ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                as bigint) AS n_risk
        FROM agg
    ),
    steps AS (
        SELECT t, d_ev, n_risk,
            cast(cast(d_ev as double) / cast(n_risk as double)
                as decimal(38,9)) AS dh,
            cast(cast(d_ev as double)
                / (cast(n_risk as double) * cast(n_risk as double))
                as decimal(38,9)) AS dv
        FROM risk
    )
    SELECT t AS t_minutes, n_risk AS n_at_risk, d_ev AS n_events,
        {_r6u('cast(sum(dh) OVER (ORDER BY t '
              'ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) '
              'as double)')} AS na_cumhazard,
        {_r6u('cast(sum(dv) OVER (ORDER BY t '
              'ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) '
              'as double)')} AS var_cumhazard
    FROM steps WHERE d_ev > 0
    ORDER BY t_minutes
    """


pair(
    "events_nelson_aalen",
    _nelson_aalen,
    shared={"subj": _subj_core},
    tags=("events", "stats"),
    doc="Nelson-Aalen cumulative hazard of view->purchase conversion: "
    "the estimator-of-choice when hazard INCREMENTS matter (a conversion "
    "campaign shows as a hazard step, invisible in the KM product's "
    "compounding). Same right-censored minute-grid subject table as "
    "events_survival_km; H(t) = cumsum d/n and its Poisson variance "
    "cumsum d/n^2 are exact decimal cumulative sums of 9-dp-quantized "
    "single divisions — no exp/ln at all, so the only libm surface the "
    "KM sibling carries is gone here. The subject core is "
    "localCheckpointed (three fact passes feed every consumer).",
)


# ---------------------------------------------------------------------------
# events_interarrival_expgof — exponential GOF on inter-arrival times
# ---------------------------------------------------------------------------


def _expgof(d: str) -> str:
    # A Poisson arrival stream has exponential inter-arrivals; bots and
    # schedulers show too-regular (or too-bursty) gaps. Chi-square GOF
    # against the rate-fitted exponential on SEVEN fixed second buckets:
    # expected masses use exp(-edge/mu) — one libm exp per bucket edge
    # on an identical double, the events_survival_km precedent — and the
    # (O-E)^2/E terms are 9-dp-quantized before the order-free sum.
    # df = 7 - 1 - 1 (rate estimated); chi2(5) 95th pct = 11.070498.
    ep = S.epoch_s("ts", d)
    bkt = (
        "CASE WHEN g < 60 THEN 0 WHEN g < 300 THEN 1 WHEN g < 900 THEN 2 "
        "WHEN g < 3600 THEN 3 WHEN g < 14400 THEN 4 WHEN g < 86400 THEN 5 "
        "ELSE 6 END"
    )
    lo = "CASE b WHEN 0 THEN 0 WHEN 1 THEN 60 WHEN 2 THEN 300 WHEN 3 THEN 900 WHEN 4 THEN 3600 WHEN 5 THEN 14400 ELSE 86400 END"
    hi = "CASE b WHEN 0 THEN 60 WHEN 1 THEN 300 WHEN 2 THEN 900 WHEN 3 THEN 3600 WHEN 4 THEN 14400 WHEN 5 THEN 86400 ELSE -1 END"
    return f"""
    WITH seq AS (
        SELECT event_type, {ep} AS e, event_id
        FROM events
    ),
    gaps AS (
        SELECT event_type,
            e - lag(e) OVER (PARTITION BY event_type
                ORDER BY e, event_id) AS g
        FROM seq
    ),
    gv AS (SELECT event_type, g FROM gaps WHERE g IS NOT NULL),
    ob AS (
        SELECT event_type, {bkt} AS b, cast(count(*) as bigint) AS o
        FROM gv GROUP BY event_type, {bkt}
    ),
    mu AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
            cast(sum(g) as double) / cast(count(*) as double) AS m
        FROM gv GROUP BY event_type
    ),
    bg AS (
        SELECT mu.event_type, mu.n, mu.m, b.b
        FROM mu JOIN (SELECT DISTINCT b, 1 AS k FROM ob) b ON 1 = b.k
    ),
    cells AS (
        SELECT bg.event_type, bg.n, bg.m, bg.b,
            coalesce(ob.o, 0) AS o,
            cast(bg.n as double)
                * (exp(-cast(({lo.replace('b ', 'bg.b ')}) as double)
                        / nullif(bg.m, cast(0 as double)))
                   - CASE WHEN ({hi.replace('b ', 'bg.b ')}) = -1
                        THEN cast(0 as double)
                        ELSE exp(-cast(({hi.replace('b ', 'bg.b ')})
                            as double)
                            / nullif(bg.m, cast(0 as double))) END) AS e
        FROM bg LEFT JOIN ob
            ON ob.event_type = bg.event_type AND ob.b = bg.b
    )
    SELECT event_type, max(n) AS n_gaps,
        {_r6u('max(m)')} AS mean_gap_s,
        {_r6u('least(' + _d9('least(CASE WHEN e > 0 THEN '
                             '(cast(o as double) - e) '
                             '* (cast(o as double) - e) / e ELSE 0 END, '
                             'cast(1000000000 as double))')
              + ', cast(1000000000 as double))')}
            AS chi2_expfit,
        CASE WHEN {_d9('least(CASE WHEN e > 0 THEN '
                       '(cast(o as double) - e) '
                       '* (cast(o as double) - e) / e ELSE 0 END, '
                       'cast(1000000000 as double))')}
            > cast(11.070498 as double) THEN 1 ELSE 0 END
            AS reject_95
    FROM cells
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "events_interarrival_expgof",
    _expgof,
    tags=("events", "stats"),
    doc="Exponential goodness-of-fit on per-type inter-arrival gaps: a "
    "genuine Poisson stream passes, bots and schedulers fail (too "
    "regular) as do campaign bursts (too heavy at zero). Gaps come from "
    "one lag window ordered by (epoch second, event_id — deterministic "
    "tiebreak); observed counts land on SEVEN fixed second-edge buckets; "
    "expected masses are n * (exp(-lo/mu) - exp(-hi/mu)) with the rate "
    "fitted from the mean gap; (O-E)^2/E terms are 9-dp-quantized before "
    "the order-free decimal sum, df = 5 with the 95th percentile at "
    "11.070498. The bucket fan-out is types x 7 — a constant-key "
    "equi-join. Degenerate guards: an all-tied-timestamp stream (mean "
    "gap 0) nullifs the rate so chi2 reads 0, and the reported chi2 is "
    "clamped to 1e9 — far beyond any decision threshold — because an "
    "astronomic chi2 (duplicate-storm surface) otherwise crosses the "
    "range where Spark's bigint floor() in the 6-dp rounding saturates "
    "while DuckDB's double floor does not; the clamp applies PER TERM "
    "before the 9-dp decimal quantization too, since a near-zero "
    "expected mass (16x replication collapses the rate) drives "
    "(O-E)^2/E past what decimal(38,9) represents — both engines "
    "overflow there, Spark by throwing. Reference: "
    "RECEIVER/stage2_processing.cpp's pool-age heuristics, upgraded to "
    "a proper arrival-process test.",
)


# ---------------------------------------------------------------------------
# window_interarrival_gap_test — Wald-Wolfowitz runs on gap magnitudes
# ---------------------------------------------------------------------------


def _gap_runs(d: str) -> str:
    # window_runs_test checks daily VALUE moves; this screens ARRIVAL
    # regularity: gaps above vs at-or-below the per-type lower median
    # should alternate randomly — a bot emits long same-sign runs
    # (steady cadence broken by maintenance windows). The lower median
    # is the first grid value whose cumulative count reaches ceil(n/2)
    # (exact integers); signs ride the event sequence, runs count via
    # one lag window, z against the runs-test null.
    ep = S.epoch_s("ts", d)
    return f"""
    WITH gaps AS (
        SELECT event_type, e, event_id,
            e - lag(e) OVER (PARTITION BY event_type
                ORDER BY e, event_id) AS g
        FROM (SELECT event_type, {ep} AS e, event_id FROM events) t
    ),
    gv AS (SELECT event_type, e, event_id, g FROM gaps
           WHERE g IS NOT NULL),
    grid AS (
        SELECT event_type, g, cast(count(*) as bigint) AS c
        FROM gv GROUP BY event_type, g
    ),
    med AS (
        SELECT event_type, min(g) AS medg
        FROM (
            SELECT event_type, g,
                sum(c) OVER (PARTITION BY event_type ORDER BY g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum,
                sum(c) OVER (PARTITION BY event_type) AS n
            FROM grid
        ) t WHERE 2 * cum >= n
        GROUP BY event_type
    ),
    sg AS (
        SELECT gv.event_type, gv.e, gv.event_id,
            CASE WHEN gv.g > med.medg THEN 1 ELSE -1 END AS s
        FROM gv JOIN med ON med.event_type = gv.event_type
    ),
    rr AS (
        SELECT event_type, s,
            CASE WHEN lag(s) OVER (PARTITION BY event_type
                    ORDER BY e, event_id) IS NULL THEN 1
                WHEN s <> lag(s) OVER (PARTITION BY event_type
                    ORDER BY e, event_id) THEN 1
                ELSE 0 END AS new_run
        FROM sg
    ),
    agg AS (
        SELECT event_type,
            {S.isum('new_run', d)} AS runs,
            {S.isum('CASE WHEN s = 1 THEN 1 ELSE 0 END', d)} AS n_up,
            {S.isum('CASE WHEN s = -1 THEN 1 ELSE 0 END', d)} AS n_down
        FROM rr GROUP BY event_type
    )
    SELECT a.event_type, m.medg AS median_gap_s, a.runs,
        a.n_up AS n_above, a.n_down AS n_at_or_below,
        {_r6u('cast(1 as double) + cast(2 * a.n_up * a.n_down as double) '
              '/ nullif(cast(a.n_up + a.n_down as double), '
              'cast(0 as double))')} AS expected_runs,
        {_r6u('(cast(a.runs as double) - (cast(1 as double) '
              '+ cast(2 * a.n_up * a.n_down as double) '
              '/ nullif(cast(a.n_up + a.n_down as double), '
              'cast(0 as double)))) '
              '/ nullif(sqrt(cast(2 * a.n_up * a.n_down as double) '
              '* cast(2 * a.n_up * a.n_down - a.n_up - a.n_down '
              'as double) / (cast(a.n_up + a.n_down as double) '
              '* cast(a.n_up + a.n_down as double) '
              '* cast(nullif(a.n_up + a.n_down - 1, 0) as double))), '
              'cast(0 as double))')} AS z_score
    FROM agg a JOIN med m ON m.event_type = a.event_type
    ORDER BY a.event_type
    """


pair(
    "window_interarrival_gap_test",
    _gap_runs,
    tags=("window", "timeseries", "stats"),
    doc="Wald-Wolfowitz runs test on inter-arrival gap magnitudes per "
    "event type — the arrival-regularity sibling of window_runs_test "
    "(which tests daily value moves): gaps above vs at-or-below the "
    "per-type lower median should alternate randomly; steady bot "
    "cadence produces long same-sign runs and a large negative z. The "
    "lower median is exact (first gap value whose cumulative grid count "
    "reaches half); the sequence order (epoch, event_id) is a "
    "deterministic tiebreak; runs/expectation/variance all integer "
    "until the final z. Scale note: the sign/run windows partition by "
    "event_type ONLY — the operator's semantics are a per-type ordered "
    "sequence, so parallelism is bounded by the type count (16x stress "
    "ratio ~7x, the per-partition sort). At fleet scale run it per "
    "(type, shard-day) and stitch runs at shard boundaries; the global "
    "form here is the exact-statistic reference.",
)


# ---------------------------------------------------------------------------
# profile_round_number_bias — round-amount clustering screen
# ---------------------------------------------------------------------------


def _round_bias(d: str) -> str:
    # Fabricated figures cluster on round amounts (Benford's lesser-known
    # sibling): under the smooth-value null, exact-dollar amounts carry
    # 1/100 of the mass. One-sided z against that binomial null; the
    # multiples-of-$10 count rides the same pass.
    return f"""
    WITH sl AS (
        SELECT event_type, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    agg AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
            {S.isum('CASE WHEN s % 100 = 0 THEN 1 ELSE 0 END', d)}
                AS n_dollar,
            {S.isum('CASE WHEN s % 1000 = 0 THEN 1 ELSE 0 END', d)}
                AS n_ten
        FROM sl GROUP BY event_type
    )
    SELECT event_type, n AS n_values, n_dollar AS exact_dollar,
        n_ten AS exact_ten_dollar,
        {_r6u('cast(100 * n_dollar as double) / cast(n as double)')}
            AS dollar_share_pct,
        {_r6u('(cast(n_dollar as double) - cast(n as double) '
              '/ cast(100 as double)) '
              '/ nullif(sqrt(cast(n as double) * cast(0.0099 as double)), '
              'cast(0 as double))')} AS z_round_bias,
        CASE WHEN (cast(n_dollar as double) - cast(n as double)
                / cast(100 as double))
            / nullif(sqrt(cast(n as double) * cast(0.0099 as double)),
                cast(0 as double))
            > cast(1.644854 as double) THEN 1 ELSE 0 END AS bias_flag
    FROM agg ORDER BY event_type
    """


pair(
    "profile_round_number_bias",
    _round_bias,
    tags=("profile", "forensics"),
    doc="Round-number clustering screen per event type: fabricated or "
    "negotiated figures pile up on exact-dollar and $10 amounts, where "
    "organic 2-dp values spread them 1-in-100. One-sided binomial z "
    "against p = 1/100 (variance literal 0.0099 keeps the expression "
    "tree fixed), decision at the 95th percentile 1.644854. One "
    "grid-free fact pass — counts and moduli only, bigint end-to-end. "
    "The round-amount sibling of profile_last_digit_uniformity (which "
    "screens the digit DISTRIBUTION; this screens the round-amount "
    "EXCESS).",
)


# ---------------------------------------------------------------------------
# profile_split_transactions — below-threshold split reconstruction
# ---------------------------------------------------------------------------


def _split_tx(d: str) -> str:
    # The classic AML split: one logical transfer cut into same-day
    # pieces, each under the $150.00 reporting line (the threshold
    # profile_structuring_screen watches), summing over it. Grouped
    # reconstruction per (user, day) — one hash-agg, integer cents.
    return f"""
    WITH sl AS (
        SELECT user_id, {_day_idx(d)} AS di, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value > 0
    ),
    g AS (
        SELECT user_id, di, cast(count(*) as bigint) AS n_parts,
            {S.isum('s', d)} AS total_cents,
            max(s) AS max_part_cents
        FROM sl WHERE s < 15000
        GROUP BY user_id, di
    )
    SELECT user_id, di AS day_idx, n_parts, total_cents, max_part_cents,
        {_r6u('cast(total_cents as double) / cast(15000 as double)')}
            AS threshold_multiple
    FROM g
    WHERE n_parts >= 3 AND total_cents >= 15000
    ORDER BY user_id, day_idx
    """


pair(
    "profile_split_transactions",
    _split_tx,
    tags=("profile", "forensics"),
    doc="Split-transaction reconstruction: same user, same day, three or "
    "more pieces each under the $150.00 reporting line, summing over it "
    "— the transfer-splitting pattern profile_structuring_screen infers "
    "from band pile-up, reconstructed here as the actual same-day "
    "groups. One (user, day) hash-agg over below-threshold cents; "
    "integer cents end-to-end with the threshold multiple as the only "
    "rounded ratio. At fleet scale the group-by is map-side combinable "
    "and the output is bounded by flagged (user, day) pairs.",
)


# ---------------------------------------------------------------------------
# profile_amount_reuse — cross-account identical-amount screen
# ---------------------------------------------------------------------------


def _amount_reuse(d: str) -> str:
    # Colluding accounts (or one operator behind many) reuse exact
    # amounts; organic 2-dp values rarely collide across users. The
    # cents-grid aggregate is the whole query — no joins.
    return f"""
    WITH sl AS (
        SELECT user_id, {_day_idx(d)} AS di, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value > 0
    ),
    g AS (
        SELECT s, cast(count(*) as bigint) AS n_txns,
            cast(count(DISTINCT user_id) as bigint) AS n_users,
            min(di) AS first_day, max(di) AS last_day
        FROM sl GROUP BY s
    )
    SELECT s AS amount_cents, n_users, n_txns,
        last_day - first_day AS day_span,
        {_r6u('cast(n_txns as double) / cast(n_users as double)')}
            AS txns_per_user
    FROM g
    WHERE n_users >= 2 AND n_txns >= 2
    ORDER BY n_users DESC, n_txns DESC, amount_cents
    """


pair(
    "profile_amount_reuse",
    _amount_reuse,
    tags=("profile", "forensics"),
    doc="Cross-account amount-reuse screen: exact cent amounts appearing "
    "under two or more distinct users — organic 2-dp values rarely "
    "collide, colluding accounts (or one operator splitting across "
    "mules) reuse them. The cents grid aggregate IS the query: one "
    "map-side-combinable pass, distinct-user counts per amount, day "
    "span from the same grid. Output bounded by colliding amounts, "
    "deterministically ordered by spread.",
)


# ---------------------------------------------------------------------------
# profile_card_testing_runs — consecutive same-band amount runs
# ---------------------------------------------------------------------------


def _card_testing(d: str) -> str:
    # Card-testing bots probe with rapid bursts in the same $10 band
    # (cents vary to dodge naive exact-match filters). Gaps-and-islands
    # on the per-user event sequence: a new run starts when the band
    # changes; run ids are one cumulative window, run stats one agg.
    ep = S.epoch_s("ts", d)
    return f"""
    WITH sq AS (
        SELECT user_id, {ep} AS e, event_id,
            {S.idiv(_EV_CENTS, '1000', d)} AS band
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    mk AS (
        SELECT user_id, e, event_id, band,
            CASE WHEN lag(band) OVER (PARTITION BY user_id
                    ORDER BY e, event_id) IS NULL THEN 1
                WHEN band <> lag(band) OVER (PARTITION BY user_id
                    ORDER BY e, event_id) THEN 1
                ELSE 0 END AS new_run
        FROM sq
    ),
    rid AS (
        SELECT user_id, band,
            cast(sum(new_run) OVER (PARTITION BY user_id
                ORDER BY e, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                as bigint) AS run_id
        FROM mk
    ),
    runs AS (
        SELECT user_id, run_id, band,
            cast(count(*) as bigint) AS run_len
        FROM rid GROUP BY user_id, run_id, band
    ),
    per_u AS (
        SELECT user_id, max(run_len) AS max_run,
            {S.isum('CASE WHEN run_len >= 2 THEN 1 ELSE 0 END', d)}
                AS n_runs_ge2,
            cast(count(*) as bigint) AS n_runs
        FROM runs GROUP BY user_id
    ),
    band_of_max AS (
        SELECT r.user_id, min(r.band) AS max_run_band
        FROM runs r JOIN per_u p
            ON p.user_id = r.user_id AND r.run_len = p.max_run
        GROUP BY r.user_id
    )
    SELECT p.user_id, p.max_run AS longest_run, p.n_runs_ge2,
        p.n_runs AS n_runs_total, b.max_run_band * 1000 AS run_band_cents
    FROM per_u p JOIN band_of_max b ON b.user_id = p.user_id
    WHERE p.max_run >= 2
    ORDER BY p.max_run DESC, p.user_id
    """


pair(
    "profile_card_testing_runs",
    _card_testing,
    tags=("profile", "forensics"),
    doc="Card-testing run screen: per user, the longest run of "
    "CONSECUTIVE events in the same $10 amount band (testing bots burst "
    "probes in a narrow band, varying cents to dodge exact-match "
    "filters). Gaps-and-islands with a deterministic (epoch, event_id) "
    "order: run boundaries from one lag window, run ids from one "
    "cumulative sum, the longest run's band tie-broken to the smallest. "
    "All windows partition by user — no global single-partition window "
    "at any scale.",
)


# ---------------------------------------------------------------------------
# profile_sequence_integrity — order-key gap/duplicate audit
# ---------------------------------------------------------------------------


def _seq_integrity(d: str) -> str:
    # Invoice-sequence testing: within each priority class the order
    # keys sample the global sequence; missing-range mass and duplicate
    # counts localize ledger tampering (deleted or double-posted
    # documents). Lag gaps ride a per-class window over DISTINCT keys.
    return f"""
    WITH k AS (
        SELECT o_orderpriority AS pri, o_orderkey AS okey
        FROM orders
    ),
    dk AS (
        SELECT pri, okey, cast(count(*) as bigint) AS reps
        FROM k GROUP BY pri, okey
    ),
    gaps AS (
        SELECT pri, okey, reps,
            okey - lag(okey) OVER (PARTITION BY pri ORDER BY okey) - 1
                AS gap
        FROM dk
    )
    SELECT pri AS priority_class,
        {S.isum('reps', d)} AS n_rows,
        cast(count(*) as bigint) AS n_distinct_keys,
        {S.isum('reps', d)} - cast(count(*) as bigint) AS n_duplicates,
        min(okey) AS min_key, max(okey) AS max_key,
        {S.isum('CASE WHEN gap > 0 THEN gap ELSE 0 END', d)}
            AS missing_in_range,
        max(CASE WHEN gap > 0 THEN gap ELSE 0 END) AS largest_gap,
        {_r6u('cast(count(*) as double) '
              '/ cast(max(okey) - min(okey) + 1 as double)')}
            AS coverage_ratio
    FROM gaps GROUP BY pri ORDER BY pri
    """


pair(
    "profile_sequence_integrity",
    _seq_integrity,
    tags=("profile", "forensics"),
    doc="Sequence-integrity audit of order keys per priority class — the "
    "invoice-numbering test auditors run for deleted or double-posted "
    "documents: duplicates (rows minus distinct keys), missing-range "
    "mass and the largest gap from one lag window over distinct keys, "
    "coverage of the [min, max] span. Integer end-to-end; the per-class "
    "window partitions on the class key so no global sort exists at "
    "any scale.",
)


# ---------------------------------------------------------------------------
# profile_velocity_screen — week-over-week activity acceleration
# ---------------------------------------------------------------------------


def _velocity(d: str) -> str:
    # Fraud rings spin accounts up fast; the screen is the week-over-week
    # count acceleration per user. The previous week resolves via lag
    # PLUS a week-adjacency check, so a silent zero-activity week reads
    # as prev = 0 WITHOUT materializing the dense user x week grid (at
    # fleet scale users x calendar is a row-scale fan-out; the lag trick
    # keeps the output bounded by ACTIVE (user, week) pairs).
    wk = S.idiv(_day_idx(d), "7", d)
    return f"""
    WITH w AS (
        SELECT user_id, {wk} AS wk, cast(count(*) as bigint) AS n
        FROM events GROUP BY user_id, {wk}
    ),
    lagd AS (
        SELECT user_id, wk, n,
            CASE WHEN lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                    = wk - 1
                THEN lag(n) OVER (PARTITION BY user_id ORDER BY wk)
                ELSE 0 END AS prev_n
        FROM w
    )
    SELECT user_id, wk AS week_idx, prev_n, n,
        {_r6u('cast(n as double) / nullif(cast(prev_n as double), '
              'cast(0 as double))')} AS wow_ratio,
        CASE WHEN n >= 5 AND n >= 2 * prev_n THEN 1 ELSE 0 END
            AS velocity_flag
    FROM lagd
    ORDER BY user_id, week_idx
    """


pair(
    "profile_velocity_screen",
    _velocity,
    tags=("profile", "forensics"),
    doc="Velocity screen: week-over-week event-count acceleration per "
    "user, flagging weeks with >= 5 events at >= 2x the previous week — "
    "the account-spin-up signature. The previous week resolves via lag "
    "plus a week-adjacency check (a skipped week reads as prev = 0), so "
    "the dense user x calendar grid never materializes — output stays "
    "bounded by ACTIVE (user, week) pairs, which is what survives a "
    "billion-user scale-up. One fact pass, one per-user window.",
)


# ---------------------------------------------------------------------------
# window_page_hinkley — sequential drift detector on daily revenue
# ---------------------------------------------------------------------------


def _page_hinkley(d: str) -> str:
    # Page-Hinkley with running mean: m_t = sum_{i<=t} (x_i - xbar_i),
    # PH_t = m_t - min_{i<=t} m_i, alarm when PH_t > lambda ($500.00 =
    # 50000 cents). Each term x_i - S_i/i is ONE fixed double expression
    # (exact integer prefix sums, one division), 9-dp-quantized; the
    # cumulative m and its running min are exact decimal window ops, so
    # the detector state is bit-identical in both engines (a raw double
    # cumulative would hit DuckDB's segment-tree summation order).
    return f"""
    WITH dd AS (
        SELECT event_type, {_day_idx(d)} AS di,
            {S.isum(_EV_CENTS, d)} AS v
        FROM events WHERE value IS NOT NULL AND value >= 0
        GROUP BY event_type, {_day_idx(d)}
    ),
    pre AS (
        SELECT event_type, di, v,
            cast(sum(v) OVER (PARTITION BY event_type ORDER BY di
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                as bigint) AS s,
            cast(row_number() OVER (PARTITION BY event_type ORDER BY di)
                as bigint) AS t
        FROM dd
    ),
    terms AS (
        SELECT event_type, di,
            cast(cast(v as double) - cast(s as double) / cast(t as double)
                as decimal(38,9)) AS term
        FROM pre
    ),
    m AS (
        SELECT event_type, di,
            sum(term) OVER (PARTITION BY event_type ORDER BY di
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
        FROM terms
    ),
    ph AS (
        SELECT event_type, di,
            mt - min(mt) OVER (PARTITION BY event_type ORDER BY di
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phv
        FROM m
    )
    SELECT event_type, cast(count(*) as bigint) AS n_days,
        {_r6u('cast(max(phv) as double)')} AS max_ph_cents,
        min(CASE WHEN phv = max_ph_over THEN di END) AS peak_day,
        min(CASE WHEN phv > 50000 THEN di END) AS first_alarm_day,
        {S.isum('CASE WHEN phv > 50000 THEN 1 ELSE 0 END', d)}
            AS n_alarm_days
    FROM (
        SELECT event_type, di, phv,
            max(phv) OVER (PARTITION BY event_type) AS max_ph_over
        FROM ph
    ) t
    GROUP BY event_type ORDER BY event_type
    """


pair(
    "window_page_hinkley",
    _page_hinkley,
    tags=("window", "timeseries", "stats"),
    doc="Page-Hinkley sequential drift detector on daily revenue per "
    "event type — the upward-shift alarm (the CUSUM sibling "
    "window_cusum_changepoint locates a single break; PH is the ONLINE "
    "detector with a running mean and a $500 alarm threshold). Each "
    "deviation term is a fixed double expression over exact integer "
    "prefix sums, 9-dp-quantized; the detector state (cumulative m and "
    "its running min) is exact decimal window arithmetic, immune to "
    "engine summation-order differences. Output: peak PH mass, its day, "
    "first alarm day, alarm-day count per type.",
)


# ---------------------------------------------------------------------------
# window_amihud_illiquidity — |return| per unit turnover
# ---------------------------------------------------------------------------


def _amihud(d: str) -> str:
    # Amihud (2002) ILLIQ on the daily type series: |revenue return| per
    # transaction — thin streams move a lot per trade. Daily grid first;
    # each day's ratio is exact-integer inputs in one double expression,
    # 9-dp-quantized before the order-free mean.
    return f"""
    WITH dd AS (
        SELECT event_type, {_day_idx(d)} AS di,
            {S.isum(_EV_CENTS, d)} AS v, cast(count(*) as bigint) AS m
        FROM events WHERE value IS NOT NULL AND value >= 0
        GROUP BY event_type, {_day_idx(d)}
    ),
    lg AS (
        SELECT event_type, di, v, m,
            lag(v) OVER (PARTITION BY event_type ORDER BY di) AS pv
        FROM dd
    ),
    r AS (
        SELECT event_type, di,
            abs(cast(v as double) - cast(pv as double))
                / cast(pv as double) / cast(m as double) AS illiq
        FROM lg WHERE pv IS NOT NULL AND pv > 0 AND m > 0
    )
    SELECT event_type, cast(count(*) as bigint) AS n_days,
        {_r6u(f"{_d9('illiq')} / cast(count(*) as double)")}
            AS amihud_illiq,
        {_r6u('max(illiq)')} AS max_day_illiq
    FROM r GROUP BY event_type ORDER BY event_type
    """


pair(
    "window_amihud_illiquidity",
    _amihud,
    tags=("window", "finance"),
    doc="Amihud illiquidity on the daily per-type revenue series: "
    "|day-over-day return| per transaction, averaged — the thinness "
    "measure that flags streams where single trades move the tape (the "
    "microstructure sibling of window_vpin_toxicity). Daily integer "
    "grid first; per-day ratios are fixed double expressions "
    "9-dp-quantized before the order-free mean; max-day ratio rides "
    "the same pass.",
)


# ---------------------------------------------------------------------------
# window_stochastic_k — %K/%D oscillator on the daily close
# ---------------------------------------------------------------------------


def _stochastic_k(d: str) -> str:
    # %K = 100 (close - low14) / (high14 - low14) over a 14-day RANGE
    # frame on the day index (calendar-correct across gaps); %D is the
    # 3-observation decimal mean of quantized %K. The daily close is the
    # last event of the day under the deterministic (epoch, event_id)
    # order.
    ep = S.epoch_s("ts", d)
    return f"""
    WITH sq AS (
        SELECT event_type, {_day_idx(d)} AS di, {_EV_CENTS} AS s,
            row_number() OVER (
                PARTITION BY event_type, {_day_idx(d)}
                ORDER BY {ep} DESC, event_id DESC) AS rn
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    closes AS (
        SELECT event_type, di, s AS c FROM sq WHERE rn = 1
    ),
    hl AS (
        SELECT event_type, di, c,
            min(c) OVER (PARTITION BY event_type ORDER BY di
                RANGE BETWEEN 13 PRECEDING AND CURRENT ROW) AS lo14,
            max(c) OVER (PARTITION BY event_type ORDER BY di
                RANGE BETWEEN 13 PRECEDING AND CURRENT ROW) AS hi14
        FROM closes
    ),
    k AS (
        SELECT event_type, di, c, lo14, hi14,
            cast(CASE WHEN hi14 > lo14 THEN
                cast(100 as double) * cast(c - lo14 as double)
                    / cast(hi14 - lo14 as double)
                ELSE cast(50 as double) END as decimal(38,9)) AS kq
        FROM hl
    ),
    kd AS (
        SELECT event_type, di, c, lo14, hi14, kq,
            cast(sum(kq) OVER (PARTITION BY event_type ORDER BY di
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double)
            / cast(count(kq) OVER (PARTITION BY event_type ORDER BY di
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double)
                AS dv
        FROM k
    )
    SELECT event_type, di AS day_idx, c AS close_cents,
        lo14 AS low14_cents, hi14 AS high14_cents,
        {_r6u('cast(kq as double)')} AS pct_k,
        {_r6u('dv')} AS pct_d,
        CASE WHEN cast(kq as double) > cast(80 as double)
            THEN 1 ELSE 0 END AS overbought,
        CASE WHEN cast(kq as double) < cast(20 as double)
            THEN 1 ELSE 0 END AS oversold
    FROM kd ORDER BY event_type, day_idx
    """


pair(
    "window_stochastic_k",
    _stochastic_k,
    tags=("window", "finance"),
    doc="Stochastic %K/%D oscillator on the daily close of each event "
    "type's value stream — the range-position momentum gauge (closes "
    "near the 14-day high = overbought) completing the TA family with "
    "window_rsi_14 and window_bollinger_bands. The close is the last "
    "event per day under the (epoch, event_id) deterministic order; the "
    "14-day extrema use a RANGE frame on the day index so calendar gaps "
    "count; %K is one fixed double expression on integer cents "
    "(flat-window midpoint 50), 9-dp-quantized so the 3-observation %D "
    "mean is an exact decimal sum.",
)


# ---------------------------------------------------------------------------
# graph_katz_power3 — truncated Katz centrality, dyadic beta
# ---------------------------------------------------------------------------


def _katz3(d: str, de: str) -> str:
    # Katz with beta = 1/2 truncated at 3 hops: score(v) = sum_k beta^k
    # * (# directed walks of length k ending at v). Walk counts fold by
    # the recurrence c_k(v) = sum over in-edges (u, v) of c_{k-1}(u) —
    # two equi-joins after the in-degree pass, decimal-widened (walk
    # counts multiply by degree each hop). The dyadic beta makes the
    # score an EXACT multiple of 1/8: (4 c1 + 2 c2 + c3) / 8.
    return f"""
    WITH de AS ({de}),
    c1 AS (
        SELECT dst AS v, cast(count(*) as decimal(38,0)) AS w
        FROM de GROUP BY dst
    ),
    c2 AS (
        SELECT de.dst AS v, cast(sum(c1.w) as decimal(38,0)) AS w
        FROM de JOIN c1 ON c1.v = de.src
        GROUP BY de.dst
    ),
    c3 AS (
        SELECT de.dst AS v, cast(sum(c2.w) as decimal(38,0)) AS w
        FROM de JOIN c2 ON c2.v = de.src
        GROUP BY de.dst
    )
    SELECT c1.v AS node,
        cast(c1.w as bigint) AS walks1,
        cast(coalesce(c2.w, 0) as bigint) AS walks2,
        cast(coalesce(c3.w, 0) as bigint) AS walks3,
        cast((4 * c1.w + 2 * coalesce(c2.w, 0) + coalesce(c3.w, 0))
            / 8 as double) AS katz_score
    FROM c1
    LEFT JOIN c2 ON c2.v = c1.v
    LEFT JOIN c3 ON c3.v = c1.v
    ORDER BY katz_score DESC, node
    """


def _katz_edges(d: str) -> str:
    # The DISTINCT directed followed-by edges of _reciprocity_core
    # (graph_edge_reciprocity's table), unweighted for clean walk counts.
    return """
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
            ON b.l_orderkey = a.l_orderkey
            AND b.l_linenumber = a.l_linenumber + 1
        WHERE a.l_partkey <> b.l_partkey
    """


pair(
    "graph_katz_power3",
    _katz3,
    shared={"de": _katz_edges},
    tags=("graph",),
    doc="Katz centrality truncated at 3 hops with dyadic beta = 1/2 on "
    "the directed followed-by part graph (graph_edge_reciprocity's edge "
    "set, deduplicated): score = (4 w1 + 2 w2 + w3) / 8 where w_k "
    "counts directed k-walks ending at the node — an EXACT multiple of "
    "1/8, so no libm pow and no rounding at all. Walk counts fold by "
    "c_k(v) = sum_{(u,v)} c_{k-1}(u): one in-degree pass plus two "
    "equi-joins on the checkpointed edge table, decimal-widened since "
    "walk counts multiply by degree each hop. The attenuated sibling of "
    "graph_pagerank_power3's normalized flow.",
)


# ---------------------------------------------------------------------------
# agg_atkinson_index — welfare-based inequality, eps = 1 and 2
# ---------------------------------------------------------------------------


def _atkinson(d: str) -> str:
    # A(1) = 1 - geomean/mean, A(2) = 1 - harmonic/mean: the inequality
    # trio closer (gini = rank-based, theil = entropy-based, atkinson =
    # welfare-based). ln terms ride the _dsum9 discipline; reciprocals
    # are scaled by 1e5 BEFORE quantization so a 9-dp decimal keeps full
    # precision on cent amounts up to $10^5 (1/s alone would leave 4
    # significant digits at the top of the range).
    return f"""
    WITH sl AS (
        SELECT event_type, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value > 0
    ),
    agg AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
            {S.isum('s', d)} AS tot,
            {_d9('ln(cast(s as double))')} AS sln,
            {_d9('cast(100000 as double) / cast(s as double)')} AS sinv
        FROM sl GROUP BY event_type
    )
    SELECT event_type, n AS n_values,
        {_r6u('cast(tot as double) / cast(n as double)')} AS mean_cents,
        {_r6u('cast(1 as double) - exp(sln / cast(n as double)) '
              '/ (cast(tot as double) / cast(n as double))')}
            AS atkinson_eps1,
        {_r6u('cast(1 as double) - (cast(n as double) '
              '* cast(100000 as double) / sinv) '
              '/ (cast(tot as double) / cast(n as double))')}
            AS atkinson_eps2
    FROM agg ORDER BY event_type
    """


pair(
    "agg_atkinson_index",
    _atkinson,
    tags=("agg", "stats"),
    doc="Atkinson inequality index per event type at inequality aversion "
    "eps = 1 (1 - geometric/arithmetic mean) and eps = 2 (1 - "
    "harmonic/arithmetic) — the welfare-based closer of the inequality "
    "family (agg_gini_value ranks, agg_theil_inequality entropies, "
    "agg_lorenz_deciles curves). ln terms are 9-dp-quantized decimal "
    "sums (the _dsum9 discipline); reciprocals are scaled 1e5 before "
    "quantization to keep full precision across the cent range; means "
    "are exact integer ratios. One fact pass, four aggregates.",
)


# ---------------------------------------------------------------------------
# text_code_prose_detect — code-vs-prose heuristic gate
# ---------------------------------------------------------------------------


def _code_detect(d: str) -> str:
    # LLM corpus curation needs a cheap code gate before routing to
    # code-specific cleaning. Symbol density via length-after-translate
    # (exact integer char counts, no regex), classified per doc, then
    # profiled per source. translate deletes chars with no counterpart
    # in both engines (PostgreSQL semantics). len is filtered > 0, but
    # the nullif guards on the density denominators must stay: when
    # every text constant-folds to a literal '' (the --empty-text
    # surface) Catalyst's ConstantFolding evaluates the division at
    # PLAN time — before the filter exists — and ANSI throws
    # DIVIDE_BY_ZERO during optimization.
    sym = "length(text) - length(translate(text, '{}();=<>[]#', ''))"
    sem = "length(text) - length(replace(text, ';', ''))"
    dig = "length(text) - length(translate(text, '0123456789', ''))"
    return f"""
    WITH per_doc AS (
        SELECT doc_id, source,
            cast(length(text) as bigint) AS len,
            cast({sym} as bigint) AS n_sym,
            cast({sem} as bigint) AS n_semi,
            cast({dig} as bigint) AS n_dig
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    cls AS (
        SELECT doc_id, source, len, n_sym, n_dig,
            CASE WHEN 100 * n_sym >= 3 * len
                OR 100 * n_semi >= 1 * len THEN 1 ELSE 0 END AS is_code
        FROM per_doc
    )
    SELECT source, cast(count(*) as bigint) AS n_docs,
        {S.isum('is_code', d)} AS n_code,
        {_r6u('cast(sum(is_code) as double) / cast(count(*) as double)')}
            AS code_ratio,
        {_r6u(f"{_d9('cast(n_sym as double) / nullif(cast(len as double), cast(0 as double))')}"
              ' / cast(count(*) as double)')} AS avg_symbol_density,
        {_r6u(f"{_d9('cast(n_dig as double) / nullif(cast(len as double), cast(0 as double))')}"
              ' / cast(count(*) as double)')} AS avg_digit_density
    FROM cls GROUP BY source ORDER BY source
    """


pair(
    "text_code_prose_detect",
    _code_detect,
    tags=("text", "llm"),
    doc="Code-vs-prose heuristic gate per source: a doc classifies as "
    "code when structural symbols ({}();=<>[]#) reach 3% of characters "
    "or semicolons reach 1% — the cheap router an LLM-corpus pipeline "
    "runs before code-specific cleaning (the curation sibling of "
    "text_filter_gate's prose-quality gate). Char counts are exact "
    "integers via length-after-translate (no regex, no tokenizer); the "
    "classification inequality is cross-multiplied so no division "
    "enters the decision; per-source densities are 9-dp-quantized "
    "decimal means. One fact pass.",
)


# ---------------------------------------------------------------------------
# mlprep_chi2_feature_select — chi-square relevance in ONE grouping-sets pass
# ---------------------------------------------------------------------------


def _chi2_select(d: str) -> str:
    # Three candidate features (hour-of-day, weekday, $30 value band)
    # scored against the purchase label with ONE fact pass: GROUPING
    # SETS builds all three (bin, label) contingency grids in a single
    # map-side-combinable aggregate; marginals and expectations ride
    # window sums over the bounded grids. Output: chi2, Cramer's V and
    # rank per feature — the model-free feature-selection step before
    # mlprep_decision_stump / mlprep_naive_bayes.
    ep = S.epoch_s("ts", d)
    hb = S.idiv(f"({ep}) % 86400", "3600", d)
    wd = f"({_day_idx(d)}) % 7"
    vb = f"least(9, {S.idiv(_EV_CENTS, '3000', d)})"
    return f"""
    WITH base AS (
        SELECT {hb} AS hb, {wd} AS wd, {vb} AS vb,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lbl
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    cells AS (
        SELECT
            CASE WHEN grouping(hb) = 0 THEN 'hour_of_day'
                 WHEN grouping(wd) = 0 THEN 'weekday'
                 ELSE 'value_band' END AS feature,
            coalesce(CASE WHEN grouping(hb) = 0 THEN hb
                 WHEN grouping(wd) = 0 THEN wd ELSE vb END, -1) AS bin,
            lbl, cast(count(*) as bigint) AS o
        FROM base
        GROUP BY GROUPING SETS ((hb, lbl), (wd, lbl), (vb, lbl)), lbl
    ),
    marg AS (
        SELECT feature, bin, lbl, o,
            cast(sum(o) OVER (PARTITION BY feature, bin) as bigint)
                AS row_tot,
            cast(sum(o) OVER (PARTITION BY feature, lbl) as bigint)
                AS col_tot,
            cast(sum(o) OVER (PARTITION BY feature) as bigint) AS n
        FROM cells
    ),
    chi AS (
        SELECT feature, max(n) AS n,
            cast(count(DISTINCT bin) as bigint) AS n_bins,
            {_r6u(_d9(
                '(cast(o as double) - cast(row_tot as double) '
                '* cast(col_tot as double) / cast(n as double)) '
                '* (cast(o as double) - cast(row_tot as double) '
                '* cast(col_tot as double) / cast(n as double)) '
                '/ (cast(row_tot as double) * cast(col_tot as double) '
                '/ cast(n as double))'))} AS chi2
        FROM marg GROUP BY feature
    )
    SELECT feature, n AS n_rows, n_bins, n_bins - 1 AS dof,
        chi2 AS chi2_stat,
        {_r6u('sqrt(chi2 / cast(n as double))')} AS cramers_v,
        row_number() OVER (ORDER BY chi2 DESC, feature) AS relevance_rank
    FROM chi ORDER BY relevance_rank
    """


pair(
    "mlprep_chi2_feature_select",
    _chi2_select,
    tags=("mlprep", "stats"),
    doc="Chi-square feature selection: hour-of-day, weekday and $30 "
    "value band scored against the purchase label in ONE fact pass — "
    "GROUPING SETS materializes all three contingency grids in a single "
    "map-side-combinable aggregate (the agg_grouping_sets machinery "
    "applied to feature selection), marginals ride window sums over the "
    "bounded grids, and (O-E)^2/E terms are 9-dp-quantized decimal "
    "sums. Cramer's V normalizes across differing bin counts; the rank "
    "orders the features for mlprep_decision_stump / naive_bayes "
    "downstream. Cells with zero observed mass contribute their "
    "expected mass through the marginal windows exactly as the textbook "
    "formula requires only when present — absent (bin, label) cells "
    "carry zero expectation here, documented as the sparse-grid "
    "convention (identical in both engines).",
)
