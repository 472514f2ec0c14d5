"""Round-11 forensics tier: fraud/AML screens and market-series diagnostics.

The rugpull domain is a fraud-detection domain — the reference's whole
point is spotting manipulated launches (`RECEIVER/stage2_processing.cpp`
scores pool age and dump patterns; `SERVER/subscriber.py` watches price
collapses). This tier adds the classical *fraud-audit* statistics a
forensic analyst runs over the same ledgers, each as a full SQL pair
(Spark builder + DuckDB oracle) with the exact-arithmetic disciplines the
round-10 tier established:

- facts aggregate to a bounded grid FIRST (cents / epoch-day / digit
  domain) — one hash-agg with map-side combine; windows and pair logic
  ride the grid, never raw rows;
- order statistics in exact quarter units (``_q4_minmax``/``_q4_value``);
- co-moments as exact decimal sums combined ONCE in double with a fixed
  expression order (the ``window_ar1_fit`` discipline); decimal factor
  widths are pre-narrowed so no product crosses the 38-digit cap (Spark
  would silently shave a scale digit, DuckDB would error — both seen in
  round 10);
- ln() terms 9-dp-quantized then decimal-summed (``_dsum9`` pattern) so
  libm ulp noise can't flip a rounded digit;
- final roundings via ``_r6u`` (floor-based half-up — ``round(x, 6)`` is
  engine-divergent ON the half boundary);
- constant fan-outs join on a literal ``k`` column (the
  ``eval_matthews_corr`` idiom) — never a comma cross join, so the
  registry-wide CartesianProduct plan guard holds.

100 TB notes per query live in their docstrings; none of them performs an
unbounded self-join, a raw-row single-partition window, or a driver-side
collect.
"""

from __future__ import annotations

from ..functions import scalars as S
from .diagnostics_ops import (
    _EV_CENTS,
    _cents,
    _cum_grid,
    _q4_minmax,
    _q4_value,
    _r6u,
)
from .mining_ops import _daily_grid, _daily_means
from .registry import pair


# ---------------------------------------------------------------------------
# profile_structuring_screen — just-below-threshold transaction screen
# ---------------------------------------------------------------------------


def _structuring(d: str) -> str:
    # Reporting threshold $150.00 (15000 cents, ~p87 of events.value);
    # the "structuring band" is the last 20% below it. The AML classic:
    # an account splitting transfers to stay under the reporting line
    # shows a pile-up in the band with nothing at or above the line.
    return f"""
    WITH sl AS (
        SELECT user_id, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    u AS (
        SELECT user_id,
            {S.isum('CASE WHEN s >= 12000 AND s < 15000 THEN 1 ELSE 0 END', d)}
                AS n_band,
            {S.isum('CASE WHEN s >= 15000 THEN 1 ELSE 0 END', d)} AS n_above,
            cast(count(*) as bigint) AS n_total,
            {S.isum('CASE WHEN s >= 12000 AND s < 15000 THEN s ELSE 0 END', d)}
                AS band_cents
        FROM sl GROUP BY user_id
    )
    SELECT user_id, n_band AS just_below, n_above AS at_or_above, n_total,
        band_cents,
        {_r6u('cast(n_band as double) / cast(n_total as double)')}
            AS band_share,
        CASE WHEN n_band >= 3 AND n_above = 0 THEN 1 ELSE 0 END
            AS structuring_flag
    FROM u WHERE n_band >= 2
    ORDER BY user_id
    """


pair(
    "profile_structuring_screen",
    _structuring,
    tags=("profile", "fraud"),
    doc="AML structuring (smurfing) screen: accounts piling transactions "
    "into the 20% band just below a $150 reporting threshold with nothing "
    "at or above it. One per-user hash-agg over the cents column (band "
    "membership is a CASE inside the agg — no second scan); flag and "
    "share are pure integer/band arithmetic. Scales as a single "
    "map-side-combined groupBy on user_id at any volume.",
)


# ---------------------------------------------------------------------------
# profile_last_digit_uniformity — Newcomb last-digit audit (Benford sibling)
# ---------------------------------------------------------------------------


def _last_digit_core(d: str) -> str:
    """The (event_type, last-digit, count) grid — the ONE fact pass."""
    return f"""
        SELECT event_type, ({_EV_CENTS}) % 10 AS dg,
            cast(count(*) as bigint) AS c
        FROM events WHERE value IS NOT NULL AND value >= 0
        GROUP BY event_type, ({_EV_CENTS}) % 10
    """


def _last_digit(d: str, dc: str) -> str:
    # The 10-row-per-type digit grid is a shared core: inlined,
    # tt/full_grid/pk each re-ran the fact hash-agg (4 fact scans
    # planned — the round-11 plan audit).
    return f"""
    WITH dc AS ({dc}),
    tt AS (
        SELECT event_type, {S.isum('c', d)} AS n FROM dc GROUP BY event_type
    ),
    full_grid AS (
        SELECT t.event_type, t.n, gg.dg, coalesce(dc.c, 0) AS c
        FROM (SELECT event_type, n, 1 AS k FROM tt) t
        JOIN (SELECT g AS dg, 1 AS k FROM (SELECT 1 AS one) one_row
              {S.explode_seq('g', '0', '9', d)}) gg ON gg.k = t.k
        LEFT JOIN dc ON dc.event_type = t.event_type AND dc.dg = gg.dg
    ),
    pk AS (
        SELECT event_type, dg AS top_digit, c AS top_c FROM (
            SELECT event_type, dg, c,
                row_number() OVER (
                    PARTITION BY event_type ORDER BY c DESC, dg) AS rn
            FROM full_grid
        ) t WHERE rn = 1
    )
    SELECT f.event_type, max(f.n) AS n_values,
        round(sum(cast(10 * f.c - f.n as double)
                  * cast(10 * f.c - f.n as double))
            / (10 * cast(max(f.n) as double)), 6) AS chi2,
        cast(9 as bigint) AS dof,
        cast(max(p.top_digit) as bigint) AS top_digit,
        round(cast(max(p.top_c) as double) / cast(max(f.n) as double), 6)
            AS top_digit_share
    FROM full_grid f JOIN pk p ON p.event_type = f.event_type
    GROUP BY f.event_type ORDER BY f.event_type
    """


pair(
    "profile_last_digit_uniformity",
    _last_digit,
    shared={"dc": _last_digit_core},
    tags=("profile", "fraud"),
    doc="Newcomb last-digit audit, the uniformity sibling of "
    "profile_benford_screen's first-digit law: genuine continuous amounts "
    "have uniform final cents digits; invented ones cluster on 0/5. "
    "Chi-square vs uniform over the 10-digit grid per event type — same "
    "exact-integer residual trick as events_hour_uniformity_gof "
    "(10c - n stays bigint; the square is double-cast per the "
    "eval_matthews_corr overflow discipline). One hash-agg to a "
    "10-row-per-type grid; constant-key equi-join fills missing digits. "
    "The digit grid is localCheckpointed so its consumers share ONE "
    "fact scan.",
)


# ---------------------------------------------------------------------------
# profile_duplicate_billing — same line re-billed across orders
# ---------------------------------------------------------------------------


def _dup_billing(d: str) -> str:
    # floor() before the bigint cast: Spark's double->bigint cast
    # truncates, DuckDB's ROUNDS (the epoch_s divergence class).
    return f"""
    WITH li AS (
        SELECT l_suppkey, l_partkey,
            cast(floor(l_quantity) as bigint) AS qty,
            {_cents('l_extendedprice')} AS pc, l_orderkey
        FROM lineitem
    ),
    grp AS (
        SELECT l_suppkey, l_partkey, qty,
            cast(count(*) as bigint) AS n_lines,
            cast(count(DISTINCT l_orderkey) as bigint) AS n_orders,
            {S.isum('pc', d)} AS line_cents
        FROM li GROUP BY l_suppkey, l_partkey, qty
    ),
    dup AS (SELECT * FROM grp WHERE n_orders >= 2)
    SELECT l_suppkey AS supplier, cast(count(*) as bigint) AS n_dup_groups,
        {S.isum('n_lines', d)} AS n_dup_lines,
        {S.isum('n_orders', d)} AS n_dup_orders,
        cast(max(n_lines) as bigint) AS max_group_lines,
        {S.isum('line_cents', d)} AS dup_exposure_cents
    FROM dup GROUP BY l_suppkey ORDER BY supplier
    """


pair(
    "profile_duplicate_billing",
    _dup_billing,
    tags=("profile", "fraud"),
    doc="Duplicate-billing screen: the same (supplier, part, exact "
    "quantity) line appearing on two or more DIFFERENT orders — the "
    "invoice-audit classic for double-charged lines; exposure sums the "
    "affected lines' extended prices in exact integer cents. Two "
    "hash-aggs (line group, then supplier rollup), both map-side "
    "combinable; no joins at all.",
)


# ---------------------------------------------------------------------------
# profile_dormant_reactivation — dormancy gap then high-value return
# ---------------------------------------------------------------------------


def _dormant(d: str) -> str:
    # Per-user median inter-event gap (quarter-second units) and p75 value
    # (quarter-cent units) from bounded grids; an event is a "dormant
    # reactivation" when its preceding gap is >= 5x the user's own median
    # gap. Exact integer compare throughout: gap >= 5*median
    # <=> 4*gap >= 5*median_q4.
    ep = S.epoch_s("ts", d)
    return f"""
    WITH ev AS (
        SELECT user_id, {ep} AS t, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    gaps AS (
        SELECT user_id, t, s,
            t - lag(t) OVER (PARTITION BY user_id ORDER BY t, s) AS gap
        FROM ev
    ),
    ggrid AS (
        SELECT user_id AS grp, gap AS v, cast(count(*) as bigint) AS c
        FROM gaps WHERE gap IS NOT NULL GROUP BY user_id, gap
    ),
    {_cum_grid('ggrid')},
    med AS (
        SELECT grp AS user_id, {_q4_minmax(2, 'm', d)}, max(n) AS n
        FROM cumg GROUP BY grp
    ),
    medv AS (SELECT user_id, {_q4_value(2, 'm')} AS med_q4 FROM med),
    vgrid AS (
        SELECT user_id AS grp, s AS v, cast(count(*) as bigint) AS c
        FROM ev GROUP BY user_id, s
    ),
    {_cum_grid('vgrid').replace('cumg', 'cumv')},
    p75 AS (
        SELECT grp AS user_id, {_q4_minmax(3, 'p', d)}, max(n) AS n
        FROM cumv GROUP BY grp
    ),
    p75v AS (SELECT user_id, {_q4_value(3, 'p')} AS p75_q4 FROM p75),
    flags AS (
        SELECT g.user_id,
            CASE WHEN 4 * g.gap >= 5 * m.med_q4 THEN 1 ELSE 0 END AS dorm,
            CASE WHEN 4 * g.gap >= 5 * m.med_q4
                 AND 4 * g.s >= p.p75_q4 THEN 1 ELSE 0 END AS dorm_hi,
            g.gap, m.med_q4
        FROM gaps g
        JOIN medv m ON m.user_id = g.user_id
        JOIN p75v p ON p.user_id = g.user_id
        WHERE g.gap IS NOT NULL AND m.med_q4 > 0
    )
    SELECT user_id,
        {S.isum('dorm', d)} AS n_dormant_gaps,
        {S.isum('dorm_hi', d)} AS n_highvalue_reactivations,
        cast(max(gap) as bigint) AS max_gap_s,
        {_r6u('cast(max(4 * gap) as double) / cast(max(med_q4) as double)')}
            AS max_gap_over_median
    FROM flags GROUP BY user_id
    HAVING {S.isum('dorm', d)} >= 1
    ORDER BY user_id
    """


pair(
    "profile_dormant_reactivation",
    _dormant,
    tags=("profile", "fraud"),
    doc="Dormant-account reactivation screen: events whose preceding "
    "inter-event gap is >= 5x the user's OWN median gap (relative "
    "dormancy — scale-free, so the screen works at any event rate), "
    "flagged high-risk when the returning transaction is at or above the "
    "user's p75 value. Medians and p75 in exact quarter units from "
    "per-user grids; the dormancy predicate is pure bigint "
    "(4*gap >= 5*median_q4). The lag window is keyed by user — "
    "fully distributed; everything after rides per-user bounded grids.",
)


# ---------------------------------------------------------------------------
# profile_lognormal_fit — lognormality of transaction amounts
# ---------------------------------------------------------------------------


def _lognormal(d: str) -> str:
    # ln of the dollar value, 9-dp-quantized ONCE as decimal(12,9); the
    # square is the EXACT decimal product of that same quantized value
    # (quantizing the square separately broke the variance-of-a-constant
    # = 0 identity — the --single-row sweep caught an engine-dependent
    # sqrt(round-residual) of ~3e-4). mu/sigma via the n-multiplied
    # co-moment combine in double.
    lnq = (
        "cast(round(ln(cast(v as double) / cast(100 as double)), 9)"
        " as decimal(12,9))"
    )
    return f"""
    WITH sl AS (
        SELECT event_type, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value > 0
            AND {_EV_CENTS} > 0
    ),
    g AS (
        SELECT event_type AS grp, s AS v, cast(count(*) as bigint) AS c
        FROM sl GROUP BY event_type, s
    ),
    lt AS (
        SELECT grp AS event_type, {S.isum('c', d)} AS n,
            cast(sum(cast(c as decimal(12,0)) * {lnq}) as double) AS t1,
            cast(sum(cast(c as decimal(12,0)) * ({lnq} * {lnq}))
                as double) AS t2
        FROM g GROUP BY grp
    ),
    {_cum_grid('g')},
    med AS (
        SELECT grp AS event_type, {_q4_minmax(2, 'm', d)}, max(n) AS n
        FROM cumg GROUP BY grp
    ),
    medv AS (SELECT event_type, {_q4_value(2, 'm')} AS med_q4 FROM med)
    SELECT l.event_type, l.n,
        {_r6u('l.t1 / cast(l.n as double)')} AS mu_ln,
        {_r6u('sqrt(greatest(cast(0 as double), '
              '(cast(l.n as double) * l.t2 - l.t1 * l.t1) '
              '/ (cast(l.n as double) * cast(l.n as double))))')} AS sigma_ln,
        {_r6u('cast(m.med_q4 as double) / cast(400 as double)')}
            AS actual_median,
        {_r6u('l.t1 / cast(l.n as double) '
              '- cast(round(ln(cast(m.med_q4 as double) '
              '/ cast(400 as double)), 9) as double)')}
            AS lognormality_gap_ln
    FROM lt l JOIN medv m ON m.event_type = l.event_type
    WHERE m.med_q4 > 0
    ORDER BY l.event_type
    """


pair(
    "profile_lognormal_fit",
    _lognormal,
    tags=("profile", "stats"),
    doc="Lognormal fit of transaction amounts per event type: mu/sigma of "
    "ln(value) from once-quantized decimal sums over the cents grid, and "
    "a log-space lognormality gap = mu - ln(exact median) (0 when the "
    "body is lognormal — genuine amount distributions are; manipulated "
    "ones drift). The gap stays in log space deliberately: exp(mu) of a "
    "quantized mean lands within ~1e-8 of the 6-dp rounding boundary "
    "whenever the datum is a round decimal, and engine exp() ulps flip "
    "it (caught by the --single-row sweep). Grid-first: ln terms are "
    "computed once per DISTINCT cents value and weighted by count, so "
    "libm cost scales with the value domain, not rows.",
)


# ---------------------------------------------------------------------------
# window_pump_dump_pattern — spike-and-collapse screen on the daily grid
# ---------------------------------------------------------------------------


def _pump_dump(d: str) -> str:
    # Spike score = (dm/min_before) * (dm/min_after): high when a day
    # towers over BOTH its 3-day flanks — the pump-and-dump shape the
    # reference's price watcher hunts (SERVER/subscriber.py price-drop
    # alerts). Exact decimal mins; two IEEE divisions and one multiply on
    # identical doubles, then rank with deterministic tiebreak.
    return f"""
    WITH {_daily_means(d)},
    w AS (
        SELECT event_type, day_idx, dm,
            min(dm) OVER (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS min_before,
            min(dm) OVER (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS min_after,
            count(*) OVER (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n_before,
            count(*) OVER (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS n_after
        FROM daily
    ),
    scored AS (
        SELECT event_type, day_idx, dm, min_before, min_after,
            (cast(dm as double) / cast(min_before as double))
                * (cast(dm as double) / cast(min_after as double)) AS score
        FROM w
        WHERE n_before = 3 AND n_after = 3
            AND min_before > 0 AND min_after > 0
    ),
    ranked AS (
        SELECT event_type, day_idx, dm, min_before, min_after, score,
            row_number() OVER (PARTITION BY event_type
                ORDER BY score DESC, day_idx) AS rn
        FROM scored
    )
    SELECT event_type, cast(day_idx as bigint) AS day_idx,
        cast(dm as double) AS day_mean,
        {_r6u('cast(dm as double) / cast(min_before as double)')} AS runup_x,
        {_r6u('cast(dm as double) / cast(min_after as double)')} AS dump_x,
        {_r6u('score')} AS spike_score,
        cast(rn as bigint) AS spike_rank
    FROM ranked WHERE rn <= 3
    ORDER BY event_type, spike_rank
    """


pair(
    "window_pump_dump_pattern",
    _pump_dump,
    tags=("window", "fraud"),
    doc="Pump-and-dump screen on the daily-mean grid: spike score = "
    "(day / 3-day-min before) x (day / 3-day-min after), top-3 spikes "
    "per event type — the two-sided version of the reference's one-sided "
    "price-drop alert (SERVER/subscriber.py:111-130). Row-frame windows "
    "ride the bounded calendar grid; score ranking breaks ties on "
    "day_idx so degenerate flat series stay deterministic.",
)


# ---------------------------------------------------------------------------
# window_squarewave_period — integer-kernel periodogram on the daily grid
# ---------------------------------------------------------------------------


def _sq_period(d: str, daily: str) -> str:
    # Square-wave correlation instead of a cos/sin DFT: the +-1 kernel
    # keeps the whole transform in EXACT decimal arithmetic (libm trig is
    # not correctly rounded and 1-ulp engine noise could flip a rounded
    # digit). Series centered exactly by the n-multiplied trick:
    # Y_t = n*dm_t - S, so sum(Y_t * w_t) needs no double mean. n is
    # pre-narrowed to decimal(6,0) so n*dm never crosses the 38-digit
    # product cap (Spark would shave a scale digit there).
    # The calendar grid is a shared core: inlined, st/cent re-derived it
    # (4 fact scans planned — the round-11 plan audit).
    return f"""
    WITH daily AS ({daily}),
    st AS (
        SELECT event_type, cast(count(*) as decimal(6,0)) AS n,
            cast(sum(dm) as decimal(38,6)) AS s1
        FROM daily GROUP BY event_type
    ),
    cent AS (
        SELECT dl.event_type, dl.day_idx, 1 AS k,
            (t.n * dl.dm - t.s1) AS y
        FROM daily dl
        JOIN st t ON t.event_type = dl.event_type
    ),
    yn AS (
        SELECT event_type, cast(sum(abs(y)) as decimal(38,6)) AS ynorm
        FROM cent GROUP BY event_type
    ),
    pg AS (
        SELECT p AS period, 1 AS k FROM (SELECT 1 AS one) one_row
        {S.explode_seq('p', '2', '10', d)}
    ),
    pw AS (
        SELECT c.event_type, g.period,
            abs(cast(sum(c.y * (CASE WHEN (c.day_idx % g.period) * 2
                                          < g.period
                                     THEN 1 ELSE -1 END))
                as decimal(38,6))) AS corr_abs
        FROM cent c JOIN pg g ON g.k = c.k
        GROUP BY c.event_type, g.period
    ),
    ranked AS (
        SELECT p.event_type, p.period, p.corr_abs, y.ynorm,
            row_number() OVER (PARTITION BY p.event_type
                ORDER BY p.corr_abs DESC, p.period) AS rn
        FROM pw p JOIN yn y ON y.event_type = p.event_type
    )
    SELECT event_type, cast(period as bigint) AS period_days,
        {_r6u('cast(corr_abs as double) / nullif(cast(ynorm as double), '
              'cast(0 as double))')} AS sq_power,
        CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_peak
    FROM ranked
    ORDER BY event_type, period_days
    """


pair(
    "window_squarewave_period",
    _sq_period,
    shared={"daily": _daily_grid},
    tags=("window", "stats"),
    doc="Integer-kernel periodogram: square-wave (+-1) correlation of the "
    "exactly-centered daily-mean series at periods 2..10 days, normalized "
    "by total absolute deviation; the peak period flags hidden "
    "periodicity (bot-driven wash cycles show strong short periods). "
    "The +-1 kernel keeps every term exact decimal — a cos/sin DFT would "
    "ride libm ulp noise across engines. Facts -> calendar grid in one "
    "hash-agg; the period fan-out is a 9-row constant-key equi-join. "
    "The calendar grid is localCheckpointed so its consumers share ONE "
    "fact scan.",
)


# ---------------------------------------------------------------------------
# window_unit_root_df — Dickey-Fuller unit-root regression on the grid
# ---------------------------------------------------------------------------


def _unit_root(d: str) -> str:
    # DF regression dy_t = beta * x_{t-1} + alpha + e_t via exact decimal
    # co-moments combined ONCE in double, fixed expression order (the
    # window_ar1_fit discipline; tau adds the standard-error step).
    nd = "cast(k as double)"
    sxd, syd = "cast(sx as double)", "cast(sy as double)"
    sxx = f"({nd} * cast(sxx as double) - {sxd} * {sxd})"
    sxy = f"({nd} * cast(sxy as double) - {sxd} * {syd})"
    syy = f"({nd} * cast(syy as double) - {syd} * {syd})"
    beta = f"({sxy} / nullif({sxx}, cast(0 as double)))"
    # Centered SS are n^2-scaled; the scale cancels inside tau:
    # tau = beta / sqrt( (SSE/(k-2)) / Sxx_c ) with SSE = Syy_c - b*Sxy_c.
    sse = f"({syy} - {beta} * {sxy})"
    tau = (
        f"({beta} / nullif(sqrt(greatest(cast(0 as double), "
        f"{sse} / nullif(cast(k - 2 as double), cast(0 as double)) "
        f"/ nullif({sxx}, cast(0 as double)))), cast(0 as double)))"
    )
    return f"""
    WITH {_daily_means(d)},
    lagd AS (
        SELECT event_type, day_idx, dm,
            lag(dm) OVER (PARTITION BY event_type ORDER BY day_idx) AS xl
        FROM daily
    ),
    pairs AS (
        SELECT event_type, cast(xl as decimal(15,6)) AS xl,
            cast(dm - xl as decimal(15,6)) AS dy
        FROM lagd WHERE xl IS NOT NULL
    ),
    mom AS (
        SELECT event_type, cast(count(*) as bigint) AS k,
            cast(sum(xl) as decimal(38,6)) AS sx,
            cast(sum(dy) as decimal(38,6)) AS sy,
            cast(sum(xl * xl) as decimal(38,12)) AS sxx,
            cast(sum(xl * dy) as decimal(38,12)) AS sxy,
            cast(sum(dy * dy) as decimal(38,12)) AS syy
        FROM pairs GROUP BY event_type
    )
    SELECT event_type, k AS n_pairs,
        {_r6u(beta)} AS df_beta,
        {_r6u(tau)} AS df_tau,
        CASE WHEN {tau} < cast(-2.86 as double) THEN 1 ELSE 0 END
            AS stationary_5pct
    FROM mom WHERE k >= 3
    ORDER BY event_type
    """


pair(
    "window_unit_root_df",
    _unit_root,
    tags=("window", "stats"),
    doc="Dickey-Fuller unit-root test on the daily-mean series: regress "
    "the day-over-day change on the lagged level (exact decimal "
    "co-moments, one double combine in fixed order — the window_ar1_fit "
    "discipline, extended with the standard-error step for tau). "
    "tau < -2.86 rejects a unit root at 5% — mean-reverting activity; a "
    "unit root means drift, the shape rug-pulled series show after the "
    "dump. One hash-agg to the calendar grid; lag rides the grid.",
)


# ---------------------------------------------------------------------------
# window_risk_ratios — Sharpe / Sortino / Calmar of the daily series
# ---------------------------------------------------------------------------


def _risk_ratios(d: str) -> str:
    nd = "cast(n as double)"
    mean = f"(cast(sr as double) / {nd})"
    sd = (
        f"sqrt(greatest(cast(0 as double), "
        f"({nd} * cast(srr as double) - cast(sr as double) "
        f"* cast(sr as double)) / ({nd} * {nd})))"
    )
    dd = f"sqrt(cast(sneg as double) / {nd})"
    return f"""
    WITH {_daily_means(d)},
    r AS (
        SELECT event_type, day_idx, dm,
            cast(dm - lag(dm) OVER (PARTITION BY event_type
                ORDER BY day_idx) as decimal(15,6)) AS ret,
            max(dm) OVER (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - dm
                AS drawdown
        FROM daily
    ),
    agg AS (
        SELECT event_type,
            cast(count(ret) as bigint) AS n,
            cast(sum(ret) as decimal(38,6)) AS sr,
            cast(sum(ret * ret) as decimal(38,12)) AS srr,
            cast(sum(CASE WHEN ret < 0 THEN ret * ret
                          ELSE cast(0 as decimal(31,12)) END)
                as decimal(38,12)) AS sneg,
            cast(max(drawdown) as decimal(38,6)) AS maxdd,
            cast(sum(CASE WHEN ret IS NOT NULL THEN ret
                          ELSE cast(0 as decimal(15,6)) END)
                as decimal(38,6)) AS net_change
        FROM r GROUP BY event_type
    )
    SELECT event_type, n AS n_returns,
        {_r6u(mean)} AS mean_ret,
        {_r6u(sd)} AS sd_ret,
        {_r6u(f'{mean} / nullif({sd}, cast(0 as double))')} AS sharpe,
        {_r6u(f'{mean} / nullif({dd}, cast(0 as double))')} AS sortino,
        cast(maxdd as double) AS max_drawdown,
        {_r6u('cast(net_change as double) / nullif(cast(maxdd as double), '
              'cast(0 as double))')} AS calmar
    FROM agg WHERE n >= 2
    ORDER BY event_type
    """


pair(
    "window_risk_ratios",
    _risk_ratios,
    tags=("window", "stats"),
    doc="Risk-adjusted performance of the daily-mean series per event "
    "type: Sharpe (mean/sd of day-over-day changes), Sortino (downside "
    "deviation only), max drawdown (running-peak window on the grid), "
    "and Calmar (total net change / max drawdown). All moments are exact "
    "decimal sums combined once in double; the running-peak window rides "
    "the bounded calendar grid.",
)


# ---------------------------------------------------------------------------
# window_market_beta — per-type beta against the cross-type market
# ---------------------------------------------------------------------------


def _market_beta(d: str, daily: str) -> str:
    # Market = SUM of the per-type means each day (a day counts only when
    # every type reported, so the series is complete); beta against the
    # per-day market MEAN folds the 1/n_types factor back in analytically.
    # The calendar grid is a shared core: inlined, its three consumers
    # (nt/mkt/mom) each re-ran the fact hash-agg (4 fact scans planned —
    # the round-11 plan audit).
    nd = "cast(k as double)"
    varm = (
        f"({nd} * cast(smm as double) - cast(sm as double)"
        f" * cast(sm as double))"
    )
    varx = (
        f"({nd} * cast(sxx as double) - cast(sx as double)"
        f" * cast(sx as double))"
    )
    cov = (
        f"({nd} * cast(sxm as double) - cast(sx as double)"
        f" * cast(sm as double))"
    )
    beta = (
        f"(cast(n_types as double) * {cov}"
        f" / nullif({varm}, cast(0 as double)))"
    )
    return f"""
    WITH daily AS ({daily}),
    nt AS (
        SELECT cast(count(DISTINCT event_type) as bigint) AS n_types,
            1 AS kc
        FROM daily
    ),
    mkt AS (
        SELECT day_idx, cast(sum(dm) as decimal(15,6)) AS m,
            cast(count(*) as bigint) AS c, 1 AS kc
        FROM daily GROUP BY day_idx
    ),
    full_days AS (
        SELECT mkt.day_idx, mkt.m
        FROM mkt JOIN nt ON nt.kc = mkt.kc
        WHERE mkt.c = nt.n_types
    ),
    mom AS (
        SELECT dl.event_type, cast(count(*) as bigint) AS k,
            cast(sum(dl.dm) as decimal(38,6)) AS sx,
            cast(sum(f.m) as decimal(38,6)) AS sm,
            cast(sum(dl.dm * dl.dm) as decimal(38,12)) AS sxx,
            cast(sum(f.m * f.m) as decimal(38,12)) AS smm,
            cast(sum(dl.dm * f.m) as decimal(38,12)) AS sxm,
            1 AS kc
        FROM daily dl JOIN full_days f ON f.day_idx = dl.day_idx
        GROUP BY dl.event_type
    )
    SELECT m.event_type, m.k AS n_days,
        {_r6u(beta)} AS beta_vs_market,
        {_r6u(f'(cast(sx as double) - {beta} * cast(sm as double) '
              f'/ cast(n_types as double)) / {nd}')} AS alpha_daily,
        {_r6u(f'{cov} / nullif(sqrt(greatest(cast(0 as double), {varx}) '
              f'* greatest(cast(0 as double), {varm})), cast(0 as double))')}
            AS corr_vs_market
    FROM mom m JOIN nt ON nt.kc = m.kc
    WHERE m.k >= 2
    ORDER BY m.event_type
    """


pair(
    "window_market_beta",
    _market_beta,
    shared={"daily": _daily_grid},
    tags=("window", "stats"),
    doc="CAPM-style beta of each event type's daily-mean series against "
    "the equal-weight cross-type market (days where all types reported). "
    "Exact decimal co-moments, one double combine (the window_ar1_fit "
    "discipline); the market series is one extra hash-agg of the SAME "
    "calendar grid — the grid is localCheckpointed so there is truly no "
    "second pass over facts. Beta > 1 flags types amplifying "
    "market-wide swings; near-zero correlation flags series decoupled "
    "from the market (wash-traded pools decouple).",
)


# ---------------------------------------------------------------------------
# agg_hill_tail_index — EVT tail-heaviness of transaction amounts
# ---------------------------------------------------------------------------


def _hill_tail(d: str) -> str:
    # Hill estimator with k = 50 top order statistics, entirely on the
    # cents grid: each grid row contributes min(c, remaining-top-slots)
    # copies of its 9-dp-quantized ln; x_(51) comes from the cumulative
    # top-down counts. xi = mean(ln x_i) - ln x_51 over the top 50.
    # xi is an exact decimal (a multiple of 2e-11), so it can sit exactly on
    # a 6-dp half boundary, where two double paths round to different
    # sides. Both engines therefore keep it exact and round it half-up as a
    # decimal: the copy count is a decimal(4,0) (a bigint factor would widen
    # the product past 38 digits and Spark would cut it to 7 dp), and the
    # mean multiplies by 0.02, since DuckDB turns a decimal division into a
    # double.
    lnv = "round(ln(cast(v as double)), 9)"
    return f"""
    WITH sl AS (
        SELECT event_type, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value > 0
            AND {_EV_CENTS} > 0
    ),
    g AS (
        SELECT event_type, s AS v, cast(count(*) as bigint) AS c
        FROM sl GROUP BY event_type, s
    ),
    cumt AS (
        SELECT event_type, v, c,
            cast(sum(c) OVER (PARTITION BY event_type ORDER BY v DESC)
                as bigint) AS cum_top,
            cast(sum(c) OVER (PARTITION BY event_type) as bigint) AS n
        FROM g
    ),
    top AS (
        SELECT event_type, max(n) AS n,
            cast(sum(cast(greatest(cast(0 as bigint),
                least(c, 50 - (cum_top - c))) as decimal(4,0))
                * cast({lnv} as decimal(19,9))) as decimal(20,9)) AS ln_top_sum,
            max(CASE WHEN cum_top >= 51 THEN v END) AS x51
        FROM cumt GROUP BY event_type
    )
    SELECT event_type, n AS n_values, cast(50 as bigint) AS k_top,
        cast(x51 as bigint) AS x_k1_cents,
        xi AS hill_xi,
        {_r6u('cast(1 as double) / nullif(xi, cast(0 as double))')}
            AS tail_alpha
    FROM (
        SELECT event_type, n, x51,
            cast(round(ln_top_sum * cast(0.02 as decimal(3,2))
                - cast(round(ln(cast(x51 as double)), 9) as decimal(19,9)),
                6) as double) AS xi
        FROM top WHERE n >= 51 AND x51 > 0
    ) fin
    ORDER BY event_type
    """


pair(
    "agg_hill_tail_index",
    _hill_tail,
    tags=("agg", "stats"),
    doc="Hill tail-index (EVT) of transaction amounts per event type over "
    "the top-50 order statistics: xi = mean ln(x_i / x_51); tail_alpha = "
    "1/xi (alpha < 2 = infinite-variance tail — the whale-dominated "
    "distribution shape rugpull pools show). Order statistics and "
    "multiplicities come from cumulative counts over the cents grid (no "
    "row-level sort); ln terms are 9-dp-quantized and decimal-summed.",
)


# ---------------------------------------------------------------------------
# eval_anova_oneway — one-way ANOVA across event types
# ---------------------------------------------------------------------------


def _anova(d: str) -> str:
    # SSB/SSW from per-group integer sums in cents: T_g, Q_g = sum(s),
    # sum(s^2) stay exact (Q rides a decimal(19,0) product per the
    # round-11 overflow discipline — fleet-scale counts cannot wrap);
    # the T^2/n terms combine in double, fixed order.
    tg2 = "cast(tg as double) * cast(tg as double) / cast(ng as double)"
    return f"""
    WITH sl AS (
        SELECT event_type, {_EV_CENTS} AS s
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    pg AS (
        SELECT event_type, cast(count(*) as bigint) AS ng,
            {S.isum('s', d)} AS tg,
            cast(sum(cast(s as decimal(19,0)) * s) as double) AS qg
        FROM sl GROUP BY event_type
    ),
    tot AS (
        SELECT cast(count(*) as bigint) AS kg,
            {S.isum('ng', d)} AS n,
            cast(sum(cast(tg as decimal(38,0))) as double) AS t,
            {S.dsum('qg', d)} AS q,
            {S.dsum(tg2, d)} AS between_raw
        FROM pg
    )
    SELECT kg AS k_groups, n AS n_total,
        {_r6u('(between_raw - t * t / cast(n as double)) '
              '/ cast(10000 as double)')} AS ss_between,
        {_r6u('(q - between_raw) / cast(10000 as double)')} AS ss_within,
        {_r6u('((between_raw - t * t / cast(n as double)) '
              '/ cast(kg - 1 as double)) '
              '/ nullif((q - between_raw) / cast(n - kg as double), '
              'cast(0 as double))')} AS f_stat,
        {_r6u('(between_raw - t * t / cast(n as double)) '
              '/ nullif(q - t * t / cast(n as double), cast(0 as double))')}
            AS eta_squared
    FROM tot WHERE kg >= 2 AND n > kg
    """


pair(
    "eval_anova_oneway",
    _anova,
    tags=("eval", "stats"),
    doc="One-way ANOVA of transaction value across the five event types: "
    "F = (SSB/(k-1)) / (SSW/(n-k)) and eta-squared effect size, all from "
    "per-group integer cents sums (sum and sum-of-squares; the square "
    "sum rides decimal(19,0) products per the round-11 overflow "
    "discipline, the T^2/n combine happens once in double). SS are "
    "reported in dollars^2 (cents^2 / 1e4). One hash-agg per group, one "
    "5-row rollup — nothing touches raw rows twice.",
)


# ---------------------------------------------------------------------------
# eval_levene_bf — Brown-Forsythe variance-homogeneity test
# ---------------------------------------------------------------------------


def _levene_core(d: str) -> str:
    """The (group, cents, count) grid — the ONE pass over facts."""
    return f"""
        SELECT event_type AS grp, {_EV_CENTS} AS v,
            cast(count(*) as bigint) AS c
        FROM events WHERE value IS NOT NULL AND value >= 0
        GROUP BY event_type, {_EV_CENTS}
    """


def _levene(d: str, g: str) -> str:
    # Brown-Forsythe: one-way ANOVA on z = |x - median_g|, with the group
    # medians as exact quarter-cent integers and z therefore exact bigint
    # (|4s - med_q4| is in quarter-cents). The F combine mirrors
    # eval_anova_oneway on the z sums; the z^2 sum pre-squares in bigint
    # (fits up to $5M amounts) and rides one decimal(19,0) product.
    # The cents grid is a shared core: inlined, its consumers (cumg-median
    # path + z) re-ran the fact hash-agg (5 fact scans planned — the
    # round-11 plan audit).
    tg2 = "cast(tz as double) * cast(tz as double) / cast(ng as double)"
    return f"""
    WITH g AS ({g}),
    {_cum_grid('g')},
    med AS (
        SELECT grp AS event_type, {_q4_minmax(2, 'm', d)}, max(n) AS n
        FROM cumg GROUP BY grp
    ),
    medv AS (SELECT event_type, {_q4_value(2, 'm')} AS med_q4 FROM med),
    z AS (
        SELECT g.grp AS event_type, g.c,
            abs(4 * g.v - m.med_q4) AS zq
        FROM g JOIN medv m ON m.event_type = g.grp
    ),
    pg AS (
        SELECT event_type, {S.isum('c', d)} AS ng,
            {S.isum('c * zq', d)} AS tz,
            cast(sum(cast(zq * zq as decimal(19,0)) * c) as double) AS qz,
            1 AS k
        FROM z GROUP BY event_type
    ),
    tot AS (
        SELECT cast(count(*) as bigint) AS kg, {S.isum('ng', d)} AS n,
            cast(sum(cast(tz as decimal(38,0))) as double) AS t,
            {S.dsum('qz', d)} AS q,
            {S.dsum(tg2, d)} AS between_raw,
            1 AS k
        FROM pg
    )
    SELECT p.event_type, p.ng AS n_g,
        {_r6u('cast(m.med_q4 as double) / cast(400 as double)')}
            AS median_value,
        {_r6u('cast(p.tz as double) / cast(p.ng as double) '
              '/ cast(400 as double)')} AS mean_abs_dev,
        {_r6u('((t2.between_raw - t2.t * t2.t / cast(t2.n as double)) '
              '/ cast(t2.kg - 1 as double)) '
              '/ nullif((t2.q - t2.between_raw) '
              '/ cast(t2.n - t2.kg as double), cast(0 as double))')}
            AS bf_f_stat
    FROM pg p
    JOIN medv m ON m.event_type = p.event_type
    JOIN tot t2 ON t2.k = p.k
    WHERE t2.kg >= 2 AND t2.n > t2.kg
    ORDER BY p.event_type
    """


pair(
    "eval_levene_bf",
    _levene,
    shared={"g": _levene_core},
    tags=("eval", "stats"),
    doc="Brown-Forsythe (median-based Levene) variance-homogeneity test "
    "across event types: one-way ANOVA on |x - group median|, the robust "
    "companion to eval_anova_oneway (which assumes equal variances). "
    "Medians are exact quarter-cent order statistics from the cents "
    "grid, so z = |4s - med_q4| is exact bigint and the z-moments reuse "
    "the integer ANOVA machinery. Output: per-group MAD profile with the "
    "shared F statistic attached via a 1-row constant-key equi-join. "
    "The cents grid is localCheckpointed so its consumers share ONE "
    "fact scan.",
)
