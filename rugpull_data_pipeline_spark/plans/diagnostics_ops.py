"""Round-10 debut tier: time-series diagnostics, calibration/association
evaluation, recommender baselines, corpus dispersion, robust profiling,
and layout simulation.

The standing rotation obligation (~25 genuinely new queries per round for
the driver window, see registry.driver_order) paired with the
round-9 verdict's content prescription: AR(1)/autocorrelation-grid fit and
CUSUM changepoint (batch twins of the streaming kernels in
``streaming/pipelines.py`` — stream_cusum_alert / stream_kalman_filter),
calibration-curve Brier decomposition (sibling of eval_pr_auc_trapezoid),
item-item co-occurrence recommender top-k (the ordered sibling of
graph_neighbor_jaccard), readability indices (rides
text_sentence_length_stats' sentence grid), a per-column MAD anomaly
screen (pairs with agg_zscore_outliers), and a schema-drift detector over
``events.props`` keys (rides variant_shred_events). PMI collocations from
the prescription already exist (text_pmi_collocations), so the remaining
slots complete adjacent families: variance-ratio/runs/Donchian/ATR
time-series tests, Kendall tau-b / Matthews correlation / log-loss /
OLS-diagnostics evaluation, a user-item bias baseline recommender, term
burstiness + Simpson lexical diversity, Theil inequality / Cramer's V /
HHI concentration, an hour-of-day uniformity GOF, a partition-prune
simulator, a robust (median/IQR) scaler audit, and embedding norm
anisotropy.

Reference anchor: the reference maintains per-pair rolling price state and
alert thresholds (``SERVER/ingest_prices.py:42-55``,
``SERVER/combined_subscriber.py:86-98``); the time-series family here is
the batch/diagnostic surface such state feeds, and the rest is the
training-data-pipeline uplift BASELINE.json mandates.

Cross-engine determinism (house fp discipline): counts and grid values
stay integer as long as possible; order statistics (median/quartiles/MAD)
are computed on integer cents grids in QUARTER units (4*h = q4*(n-1) is an
exact integer, and 4*median is therefore an exact bigint), so every
quantile, deviation, and threshold compare is integer until one final
division; transcendentals (ln/sqrt) run on identical doubles and are
9-dp-quantized before any cross-row sum; argmax/argmin ties always break
on an integer or string column.

Scale notes (1000 executors / 100 TB):
- Every time-series query aggregates facts to the (event_type, day) /
  (event_type, hour) grid FIRST (one hash-agg with map-side combine);
  windows, lags, cumulative sums, and pair builds then ride the
  calendar-bounded grid (31..365 rows per type), never raw rows.
- Kendall tau's pair build and the threshold/band expansions are
  equi-joins on a constant key over grid-sized sides (BroadcastHashJoin
  with a residual predicate — never a CartesianProduct; the plan-guard
  suite enforces this registry-wide).
- Order statistics come from cumulative counts over the bounded distinct
  cents grid — a weighted exact quantile that scales with the VALUE
  domain, not the row count (the raw-row percentile() alternative holds
  a per-group map of every distinct value on one executor).
- rec_item_item_topk bounds the pair build to the top-5 anchor parts
  (broadcast semi-join) before any self-join fan-out; the basket
  self-join is the bounded-basket shape of the graph tier.
- The embedding queries reuse llm_ops' REPARTITION-before-posexplode
  fan-out and keep only (label, dim)-grid aggregates on the reduce side.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import SPARK
from .llm_ops import _emb_dims, _word_tokens_all
from .mining_ops import _daily_grid, _daily_means, _day_idx
from .registry import pair


# Decimal-cast cents quantization (NOT floor(double*100), which lands one
# cent low on non-representable 2-dp doubles — the round-9 ADVICE class).
def _cents(col: str) -> str:
    return f"cast(cast({col} as decimal(18,2)) * 100 as bigint)"


# Raw-value cents for events.value (same expression stats_eval.py pins).
_EV_CENTS = "cast(floor(value * cast(100 as double)) as bigint)"


def _r6u(expr: str) -> str:
    """Engine-identical 6-dp half-up rounding of a non-negative double:
    floor(x*1e6 + 0.5)/1e6 is pure IEEE arithmetic on the identical
    double, bit-identical across engines — unlike round(x, 6), where
    Spark rounds the binary expansion via BigDecimal and DuckDB goes
    through a multiply, and the two can disagree when the exact value
    sits ON the half boundary (seen on --single-type for the co-moment
    variance, whose 12-dp rational hit ...2505 exactly)."""
    return (
        f"(cast(floor(({expr}) * cast(1000000 as double)"
        f" + cast(0.5 as double)) as double)"
        f" / cast(1000000 as double))"
    )


def _dsum9(expr: str) -> str:
    """Order-free decimal sum keeping the FULL 9-dp quantization.

    ``S.dsum`` re-truncates to 6 dp — fine for exact products of
    decimals, but ln() terms carry libm ulp noise that 6-dp mid-sum
    truncation can surface as a final-digit flip (seen on theil_l at
    sf0.001); summing at the quantization precision absorbs it."""
    return f"cast(sum(cast(({expr}) as decimal(38,9))) as double)"


# ---------------------------------------------------------------------------
# Shared: exact weighted quantiles over an integer grid, in QUARTER units
# ---------------------------------------------------------------------------


def _cum_grid(grid: str) -> str:
    """CTE text over ``grid(grp, v, c)``: adds the running and total counts
    needed for exact order statistics. The window runs over the bounded
    distinct-value grid, never raw rows."""
    return f"""
    cumg AS (
        SELECT grp, v, c,
            cast(sum(c) OVER (PARTITION BY grp ORDER BY v) as bigint) AS cum,
            cast(sum(c) OVER (PARTITION BY grp) as bigint) AS n
        FROM {grid}
    )
    """


def _q4_minmax(q4: int, alias: str, d: str) -> str:
    """Aggregate exprs extracting the two order statistics that bracket
    quantile q4/4 (0-based position h = q4*(n-1)/4): the values at
    floor(h) and ceil(h). Emits ``vlo_<alias>`` / ``vhi_<alias>``.
    Pure bigint arithmetic (n is constant within the group)."""
    lo_i = S.idiv(f"{q4} * (n - 1)", "4", d)
    hi_i = S.idiv(f"{q4} * (n - 1) + 3", "4", d)
    return (
        f"min(CASE WHEN cum >= {lo_i} + 1 THEN v END) AS vlo_{alias}, "
        f"min(CASE WHEN cum >= {hi_i} + 1 THEN v END) AS vhi_{alias}"
    )


def _q4_value(q4: int, alias: str) -> str:
    """Linear-interpolated quantile from the bracketing stats, in QUARTER
    units (exact bigint: 4*quantile = (4-r)*vlo + r*vhi with
    r = (q4*(n-1)) mod 4)."""
    rem = f"(({q4} * (n - 1)) % 4)"
    return (
        f"cast((4 - {rem}) * vlo_{alias} + {rem} * vhi_{alias} as bigint)"
    )


# ---------------------------------------------------------------------------
# window_ar1_fit — Yule-Walker AR(1) on the daily-mean grid
# ---------------------------------------------------------------------------


def _ar1_fit(d: str) -> str:
    # phi from EXACT decimal co-moments, multiplied through by n^2 so the
    # mean never becomes a double mid-computation (same hardening class as
    # window_variance_ratio — decimal->double of a large sum is the one
    # conversion the engines may disagree on by 1 ulp):
    #   phi = (n^2 P - n S (A+B) + k S^2) / (n^2 Q - 2 n S B + k S^2)
    # P = sum(x*xp), A = sum(x), B = sum(xp), Q = sum(xp^2) over the k lag
    # pairs; S, n over all days. Tight precisions keep every product exact
    # under the 38-digit cap (calendar-grid magnitudes).
    # The co-moment components are EXACT decimals; combine them in DOUBLE
    # (cast each component once, fixed expression order) — every step is
    # then an IEEE op on identical inputs, bit-identical across engines.
    # (Combining in decimal hits DuckDB's staged-width multiply cap.)
    nd, kd = "cast(n as double)", "cast(k as double)"
    sd = "cast(s as double)"
    num = (
        f"({nd} * {nd} * cast(p as double)"
        f" - {nd} * {sd} * cast(a + b as double)"
        f" + {kd} * {sd} * {sd})"
    )
    den = (
        f"({nd} * {nd} * cast(q as double)"
        f" - 2 * {nd} * {sd} * cast(b as double)"
        f" + {kd} * {sd} * {sd})"
    )
    return f"""
    WITH {_daily_means(d)},
    st AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
            cast(sum(dm) as decimal(12,6)) AS s
        FROM daily GROUP BY event_type
    ),
    lagp AS (
        SELECT event_type, cast(dm as decimal(12,6)) AS x,
            cast(lag(dm) OVER (
                PARTITION BY event_type ORDER BY day_idx) as decimal(12,6))
                AS xp
        FROM daily
    ),
    co AS (
        SELECT event_type, cast(count(*) as bigint) AS k,
            cast(sum(x * xp) as decimal(21,12)) AS p,
            cast(sum(x) as decimal(12,6)) AS a,
            cast(sum(xp) as decimal(12,6)) AS b,
            cast(sum(xp * xp) as decimal(21,12)) AS q
        FROM lagp WHERE xp IS NOT NULL GROUP BY event_type
    ),
    fit AS (
        SELECT c.event_type, s2.n, c.k,
            cast(s2.s as double) / cast(s2.n as double) AS mu,
            ({num}) / nullif({den}, cast(0 as double)) AS phi
        FROM co c JOIN st s2 ON s2.event_type = c.event_type
    )
    SELECT event_type, n AS n_days, k AS n_pairs,
        round(mu, 6) AS mean_value,
        round(phi, 6) AS ar1_phi,
        round(mu * (1 - phi), 6) AS ar1_intercept,
        round(phi * phi, 6) AS r2_ar1
    FROM fit
    ORDER BY event_type
    """


pair(
    "window_ar1_fit",
    _ar1_fit,
    tags=("window", "timeseries"),
    doc="AR(1) fit per event type on the daily-mean grid via Yule-Walker: "
    "phi = sum((x_t-mu)(x_{t-1}-mu)) / sum((x_{t-1}-mu)^2), intercept "
    "mu(1-phi), in-sample R^2 = phi^2 — the batch twin of the streaming "
    "price-state kernels. One hash-agg to the calendar grid; lag + two "
    "9-dp-quantized decimal sums ride the grid.",
)


# ---------------------------------------------------------------------------
# window_cusum_changepoint — batch CUSUM argmax split
# ---------------------------------------------------------------------------


def _cusum_cp(d: str) -> str:
    return f"""
    WITH {_daily_means(d)},
    st AS (
        SELECT event_type,
            cast({_r6u(S.davg('dm', d))} as decimal(18,6)) AS mu
        FROM daily GROUP BY event_type
    ),
    c AS (
        SELECT dl.event_type, dl.day_idx,
            sum(dl.dm - s.mu) OVER (
                PARTITION BY dl.event_type ORDER BY dl.day_idx
            ) AS cus
        FROM daily dl JOIN st s ON s.event_type = dl.event_type
    ),
    cp AS (
        SELECT event_type, day_idx AS cp_day, abs_cus FROM (
            SELECT event_type, day_idx, abs(cus) AS abs_cus,
                row_number() OVER (
                    PARTITION BY event_type ORDER BY abs(cus) DESC, day_idx
                ) AS rn
            FROM c
        ) t WHERE rn = 1
    )
    SELECT cp.event_type, cp.cp_day,
        round(cast(cp.abs_cus as double), 6) AS max_abs_cusum,
        cast(count(*) as bigint) AS n_days,
        round({S.davg('CASE WHEN dl.day_idx <= cp.cp_day THEN dl.dm END', d)},
            6) AS mean_before,
        round({S.davg('CASE WHEN dl.day_idx > cp.cp_day THEN dl.dm END', d)},
            6) AS mean_after
    FROM cp JOIN daily dl ON dl.event_type = cp.event_type
    GROUP BY cp.event_type, cp.cp_day, cp.abs_cus
    ORDER BY cp.event_type
    """


pair(
    "window_cusum_changepoint",
    _cusum_cp,
    tags=("window", "timeseries"),
    doc="Batch CUSUM changepoint per event type: cumulative sum of "
    "(daily mean - grand mean) as EXACT decimals (order-free), "
    "changepoint = argmax |S_t| (day tie-break), with the level before "
    "and after the split — the batch twin of stream_cusum_alert. "
    "Windows and the argmax ride the calendar grid.",
)


# ---------------------------------------------------------------------------
# window_variance_ratio — random-walk variance-ratio diagnostic
# ---------------------------------------------------------------------------


def _variance_ratio(d: str) -> str:
    # EXACT-INTEGER pipeline: the daily mean is quantized to MICRO-units
    # with floor(mean*1e6 + 0.5) — pure IEEE ops on the identical double,
    # so both engines hold the identical bigint. (The shared decimal-cast
    # grid diverged on the --single-type surface: cast(double as decimal)
    # rounds a half-boundary mean differently per engine — Spark
    # BigDecimal HALF_UP on the binary expansion vs DuckDB's multiply
    # path.) From there every co-moment is integer-exact:
    #   var = (n*Q - S^2) / (n*(n-1)) / 1e12,  S = sum(dk), Q = sum(dk^2)
    # with ONE double division at the end.
    micro = (
        f"cast(floor(({S.davg('value', d)}) * cast(1000000 as double)"
        f" + cast(0.5 as double)) as bigint)"
    )

    def var_k(k: int) -> str:
        return f"""
    d{k} AS (
        SELECT event_type,
            dmu - lag(dmu, {k}) OVER (
                PARTITION BY event_type ORDER BY day_idx) AS dk
        FROM daily_micro
    ),
    a{k} AS (
        -- dk^2 <= 2.4e17 per term fits bigint; the SUM goes to decimal
        -- so a 365-day grid cannot overflow
        SELECT event_type, cast(count(*) as bigint) AS n{k},
            cast(sum(dk) as decimal(20,0)) AS s{k},
            cast(sum(cast(dk as decimal(19,0))
                     * cast(dk as decimal(19,0))) as decimal(28,0)) AS q{k}
        FROM d{k} WHERE dk IS NOT NULL GROUP BY event_type
    ),
    v{k} AS (
        SELECT event_type, n{k},
            cast(cast(n{k} as decimal(6,0)) * q{k} - s{k} * s{k} as double)
                / cast(nullif(n{k} * (n{k} - 1), 0) as double)
                / cast(1000000000000 as double) AS var{k}
        FROM a{k}
    )"""

    return f"""
    WITH daily_micro AS (
        SELECT event_type, {_day_idx(d)} AS day_idx, {micro} AS dmu
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {_day_idx(d)}
    ),
    {','.join(var_k(k) for k in (1, 2, 4))}
    SELECT v1.event_type, v1.n1 AS n_diffs,
        {_r6u('v1.var1')} AS var_1d,
        {_r6u('v2.var2 / nullif(2 * v1.var1, cast(0 as double))')} AS vr_2,
        {_r6u('v4.var4 / nullif(4 * v1.var1, cast(0 as double))')} AS vr_4
    FROM v1
    JOIN v2 ON v2.event_type = v1.event_type
    JOIN v4 ON v4.event_type = v1.event_type
    ORDER BY v1.event_type
    """


pair(
    "window_variance_ratio",
    _variance_ratio,
    tags=("window", "timeseries"),
    doc="Lo-MacKinlay variance ratio VR(k) = Var(k-day diff)/(k Var(1-day "
    "diff)) for k=2,4 on the daily-mean grid (VR~1 under a random walk; "
    "<1 mean reversion, >1 trending). Lags and decimal diffs are exact; "
    "deviations 9-dp-quantized into decimal sums. Calendar-grid-bounded.",
)


# ---------------------------------------------------------------------------
# window_donchian_breakout — rolling channel breakouts
# ---------------------------------------------------------------------------


def _donchian(d: str) -> str:
    return f"""
    WITH {_daily_means(d)},
    ch AS (
        SELECT event_type, day_idx, dm,
            max(dm) OVER w AS hi, min(dm) OVER w AS lo,
            count(*) OVER w AS nw
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    ),
    ev AS (
        SELECT event_type, day_idx,
            CASE WHEN dm > hi THEN 1 ELSE 0 END AS up,
            CASE WHEN dm < lo THEN 1 ELSE 0 END AS dn,
            hi - lo AS width
        FROM ch WHERE nw = 7
    )
    SELECT event_type,
        cast(count(*) as bigint) AS n_eval_days,
        {S.isum('up', d)} AS n_up_breakouts,
        {S.isum('dn', d)} AS n_down_breakouts,
        cast(max(CASE WHEN up = 1 THEN day_idx END) as bigint)
            AS last_up_day,
        cast(max(CASE WHEN dn = 1 THEN day_idx END) as bigint)
            AS last_down_day,
        round({S.davg('width', d)}, 6) AS mean_channel_width
    FROM ev GROUP BY event_type ORDER BY event_type
    """


pair(
    "window_donchian_breakout",
    _donchian,
    tags=("window", "timeseries"),
    doc="Donchian 7-day channel per event type: rolling max/min of the "
    "prior 7 daily means (exact decimal compares), count and last day "
    "of upper/lower breakouts, mean channel width. Calendar grid only.",
)


# ---------------------------------------------------------------------------
# window_atr_true_range — integer true-range / ATR diagnostic
# ---------------------------------------------------------------------------


def _atr(d: str) -> str:
    # All range math in DOUBLED cents (2*mid is integer), exact bigints.
    return f"""
    WITH dd AS (
        SELECT event_type, {_day_idx(d)} AS day_idx,
            max({_EV_CENTS}) AS hi_c, min({_EV_CENTS}) AS lo_c
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {_day_idx(d)}
    ),
    tr AS (
        SELECT event_type, day_idx,
            CASE WHEN pm2 IS NULL THEN 2 * (hi_c - lo_c)
                ELSE greatest(2 * (hi_c - lo_c),
                              abs(2 * hi_c - pm2), abs(pm2 - 2 * lo_c))
            END AS tr2
        FROM (
            SELECT event_type, day_idx, hi_c, lo_c,
                lag(hi_c + lo_c) OVER (
                    PARTITION BY event_type ORDER BY day_idx) AS pm2
            FROM dd
        ) t
    ),
    mx AS (
        SELECT event_type, day_idx AS max_tr_day, tr2 AS max_tr2 FROM (
            SELECT event_type, day_idx, tr2,
                row_number() OVER (
                    PARTITION BY event_type ORDER BY tr2 DESC, day_idx
                ) AS rn
            FROM tr
        ) t WHERE rn = 1
    )
    SELECT t.event_type,
        cast(count(*) as bigint) AS n_days,
        round(cast({S.isum('t.tr2', d)} as double)
            / (cast(count(*) as double) * 200), 6) AS mean_true_range,
        round(cast(max(m.max_tr2) as double) / 200, 6) AS max_true_range,
        cast(max(m.max_tr_day) as bigint) AS max_tr_day
    FROM tr t JOIN mx m ON m.event_type = t.event_type
    GROUP BY t.event_type
    ORDER BY t.event_type
    """


pair(
    "window_atr_true_range",
    _atr,
    tags=("window", "timeseries"),
    doc="Average true range per event type on the daily cents grid: "
    "TR = max(hi-lo, |hi-prev_mid|, |prev_mid-lo|) computed entirely in "
    "DOUBLED integer cents (2*mid is exact), one division at the end; "
    "argmax day with integer tie-break. One hash-agg then grid windows.",
)


# ---------------------------------------------------------------------------
# window_runs_test — Wald-Wolfowitz runs test on daily up/down signs
# ---------------------------------------------------------------------------


def _runs_test(d: str) -> str:
    return f"""
    WITH {_daily_means(d)},
    df AS (
        SELECT event_type, day_idx,
            dm - lag(dm) OVER (
                PARTITION BY event_type ORDER BY day_idx) AS dlt
        FROM daily
    ),
    sg AS (
        SELECT event_type, day_idx,
            CASE WHEN dlt > 0 THEN 1 ELSE -1 END AS s
        FROM df WHERE dlt IS NOT NULL AND dlt <> 0
    ),
    rr AS (
        SELECT event_type, s,
            CASE WHEN lag(s) OVER (
                PARTITION BY event_type ORDER BY day_idx) IS NULL THEN 1
                WHEN s <> lag(s) OVER (
                    PARTITION BY event_type ORDER BY day_idx) THEN 1
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
    SELECT event_type, runs, n_up, n_down,
        round(1 + cast(2 * n_up * n_down as double)
            / cast(nullif(n_up + n_down, 0) as double), 6) AS expected_runs,
        round((cast(runs as double)
            - (1 + cast(2 * n_up * n_down as double)
               / cast(nullif(n_up + n_down, 0) as double)))
            / nullif(sqrt(
                cast(2 * n_up * n_down as double)
                * cast(2 * n_up * n_down - n_up - n_down as double)
                / (cast(n_up + n_down as double)
                   * cast(n_up + n_down as double)
                   * cast(nullif(n_up + n_down - 1, 0) as double))),
              cast(0 as double)), 6) AS z_score
    FROM agg ORDER BY event_type
    """


pair(
    "window_runs_test",
    _runs_test,
    tags=("window", "timeseries", "stats"),
    doc="Wald-Wolfowitz runs test for randomness of daily up/down moves "
    "per event type: run count vs its null expectation "
    "1 + 2 n+ n- / n and variance, z-scored. Signs from exact decimal "
    "diffs (zeros excluded); integer counts until the final z.",
)


# ---------------------------------------------------------------------------
# eval_brier_decomposition — Murphy reliability/resolution/uncertainty
# ---------------------------------------------------------------------------


def _brier_decomp(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT {_EV_CENTS} AS s,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    g AS (
        SELECT s, cast(count(*) as bigint) AS c, {S.isum('y', d)} AS pos
        FROM sl GROUP BY s
    ),
    mg AS (
        SELECT s, c, pos, max(s) OVER () AS m FROM g
    ),
    b AS (
        SELECT {S.idiv('10 * s', 'm + 1', d)} AS bin,
            {S.isum('c', d)} AS nb, {S.isum('pos', d)} AS posb,
            {S.isum('s * c', d)} AS ssum, max(m) AS m
        FROM mg GROUP BY {S.idiv('10 * s', 'm + 1', d)}
    ),
    tot AS (
        SELECT {S.isum('nb', d)} AS n, {S.isum('posb', d)} AS np,
            cast(count(*) as bigint) AS n_bins
        FROM b
    ),
    terms AS (
        SELECT
            round(cast(b.nb as double)
                * (cast(b.ssum as double)
                       / (cast(b.nb as double) * cast(b.m as double))
                   - cast(b.posb as double) / cast(b.nb as double))
                * (cast(b.ssum as double)
                       / (cast(b.nb as double) * cast(b.m as double))
                   - cast(b.posb as double) / cast(b.nb as double)),
                9) AS rel_t,
            round(cast(b.nb as double)
                * (cast(b.posb as double) / cast(b.nb as double)
                   - cast(t.np as double) / cast(t.n as double))
                * (cast(b.posb as double) / cast(b.nb as double)
                   - cast(t.np as double) / cast(t.n as double)),
                9) AS res_t,
            t.n AS n, t.np AS np, t.n_bins AS n_bins
        FROM b JOIN tot t ON 1 = 1
    )
    SELECT max(n) AS n_events, max(n_bins) AS n_bins,
        round({S.dsum('rel_t', d)} / cast(max(n) as double), 6)
            AS reliability,
        round({S.dsum('res_t', d)} / cast(max(n) as double), 6)
            AS resolution,
        round(cast(max(np) as double) / cast(max(n) as double)
            * (1 - cast(max(np) as double) / cast(max(n) as double)), 6)
            AS uncertainty,
        round({S.dsum('rel_t', d)} / cast(max(n) as double)
            - {S.dsum('res_t', d)} / cast(max(n) as double)
            + cast(max(np) as double) / cast(max(n) as double)
              * (1 - cast(max(np) as double) / cast(max(n) as double)),
            6) AS brier_binned
    FROM terms
    """


pair(
    "eval_brier_decomposition",
    _brier_decomp,
    tags=("eval", "mlprep"),
    doc="Murphy decomposition of the binned Brier score (reliability - "
    "resolution + uncertainty) over eval_calibration_bins' 10 integer "
    "bins of the cents-grid score: REL penalizes mis-calibration, RES "
    "rewards discrimination, UNC is the base-rate entropy term. All "
    "sums on the bounded bin grid, 9-dp-quantized. The single-row "
    "sibling of eval_brier_score (which is unbinned).",
)


# ---------------------------------------------------------------------------
# eval_kendall_tau — tau-b between two daily series (calendar-bounded pairs)
# ---------------------------------------------------------------------------


def _kendall_tau(d: str, daily: str) -> str:
    # The calendar grid is a shared core: inlined, the xy pair-build
    # sides and the n_days scalar each re-ran the fact hash-agg (6 fact
    # scans planned — the round-11 registry-wide plan audit).
    return f"""
    WITH daily AS ({daily}),
    xy AS (
        SELECT v.day_idx, v.dm AS x, p.dm AS y, 1 AS k
        FROM (SELECT day_idx, dm FROM daily WHERE event_type = 'view') v
        JOIN (SELECT day_idx, dm FROM daily WHERE event_type = 'purchase') p
            ON p.day_idx = v.day_idx
    ),
    pr AS (
        SELECT /*+ BROADCAST(b) */
            CASE WHEN a.x < b.x THEN 1 WHEN a.x > b.x THEN -1 ELSE 0 END
                AS sx,
            CASE WHEN a.y < b.y THEN 1 WHEN a.y > b.y THEN -1 ELSE 0 END
                AS sy
        FROM xy a JOIN xy b ON a.k = b.k AND a.day_idx < b.day_idx
    ),
    cnt AS (
        SELECT cast(count(*) as bigint) AS n_pairs,
            {S.isum('CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END', d)} AS nc,
            {S.isum('CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END', d)} AS nd,
            {S.isum('CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END', d)}
                AS tx,
            {S.isum('CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END', d)}
                AS ty
        FROM pr
    )
    SELECT (SELECT cast(count(*) as bigint) FROM xy) AS n_days,
        n_pairs, nc, nd,
        round(cast(nc - nd as double)
            / nullif(sqrt(cast(nc + nd + tx as double)
                          * cast(nc + nd + ty as double)),
                     cast(0 as double)), 6) AS tau_b
    FROM cnt
    """


pair(
    "eval_kendall_tau",
    _kendall_tau,
    shared={"daily": _daily_grid},
    tags=("eval", "stats"),
    doc="Kendall tau-b rank correlation between the daily-mean 'view' and "
    "'purchase' series: concordant/discordant/tied pair counts from "
    "exact decimal compares. The pair build is an equi-join on a "
    "constant key over the CALENDAR grid (31..365 rows — broadcast "
    "hash + residual, never cartesian, never O(rows^2)). The "
    "pair-counting sibling of eval_spearman_rho. The calendar grid is "
    "localCheckpointed so its consumers share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# eval_matthews_corr — confusion-matrix quality at a threshold grid
# ---------------------------------------------------------------------------


def _mcc(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT {_EV_CENTS} AS s,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    g AS (
        SELECT s, cast(count(*) as bigint) AS c, {S.isum('y', d)} AS pos,
            1 AS k
        FROM sl GROUP BY s
    ),
    th AS (
        SELECT cast(5000 as bigint) AS thr, 1 AS k
        UNION ALL SELECT cast(15000 as bigint), 1
        UNION ALL SELECT cast(30000 as bigint), 1
    ),
    cm AS (
        SELECT t.thr,
            {S.isum('CASE WHEN g.s >= t.thr THEN g.pos ELSE 0 END', d)}
                AS tp,
            {S.isum('CASE WHEN g.s >= t.thr THEN g.c - g.pos ELSE 0 END', d)}
                AS fp,
            {S.isum('CASE WHEN g.s < t.thr THEN g.pos ELSE 0 END', d)}
                AS fn,
            {S.isum('CASE WHEN g.s < t.thr THEN g.c - g.pos ELSE 0 END', d)}
                AS tn
        FROM g JOIN th t ON g.k = t.k
        GROUP BY t.thr
    )
    SELECT thr AS threshold_cents, tp, fp, fn, tn,
        round((cast(tp as double) * cast(tn as double)
               - cast(fp as double) * cast(fn as double))
            / nullif(sqrt(cast(tp + fp as double) * cast(tp + fn as double)
                          * cast(tn + fp as double) * cast(tn + fn as double)),
                     cast(0 as double)), 6) AS mcc,
        round(cast(tp as double) / cast(nullif(tp + fn, 0) as double)
            + cast(tn as double) / cast(nullif(tn + fp, 0) as double) - 1,
            6) AS youden_j,
        round((cast(tp as double) / cast(nullif(tp + fn, 0) as double)
               + cast(tn as double) / cast(nullif(tn + fp, 0) as double))
            / 2, 6) AS balanced_accuracy
    FROM cm ORDER BY thr
    """


pair(
    "eval_matthews_corr",
    _mcc,
    tags=("eval", "mlprep"),
    doc="Matthews correlation, Youden's J, and balanced accuracy for "
    "'cents >= threshold predicts purchase' at a 3-point threshold "
    "grid. Confusion counts are conditional integer aggregates of the "
    "cents grid joined to the constant-key threshold table (broadcast); "
    "the MCC product is computed in doubles so bigint counts cannot "
    "overflow at fleet scale. Completes eval_threshold_sweep with the "
    "correlation-style scalar.",
)


# ---------------------------------------------------------------------------
# eval_log_loss — clipped cross-entropy on the cents grid
# ---------------------------------------------------------------------------


def _log_loss(d: str) -> str:
    p = ("greatest(least(cast(s as double) / cast(nullif(m, 0) as double),"
         " cast(0.999 as double)), cast(0.001 as double))")
    term = (
        f"round(-(cast(pos as double) * ln({p})"
        f" + cast(c - pos as double) * ln(1 - {p})), 9)"
    )
    base = "(cast(np as double) / cast(n as double))"
    return f"""
    WITH sl AS (
        SELECT {_EV_CENTS} AS s,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    g AS (
        SELECT s, cast(count(*) as bigint) AS c, {S.isum('y', d)} AS pos
        FROM sl GROUP BY s
    ),
    mg AS (
        SELECT s, c, pos, max(s) OVER () AS m FROM g
    ),
    agg AS (
        SELECT {S.isum('c', d)} AS n, {S.isum('pos', d)} AS np,
            {_dsum9(term)} AS ll_sum
        FROM mg
    )
    SELECT n AS n_events, np AS n_pos,
        round(ll_sum / cast(n as double), 6) AS log_loss,
        round(CASE WHEN np > 0 AND np < n THEN
            -({base} * ln({base}) + (1 - {base}) * ln(1 - {base}))
            END, 6) AS baseline_entropy,
        round(CASE WHEN np > 0 AND np < n THEN
            1 - (ll_sum / cast(n as double))
            / nullif(-({base} * ln({base}) + (1 - {base}) * ln(1 - {base})),
                     cast(0 as double))
            END, 6) AS skill
    FROM agg
    """


pair(
    "eval_log_loss",
    _log_loss,
    tags=("eval", "mlprep"),
    doc="Cross-entropy (log loss) of the cents-grid score p = s/max_s, "
    "clipped to [0.001, 0.999], vs the purchase label; baseline = "
    "base-rate entropy, skill = 1 - ll/baseline. ln() runs on identical "
    "doubles per grid row and is 9-dp-quantized before the decimal sum "
    "(house transcendental discipline). The proper-scoring sibling of "
    "eval_brier_score.",
)


# ---------------------------------------------------------------------------
# eval_regression_diagnostics — OLS fit quality + Durbin-Watson
# ---------------------------------------------------------------------------


def _reg_diag(d: str) -> str:
    return f"""
    WITH {_daily_means(d)},
    st AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
            {S.isum('day_idx', d)} AS sx,
            {S.dsum('dm', d)} AS sy,
            {S.isum('day_idx * day_idx', d)} AS sxx,
            {S.dsum('day_idx * dm', d)} AS sxy
        FROM daily GROUP BY event_type
    ),
    fit AS (
        SELECT event_type, n,
            (cast(n as double) * sxy - cast(sx as double) * sy)
                / nullif(cast(n as double) * cast(sxx as double)
                         - cast(sx as double) * cast(sx as double),
                         cast(0 as double)) AS beta,
            sy / cast(n as double) AS ybar,
            cast(sx as double) / cast(n as double) AS xbar
        FROM st
    ),
    res AS (
        SELECT dl.event_type, dl.day_idx, f.n, f.beta,
            round(cast(dl.dm as double)
                - (f.ybar + f.beta * (dl.day_idx - f.xbar)), 9) AS e,
            round((cast(dl.dm as double) - f.ybar)
                * (cast(dl.dm as double) - f.ybar), 9) AS sst_t
        FROM daily dl JOIN fit f ON f.event_type = dl.event_type
    ),
    rl AS (
        SELECT event_type, n, beta, e, sst_t,
            lag(e) OVER (PARTITION BY event_type ORDER BY day_idx) AS ep
        FROM res
    )
    SELECT event_type, max(n) AS n_days,
        round(max(beta), 6) AS slope,
        round(1 - {S.dsum('round(e * e, 9)', d)}
            / nullif({S.dsum('sst_t', d)}, cast(0 as double)), 6) AS r2,
        round(1 - ({S.dsum('round(e * e, 9)', d)}
                   / nullif({S.dsum('sst_t', d)}, cast(0 as double)))
            * cast(max(n) - 1 as double)
            / cast(nullif(max(n) - 2, 0) as double), 6) AS adj_r2,
        round({S.dsum('CASE WHEN ep IS NULL THEN cast(0 as double)'
                      ' ELSE round((e - ep) * (e - ep), 9) END', d)}
            / nullif({S.dsum('round(e * e, 9)', d)}, cast(0 as double)),
            6) AS durbin_watson,
        round({S.dsum('CASE WHEN ep IS NULL THEN cast(0 as double)'
                      ' ELSE round(e * ep, 9) END', d)}
            / nullif({S.dsum('round(e * e, 9)', d)}, cast(0 as double)),
            6) AS resid_autocorr1
    FROM rl GROUP BY event_type ORDER BY event_type
    """


pair(
    "eval_regression_diagnostics",
    _reg_diag,
    tags=("eval", "stats"),
    doc="OLS fit diagnostics for daily mean ~ day per event type (the "
    "quality companion of agg_linreg_daily): R^2, adjusted R^2, "
    "Durbin-Watson, and lag-1 residual autocorrelation. Closed-form "
    "slope from exact grid sums; residuals 9-dp-quantized before the "
    "decimal sums; two grid passes, no iteration.",
)


# ---------------------------------------------------------------------------
# rec_item_item_topk — co-occurrence cosine recommendations
# ---------------------------------------------------------------------------


def _item_item(d: str) -> str:
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cnt AS (
        SELECT l_partkey, cast(count(*) as bigint) AS n_orders
        FROM op GROUP BY l_partkey
    ),
    anch AS (
        SELECT l_partkey AS anchor, n_orders AS n_a FROM (
            SELECT l_partkey, n_orders,
                row_number() OVER (
                    ORDER BY n_orders DESC, l_partkey) AS rn
            FROM cnt
        ) t WHERE rn <= 5
    ),
    co AS (
        SELECT an.anchor, b.l_partkey AS rec_part, an.n_a,
            cast(count(*) as bigint) AS n_ab
        FROM anch an
        JOIN op a ON a.l_partkey = an.anchor
        JOIN op b ON b.l_orderkey = a.l_orderkey
            AND b.l_partkey <> an.anchor
        GROUP BY an.anchor, b.l_partkey, an.n_a
    ),
    scored AS (
        SELECT c.anchor, c.rec_part, c.n_ab,
            cast(c.n_ab as double)
                / sqrt(cast(c.n_a as double) * cast(cb.n_orders as double))
                AS cosine
        FROM co c JOIN cnt cb ON cb.l_partkey = c.rec_part
    )
    SELECT anchor, rnk, rec_part, n_ab, round(cosine, 6) AS cosine
    FROM (
        SELECT anchor, rec_part, n_ab, cosine,
            row_number() OVER (
                PARTITION BY anchor
                ORDER BY cosine DESC, n_ab DESC, rec_part) AS rnk
        FROM scored
    ) r WHERE rnk <= 10
    ORDER BY anchor, rnk
    """


pair(
    "rec_item_item_topk",
    _item_item,
    tags=("rec", "join"),
    doc="Item-item co-occurrence recommender: for the 5 most-ordered "
    "parts, the top-10 co-purchased parts by cosine "
    "n_ab/sqrt(n_a n_b) — the ordered recommendation sibling of "
    "graph_neighbor_jaccard. The pair build is bounded to the "
    "broadcast anchor set BEFORE the basket self-join (no all-pairs); "
    "ranks break double ties on (n_ab, part).",
)


# ---------------------------------------------------------------------------
# rec_user_bias_baseline — mu + b_u + b_i baseline predictor audit
# ---------------------------------------------------------------------------


def _bias_cell_core(d: str) -> str:
    """The (user, item, mean-rating) matrix — the ONE pass over facts."""
    return f"""
        SELECT user_id, event_type AS item,
            cast(round({S.davg('value', d)}, 6) as decimal(18,6)) AS r
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id, event_type
    """


def _bias_baseline(d: str, cell: str) -> str:
    # The rating matrix is a shared core: inlined, gm/ib/ub/err each
    # re-ran the fact hash-agg (14 fact scans planned — the round-11
    # registry-wide plan audit).
    return f"""
    WITH cell AS ({cell}),
    gm AS (
        SELECT {S.davg('r', d)} AS mu, cast(count(*) as bigint) AS n,
            1 AS k
        FROM cell
    ),
    ib AS (
        SELECT c.item, {S.davg('c.r', d)} - max(g.mu) AS bi, 1 AS k
        FROM cell c JOIN gm g ON g.k = 1
        GROUP BY c.item
    ),
    ub AS (
        SELECT c.user_id,
            {S.dsum('round(cast(c.r as double) - g.mu - i.bi, 9)', d)}
                / cast(count(*) as double) AS bu
        FROM cell c
        JOIN ib i ON i.item = c.item
        JOIN gm g ON g.k = 1
        GROUP BY c.user_id
    ),
    err AS (
        SELECT g.n, g.mu,
            round((cast(c.r as double) - g.mu)
                * (cast(c.r as double) - g.mu), 9) AS e_glob,
            round((cast(c.r as double) - (g.mu + u.bu + i.bi))
                * (cast(c.r as double) - (g.mu + u.bu + i.bi)), 9)
                AS e_bias
        FROM cell c
        JOIN ib i ON i.item = c.item
        JOIN ub u ON u.user_id = c.user_id
        JOIN gm g ON g.k = 1
    )
    SELECT max(n) AS n_cells,
        (SELECT cast(count(*) as bigint) FROM ub) AS n_users,
        (SELECT cast(count(*) as bigint) FROM ib) AS n_items,
        round(max(mu), 6) AS global_mean,
        round(sqrt({S.dsum('e_glob', d)} / cast(max(n) as double)), 6)
            AS rmse_global,
        round(sqrt({S.dsum('e_bias', d)} / cast(max(n) as double)), 6)
            AS rmse_bias,
        round(1 - sqrt({S.dsum('e_bias', d)} / cast(max(n) as double))
            / nullif(sqrt({S.dsum('e_glob', d)} / cast(max(n) as double)),
                     cast(0 as double)), 6) AS improvement
    FROM err
    """


pair(
    "rec_user_bias_baseline",
    _bias_baseline,
    shared={"cell": _bias_cell_core},
    tags=("rec", "mlprep"),
    doc="The classic user/item bias baseline recommender (r_hat = mu + "
    "b_u + b_i) on the (user, event_type) mean-value matrix, with "
    "in-sample RMSE vs the global-mean predictor — the audit that says "
    "whether personalization signal exists before any factorization. "
    "Three stacked hash-aggs + broadcast bias joins; the global scalar "
    "joins on a constant key. The rating matrix is localCheckpointed so "
    "gm/ib/ub/err share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# text_readability_indices — ARI + Coleman-Liau per source
# ---------------------------------------------------------------------------


def _readability(d: str) -> str:
    if d == SPARK:
        letters = "length(regexp_replace(text, '[^A-Za-z]', ''))"
        sents = "size(regexp_extract_all(text, '[.!?]+', 0))"
    else:
        # DuckDB regexp_replace is first-match-only without the 'g' flag.
        letters = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
        sents = "len(regexp_extract_all(text, '[.!?]+'))"
    words = S.arr_len(S.split_ws("text", d), d)
    return f"""
    WITH per_doc AS (
        SELECT source,
            cast({letters} as bigint) AS lt,
            cast({words} as bigint) AS wd,
            cast(greatest({sents}, 1) as bigint) AS st
        FROM documents
    ),
    agg AS (
        SELECT source, cast(count(*) as bigint) AS n_docs,
            {S.isum('lt', d)} AS letters,
            {S.isum('wd', d)} AS words,
            {S.isum('st', d)} AS sentences
        FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, words, sentences,
        round(4.71 * cast(letters as double) / cast(nullif(words, 0) as double)
            + 0.5 * cast(words as double)
              / cast(nullif(sentences, 0) as double)
            - 21.43, 6) AS ari,
        round(0.0588 * (100 * cast(letters as double)
                        / cast(nullif(words, 0) as double))
            - 0.296 * (100 * cast(sentences as double)
                       / cast(nullif(words, 0) as double))
            - 15.8, 6) AS coleman_liau
    FROM agg ORDER BY source
    """


pair(
    "text_readability_indices",
    _readability,
    tags=("text",),
    doc="Automated Readability Index and Coleman-Liau per source from "
    "pure integer counts (letters via regex strip, whitespace words, "
    "sentence-terminator runs — riding text_sentence_length_stats' "
    "sentence grid), one double formula per source at the end. "
    "Letter-regex is ASCII by design: both indices are defined for "
    "English orthography.",
)


# ---------------------------------------------------------------------------
# text_burstiness_dispersion — variance-to-mean ratio of top terms
# ---------------------------------------------------------------------------


def _burstiness(d: str) -> str:
    return f"""
    WITH wta AS ({_word_tokens_all(d)}),
    tc AS (
        SELECT tok, doc_id, cast(count(*) as bigint) AS c
        FROM wta GROUP BY tok, doc_id
    ),
    tt AS (
        SELECT tok, {S.isum('c', d)} AS total,
            cast(count(*) as bigint) AS df,
            {S.isum('c * c', d)} AS ssq
        FROM tc GROUP BY tok
    ),
    nd AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents),
    top AS (
        SELECT tok, total, df, ssq, rn FROM (
            SELECT tok, total, df, ssq,
                row_number() OVER (ORDER BY total DESC, tok) AS rn
            FROM tt
        ) t WHERE rn <= 20
    )
    SELECT t.rn AS rnk, t.tok, t.total, t.df,
        round(cast(t.df as double) / cast(n.n_docs as double), 6)
            AS df_share,
        round((cast(n.n_docs as double) * cast(t.ssq as double)
               - cast(t.total as double) * cast(t.total as double))
            / (cast(n.n_docs as double) * cast(t.total as double)), 6)
            AS vmr
    FROM top t JOIN nd n ON 1 = 1
    ORDER BY t.rn
    """


pair(
    "text_burstiness_dispersion",
    _burstiness,
    tags=("text",),
    doc="Term burstiness for the top-20 corpus terms: variance-to-mean "
    "ratio of per-document counts (zeros included analytically — "
    "VMR = (N*sum(c^2) - total^2)/(N*total) from integer sums, so no "
    "zero-fill join). VMR >> 1 marks topical/bursty terms, ~1 marks "
    "function words (Church-Gale dispersion). One token shuffle.",
)


# ---------------------------------------------------------------------------
# text_simpson_diversity — lexical concentration per language
# ---------------------------------------------------------------------------


def _simpson(d: str) -> str:
    return f"""
    WITH wta AS ({_word_tokens_all(d)}),
    tl AS (
        SELECT dd.lang, w.tok, cast(count(*) as bigint) AS c
        FROM wta w JOIN documents dd ON dd.doc_id = w.doc_id
        GROUP BY dd.lang, w.tok
    ),
    agg AS (
        SELECT lang, {S.isum('c', d)} AS n_tokens,
            cast(count(*) as bigint) AS n_types,
            sum(cast(c as decimal(19,0)) * (c - 1)) AS pair_sum,
            cast(max(c) as bigint) AS top_c
        FROM tl GROUP BY lang
    )
    SELECT lang, n_tokens, n_types,
        round(cast(pair_sum as double)
            / nullif(cast(n_tokens as double)
                     * cast(n_tokens - 1 as double), cast(0 as double)),
            6) AS simpson_d,
        round(nullif(cast(n_tokens as double)
                     * cast(n_tokens - 1 as double), cast(0 as double))
            / nullif(cast(pair_sum as double), cast(0 as double)), 6)
            AS inv_simpson,
        round(cast(top_c as double) / cast(nullif(n_tokens, 0) as double),
            6) AS top_token_share
    FROM agg ORDER BY lang
    """


pair(
    "text_simpson_diversity",
    _simpson,
    tags=("text",),
    doc="Simpson's lexical diversity per language: D = sum n_w(n_w-1) / "
    "N(N-1) over token counts (the repeat-probability), inverse Simpson "
    "(effective vocabulary size), and top-token share. Integer until "
    "the final divisions (doubles, so fleet-scale counts can't overflow "
    "the product). The concentration complement of text_ttr_diversity.",
)


# ---------------------------------------------------------------------------
# profile_mad_screen — per-column robust anomaly screen
# ---------------------------------------------------------------------------

_LINEITEM_COLS = (
    ("l_quantity", "l_quantity"),
    ("l_extendedprice", "l_extendedprice"),
    ("l_discount", "l_discount"),
    ("l_tax", "l_tax"),
)


def _li_unpivot() -> str:
    parts = [
        f"SELECT '{name}' AS grp, {_cents(col)} AS v FROM lineitem"
        for name, col in _LINEITEM_COLS
    ]
    return " UNION ALL ".join(parts)


def _mad_grid_core(d: str) -> str:
    """The (column, cents, count) grid over the 4-way unpivot — the ONE
    pass over lineitem (4 single-column scans, same columnar bytes as
    one 4-column scan)."""
    return f"""
    WITH u AS ({_li_unpivot()})
    SELECT grp, v, cast(count(*) as bigint) AS c FROM u GROUP BY grp, v
    """


def _mad_screen(d: str, grid: str) -> str:
    # The cents grid is a shared core: inlined, med/dev/outl each
    # re-ran the 4-scan unpivot hash-agg (28 fact scans planned — the
    # round-11 registry-wide plan audit's worst offender).
    return f"""
    WITH grid AS ({grid}),
    {_cum_grid('grid')},
    med AS (
        SELECT grp, max(n) AS n, {_q4_minmax(2, 'med', d)}
        FROM cumg GROUP BY grp
    ),
    med4 AS (
        SELECT grp, n, {_q4_value(2, 'med')} AS m4 FROM med
    ),
    dev AS (
        SELECT g.grp, abs(4 * g.v - m.m4) AS v, g.c
        FROM grid g JOIN med4 m ON m.grp = g.grp
    ),
    dgrid AS (
        SELECT grp, v, cast(sum(c) as bigint) AS c FROM dev GROUP BY grp, v
    ),
    dcum AS (
        SELECT grp, v, c,
            cast(sum(c) OVER (PARTITION BY grp ORDER BY v) as bigint) AS cum,
            cast(sum(c) OVER (PARTITION BY grp) as bigint) AS n
        FROM dgrid
    ),
    mad AS (
        SELECT grp, max(n) AS n, {_q4_minmax(2, 'mad', d)}
        FROM dcum GROUP BY grp
    ),
    mad4 AS (
        SELECT grp, {_q4_value(2, 'mad')} AS mad16 FROM mad
    ),
    outl AS (
        SELECT g.grp,
            {S.isum('CASE WHEN cast(4 * abs(4 * g.v - m.m4) as double)'
                    ' > 5.1891 * cast(x.mad16 as double)'
                    ' THEN g.c ELSE 0 END', d)} AS n_out,
            {S.isum('g.c', d)} AS n
        FROM grid g
        JOIN med4 m ON m.grp = g.grp
        JOIN mad4 x ON x.grp = g.grp
        GROUP BY g.grp
    )
    SELECT o.grp AS column_name, o.n AS n_rows,
        round(cast(m.m4 as double) / 400, 6) AS median_value,
        round(1.4826 * cast(x.mad16 as double) / 1600, 6) AS mad_scaled,
        o.n_out AS n_outliers,
        round(cast(o.n_out as double) / cast(nullif(o.n, 0) as double), 6)
            AS outlier_share
    FROM outl o
    JOIN med4 m ON m.grp = o.grp
    JOIN mad4 x ON x.grp = o.grp
    ORDER BY o.grp
    """


pair(
    "profile_mad_screen",
    _mad_screen,
    shared={"grid": _mad_grid_core},
    tags=("profile", "quality"),
    doc="Per-column robust anomaly screen over four lineitem measures: "
    "exact interpolated median and MAD computed on the distinct-cents "
    "grid via cumulative counts in QUARTER units (4*median and 16*MAD "
    "are exact bigints — no engine-specific percentile kernels), then "
    "the 3.5-sigma robust z flag |x-med| > 3.5*1.4826*MAD as one "
    "integer-vs-double compare per grid row. Scales with the value "
    "domain, not row count — the robust sibling of agg_zscore_outliers. "
    "The cents grid is localCheckpointed so med/dev/outl share ONE "
    "unpivot pass.",
)


# ---------------------------------------------------------------------------
# profile_schema_drift — weekly key-domain drift in events.props
# ---------------------------------------------------------------------------


def _schema_drift(d: str) -> str:
    kx = f"cast({S.json_get('props', 'k', d)} as bigint)"
    return f"""
    WITH wk AS (
        SELECT DISTINCT {S.idiv(_day_idx(d), '7', d)} AS week, {kx} AS key
        FROM events WHERE props IS NOT NULL AND {kx} IS NOT NULL
    ),
    pairs AS (
        SELECT coalesce(a.week, b.week + 1) AS week,
            CASE WHEN a.key IS NOT NULL AND b.key IS NOT NULL THEN 1
                ELSE 0 END AS both_,
            CASE WHEN a.key IS NOT NULL AND b.key IS NULL THEN 1
                ELSE 0 END AS added,
            CASE WHEN a.key IS NULL AND b.key IS NOT NULL THEN 1
                ELSE 0 END AS dropped
        FROM wk a
        FULL OUTER JOIN (SELECT week, key FROM wk) b
            ON b.week = a.week - 1 AND b.key = a.key
        WHERE coalesce(a.week, b.week + 1)
            <= (SELECT max(week) FROM wk)
    ),
    agg AS (
        SELECT week,
            {S.isum('both_ + added', d)} AS n_keys,
            {S.isum('added', d)} AS n_new,
            {S.isum('dropped', d)} AS n_dropped,
            {S.isum('both_', d)} AS n_stable
        FROM pairs GROUP BY week
    )
    SELECT cast(week as bigint) AS week, n_keys, n_new, n_dropped,
        round(cast(n_stable as double)
            / cast(nullif(n_keys + n_dropped, 0) as double), 6)
            AS jaccard_vs_prev
    FROM agg WHERE week > 0 ORDER BY week
    """


pair(
    "profile_schema_drift",
    _schema_drift,
    tags=("profile", "json"),
    doc="Schema/vocabulary drift detector over the events.props key "
    "domain (rides variant_shred_events' shredding): per week, the "
    "distinct key set vs the previous week — keys added, dropped, "
    "stable, and the Jaccard stability of the weekly sets via one "
    "FULL OUTER self-join on (week-1, key). The key-domain grid is "
    "bounded, so the join is dimension-scale regardless of row count.",
)


# ---------------------------------------------------------------------------
# agg_theil_inequality — Theil T/L decomposable inequality indices
# ---------------------------------------------------------------------------


def _theil(d: str) -> str:
    x = "cast(g.v as double)"
    mu = "(cast(t.s as double) / cast(t.n as double))"
    return f"""
    WITH grid AS (
        SELECT c_nationkey, {_cents('c_acctbal')} AS v,
            cast(count(*) as bigint) AS c
        FROM customer WHERE c_acctbal > 0
        GROUP BY c_nationkey, {_cents('c_acctbal')}
    ),
    tot AS (
        SELECT c_nationkey, {S.isum('c', d)} AS n, {S.isum('v * c', d)} AS s
        FROM grid GROUP BY c_nationkey
    ),
    terms AS (
        SELECT g.c_nationkey, t.n, t.s,
            round(cast(g.c as double) * ({x} / {mu}) * ln({x} / {mu}), 9)
                AS tt,
            round(cast(g.c as double) * ln({mu} / {x}), 9) AS tl
        FROM grid g JOIN tot t ON t.c_nationkey = g.c_nationkey
    )
    SELECT c_nationkey, max(n) AS n_customers,
        round(cast(max(s) as double) / cast(max(n) as double) / 100, 6)
            AS mean_acctbal,
        round({_dsum9('tt')} / cast(max(n) as double), 6) AS theil_t,
        round({_dsum9('tl')} / cast(max(n) as double), 6) AS theil_l
    FROM terms GROUP BY c_nationkey ORDER BY c_nationkey
    """


pair(
    "agg_theil_inequality",
    _theil,
    tags=("agg", "stats"),
    doc="Theil T and L (mean-log-deviation) inequality indices of "
    "positive account balances per nation — the decomposable "
    "information-theoretic complement of agg_gini_value. One hash-agg "
    "to the (nation, cents) grid; ln() on identical doubles per grid "
    "row, 9-dp-quantized into decimal sums.",
)


# ---------------------------------------------------------------------------
# agg_cramers_v — bias-corrected categorical association
# ---------------------------------------------------------------------------


def _cramers_obs_core(d: str) -> str:
    """The seg x band contingency grid — the ONE fact pass."""
    band = "cast(floor(c_acctbal / cast(1000 as double)) as bigint)"
    return f"""
        SELECT c_mktsegment AS seg, {band} AS band,
            cast(count(*) as bigint) AS o
        FROM customer GROUP BY c_mktsegment, {band}
    """


def _cramers_v(d: str, obs: str) -> str:
    # The contingency grid is a shared core: inlined, segs/bands/tot/chi
    # each re-ran the fact hash-agg (4 fact scans planned — the round-11
    # registry-wide plan audit).
    return f"""
    WITH obs AS ({obs}),
    segs AS (
        SELECT seg, {S.isum('o', d)} AS rm, 1 AS k FROM obs GROUP BY seg
    ),
    bands AS (
        SELECT band, {S.isum('o', d)} AS cm, 1 AS k FROM obs GROUP BY band
    ),
    tot AS (
        SELECT {S.isum('o', d)} AS n,
            cast(count(DISTINCT seg) as bigint) AS r,
            cast(count(DISTINCT band) as bigint) AS c
        FROM obs
    ),
    grid AS (
        SELECT s.seg, b.band, s.rm, b.cm FROM segs s JOIN bands b ON s.k = b.k
    ),
    chi AS (
        SELECT round(
            (cast(coalesce(o.o, 0) as double)
             - cast(g.rm as double) * cast(g.cm as double)
               / cast(t.n as double))
            * (cast(coalesce(o.o, 0) as double)
               - cast(g.rm as double) * cast(g.cm as double)
                 / cast(t.n as double))
            / (cast(g.rm as double) * cast(g.cm as double)
               / cast(t.n as double)), 9) AS x2,
            t.n, t.r, t.c
        FROM grid g
        JOIN tot t ON 1 = 1
        LEFT JOIN obs o ON o.seg = g.seg AND o.band = g.band
    )
    SELECT max(n) AS n_rows, max(r) AS n_segments, max(c) AS n_bands,
        round({S.dsum('x2', d)}, 6) AS chi2,
        round(sqrt({S.dsum('x2', d)} / nullif(cast(max(n) as double)
            * cast(least(max(r), max(c)) - 1 as double),
            cast(0 as double))), 6) AS cramers_v,
        round(sqrt(
            greatest({S.dsum('x2', d)} / cast(max(n) as double)
                - cast((max(r) - 1) * (max(c) - 1) as double)
                  / cast(nullif(max(n) - 1, 0) as double),
                cast(0 as double))
            / nullif(least(
                cast(max(r) as double)
                    - cast((max(r) - 1) * (max(r) - 1) as double)
                      / cast(nullif(max(n) - 1, 0) as double),
                cast(max(c) as double)
                    - cast((max(c) - 1) * (max(c) - 1) as double)
                      / cast(nullif(max(n) - 1, 0) as double)) - 1,
                cast(0 as double))), 6) AS cramers_v_corrected
    FROM chi
    """


pair(
    "agg_cramers_v",
    _cramers_v,
    shared={"obs": _cramers_obs_core},
    tags=("agg", "stats"),
    doc="Cramer's V association between market segment and acctbal "
    "kilo-band, plus the Bergsma bias-corrected variant — the "
    "effect-size companion of agg_chi2_independence. Chi-square over "
    "the FULL r x c grid (zero cells included via the constant-key "
    "margin expansion, broadcast — never cartesian); per-cell terms "
    "9-dp-quantized. The contingency grid is localCheckpointed so its "
    "consumers share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# agg_hhi_concentration — supplier revenue concentration per brand
# ---------------------------------------------------------------------------


def _hhi(d: str) -> str:
    rev = "l_extendedprice * (1 - l_discount)"
    return f"""
    WITH rv AS (
        SELECT p.p_brand, l.l_suppkey,
            cast(sum(cast({rev} as decimal(38,6))) as double) AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand, l.l_suppkey
    ),
    tot AS (
        SELECT p_brand,
            cast(sum(cast(rev as decimal(38,6))) as double) AS t,
            cast(count(*) as bigint) AS n_supp
        FROM rv GROUP BY p_brand
    ),
    rk AS (
        SELECT r.p_brand, r.rev, t.t, t.n_supp,
            row_number() OVER (
                PARTITION BY r.p_brand ORDER BY r.rev DESC, r.l_suppkey
            ) AS rn
        FROM rv r JOIN tot t ON t.p_brand = r.p_brand
    )
    SELECT p_brand, max(n_supp) AS n_suppliers,
        round({_dsum9('round((rev / t) * (rev / t), 9)')} * 10000, 6)
            AS hhi,
        round(max(CASE WHEN rn = 1 THEN rev / t END), 6) AS top_share,
        round({_dsum9('CASE WHEN rn <= 4 THEN round(rev / t, 9)'
                      ' ELSE cast(0 as double) END')}, 6) AS cr4
    FROM rk GROUP BY p_brand ORDER BY p_brand
    """


pair(
    "agg_hhi_concentration",
    _hhi,
    tags=("agg", "stats"),
    doc="Herfindahl-Hirschman concentration of supplier revenue within "
    "each part brand: HHI (x10000), top supplier share, and CR4 — the "
    "antitrust-style sibling of agg_holder_concentration. Exact "
    "decimal revenue sums; shares 9-dp-quantized; ranks break ties on "
    "the integer supplier key. Two hash-aggs + one bounded window.",
)


# ---------------------------------------------------------------------------
# layout_prune_simulator — partition-pruning what-if over the month layout
# ---------------------------------------------------------------------------


def _prune_dg_core(d: str) -> str:
    """The (order-date, count) grid — the ONE pass over orders."""
    return """
        SELECT o_orderdate AS d, cast(count(*) as bigint) AS n
        FROM orders GROUP BY o_orderdate
    """


def _prune_sim(d: str, dg: str) -> str:
    # The date grid is a shared core: inlined, the five predicate branches
    # (each with a scalar parts_total subquery) re-ran the fact hash-agg
    # (10 fact scans planned — the round-11 registry-wide plan audit).
    mon = S.fmt_month("d", d)

    def branch(name: str, lo_mon: str, hi_mon: str, lo_ts: str,
               hi_ts: str) -> str:
        return f"""
        SELECT '{name}' AS predicate,
            (SELECT cast(count(DISTINCT {mon}) as bigint) FROM dg)
                AS parts_total,
            cast(count(DISTINCT CASE WHEN {mon} >= '{lo_mon}'
                AND {mon} <= '{hi_mon}' THEN {mon} END) as bigint)
                AS parts_read,
            {S.isum(f"CASE WHEN {mon} >= '{lo_mon}'"
                    f" AND {mon} <= '{hi_mon}' THEN n ELSE 0 END", d)}
                AS rows_read,
            {S.isum(f"CASE WHEN d >= timestamp '{lo_ts}'"
                    f" AND d < timestamp '{hi_ts}' THEN n ELSE 0 END", d)}
                AS rows_matched
        FROM dg
        """

    branches = " UNION ALL ".join(
        [
            branch("year_1995", "1995-01", "1995-12",
                   "1995-01-01 00:00:00", "1996-01-01 00:00:00"),
            branch("q4_1996", "1996-10", "1996-12",
                   "1996-10-01 00:00:00", "1997-01-01 00:00:00"),
            branch("midmonth_window", "1996-11", "1997-02",
                   "1996-11-15 00:00:00", "1997-02-15 00:00:00"),
            branch("single_month_1997_03", "1997-03", "1997-03",
                   "1997-03-01 00:00:00", "1997-04-01 00:00:00"),
            branch("ge_2000", "2000-01", "2001-08",
                   "2000-01-01 00:00:00", "2001-09-01 00:00:00"),
        ]
    )
    return f"""
    WITH dg AS ({dg}),
    sim AS ({branches})
    SELECT predicate, parts_total, parts_read, rows_read, rows_matched,
        round(1 - cast(parts_read as double)
            / cast(nullif(parts_total, 0) as double), 6) AS prune_ratio,
        round(cast(rows_read as double)
            / cast(nullif(rows_matched, 0) as double), 6)
            AS read_amplification
    FROM sim ORDER BY predicate
    """


pair(
    "layout_prune_simulator",
    _prune_sim,
    shared={"dg": _prune_dg_core},
    tags=("layout",),
    doc="Partition-pruning what-if: if orders were laid out by "
    "month(o_orderdate), how many partitions and rows would five "
    "representative predicates read vs actually match "
    "(read_amplification > 1 exposes predicates misaligned with the "
    "layout, e.g. the mid-month range). One hash-agg to the bounded "
    "date grid; every branch evaluates on the grid — at fleet scale "
    "this runs off partition stats, same math. The date grid is "
    "localCheckpointed so the five branches share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# events_hour_uniformity_gof — chi-square goodness of fit vs uniform hours
# ---------------------------------------------------------------------------


def _hour_gof_core(d: str) -> str:
    """The (event_type, hour, count) grid — the ONE fact pass."""
    hr = f"({S.idiv(S.epoch_s('ts', d), '3600', d)} % 24)"
    return f"""
        SELECT event_type, {hr} AS hour, cast(count(*) as bigint) AS c
        FROM events GROUP BY event_type, {hr}
    """


def _hour_gof(d: str, hc: str) -> str:
    # The 24-row-per-type hour grid is a shared core: inlined,
    # tt/full_grid/pk each re-ran the fact hash-agg (4 fact scans
    # planned — the round-11 registry-wide plan audit, same class as
    # profile_last_digit_uniformity).
    return f"""
    WITH hc AS ({hc}),
    tt AS (
        SELECT event_type, {S.isum('c', d)} AS n FROM hc GROUP BY event_type
    ),
    full_grid AS (
        SELECT t.event_type, t.n, hh.hour, coalesce(hc.c, 0) AS c
        FROM (SELECT event_type, n, 1 AS k FROM tt) t
        JOIN (SELECT h AS hour, 1 AS k FROM (SELECT 1 AS one) one_row
              {S.explode_seq('h', '0', '23', d)}) hh ON hh.k = t.k
        LEFT JOIN hc ON hc.event_type = t.event_type AND hc.hour = hh.hour
    ),
    pk AS (
        SELECT event_type, hour AS peak_hour, c AS peak_c FROM (
            SELECT event_type, hour, c,
                row_number() OVER (
                    PARTITION BY event_type ORDER BY c DESC, hour) AS rn
            FROM full_grid
        ) t WHERE rn = 1
    )
    SELECT f.event_type, max(f.n) AS n_events,
        round(sum(cast(24 * f.c - f.n as double)
                  * cast(24 * f.c - f.n as double))
            / (24 * cast(max(f.n) as double)), 6) AS chi2,
        cast(23 as bigint) AS dof,
        cast(max(p.peak_hour) as bigint) AS peak_hour,
        round(cast(max(p.peak_c) as double) / cast(max(f.n) as double), 6)
            AS peak_share
    FROM full_grid f JOIN pk p ON p.event_type = f.event_type
    GROUP BY f.event_type ORDER BY f.event_type
    """


pair(
    "events_hour_uniformity_gof",
    _hour_gof,
    shared={"hc": _hour_gof_core},
    tags=("events", "stats"),
    doc="Chi-square goodness-of-fit of hour-of-day activity vs the "
    "uniform null, per event type: chi2 = sum (24c - n)^2 / 24n stays "
    "EXACT-integer until one division (no per-cell expected-count "
    "doubles); missing hours zero-filled via the 24-row constant-key "
    "grid; peak hour with integer tie-break. The inferential sibling "
    "of agg_mode_peak_hour. The hour grid is localCheckpointed so its "
    "consumers share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# mlprep_robust_scaler — median/IQR scaling audit across tables
# ---------------------------------------------------------------------------


def _feat_unpivot() -> str:
    return (
        f"SELECT 'o_totalprice' AS grp, {_cents('o_totalprice')} AS v"
        " FROM orders"
        f" UNION ALL SELECT 'c_acctbal', {_cents('c_acctbal')} FROM customer"
        f" UNION ALL SELECT 'l_quantity', {_cents('l_quantity')}"
        " FROM lineitem"
        f" UNION ALL SELECT 'l_discount', {_cents('l_discount')}"
        " FROM lineitem"
    )


def _scaler_grid_core(d: str) -> str:
    """The (feature, cents, count) grid over the cross-table unpivot —
    the ONE pass over the three fact tables."""
    return f"""
    WITH u AS ({_feat_unpivot()})
    SELECT grp, v, cast(count(*) as bigint) AS c FROM u GROUP BY grp, v
    """


def _robust_scaler(d: str, grid: str) -> str:
    # The cents grid is a shared core: inlined, qs/clip each re-ran
    # the cross-table unpivot hash-agg (12 fact scans planned — the
    # round-11 registry-wide plan audit).
    return f"""
    WITH grid AS ({grid}),
    {_cum_grid('grid')},
    qs AS (
        SELECT grp, max(n) AS n,
            {_q4_minmax(1, 'q1', d)}, {_q4_minmax(2, 'med', d)},
            {_q4_minmax(3, 'q3', d)}
        FROM cumg GROUP BY grp
    ),
    q4 AS (
        SELECT grp, n,
            {_q4_value(1, 'q1')} AS q14,
            {_q4_value(2, 'med')} AS m4,
            {_q4_value(3, 'q3')} AS q34
        FROM qs
    ),
    clip AS (
        SELECT g.grp,
            {S.isum('CASE WHEN abs(4 * g.v - q.m4) > 2 * (q.q34 - q.q14)'
                    ' THEN g.c ELSE 0 END', d)} AS n_clipped,
            {S.isum('g.c', d)} AS n
        FROM grid g JOIN q4 q ON q.grp = g.grp
        GROUP BY g.grp
    )
    SELECT c.grp AS feature, c.n AS n_rows,
        round(cast(q.m4 as double) / 400, 6) AS median_value,
        round(cast(q.q34 - q.q14 as double) / 400, 6) AS iqr,
        c.n_clipped,
        round(cast(c.n_clipped as double)
            / cast(nullif(c.n, 0) as double), 6) AS clipped_share
    FROM clip c JOIN q4 q ON q.grp = c.grp
    ORDER BY c.grp
    """


pair(
    "mlprep_robust_scaler",
    _robust_scaler,
    shared={"grid": _scaler_grid_core},
    tags=("mlprep", "profile"),
    doc="RobustScaler fit audit across four features from three tables: "
    "exact interpolated median and IQR from cumulative counts on the "
    "distinct-cents grid (quarter-unit bigints, engine-free), and the "
    "share of rows a |x-med| > 2*IQR clip would touch — the numbers "
    "that decide clip bounds before training. Scales with the value "
    "domain; the quartile sibling of mlprep_quantile_binning. The cents "
    "grid is localCheckpointed so qs/clip share ONE unpivot pass.",
)


# ---------------------------------------------------------------------------
# sim_norm_anisotropy — embedding norm / centroid-norm diagnostics
# ---------------------------------------------------------------------------


def _anisotropy(d: str) -> str:
    return f"""
    WITH ed AS ({_emb_dims(d)}),
    vn AS (
        SELECT label, vec_id,
            round(sqrt(cast(sum(cast(v * v as decimal(38,12))) as double)),
                9) AS nrm
        FROM ed GROUP BY label, vec_id
    ),
    cm AS (
        SELECT label, dim,
            cast(sum(cast(v as decimal(38,9))) as double)
                / cast(count(*) as double) AS m
        FROM ed GROUP BY label, dim
    ),
    cn AS (
        SELECT label,
            sqrt(cast(sum(cast(round(m * m, 12) as decimal(38,12)))
                as double)) AS cnorm
        FROM cm GROUP BY label
    ),
    mn AS (
        SELECT label, cast(count(*) as bigint) AS n_vecs,
            {S.dsum('nrm', d)} / cast(count(*) as double) AS mean_norm
        FROM vn GROUP BY label
    )
    SELECT m.label, m.n_vecs,
        round(m.mean_norm, 6) AS mean_norm,
        round(c.cnorm, 6) AS centroid_norm,
        round(c.cnorm / nullif(m.mean_norm, cast(0 as double)), 6)
            AS anisotropy
    FROM mn m JOIN cn c ON c.label = m.label
    ORDER BY m.label
    """


pair(
    "sim_norm_anisotropy",
    _anisotropy,
    tags=("sim",),
    doc="Embedding-space anisotropy per label: mean vector norm vs the "
    "norm of the mean vector (their ratio ~0 for isotropic clouds, "
    "~1 for a collapsed cone — the common-direction pathology that "
    "breaks cosine retrieval). Per-dim sums in exact decimals over the "
    "REPARTITION-fanned (label, dim) grid; sqrt on identical doubles, "
    "9-dp-quantized before the per-label mean.",
)
