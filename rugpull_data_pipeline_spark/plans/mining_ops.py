"""Round-8 pattern-mining, privacy, and advanced-analytics operators.

The registry unfreeze mandated by the round-7 verdict (~25 genuinely new
queries per round for the driver window, see registry.driver_order). These close operator families a training-data / analytics engine
still needs around the existing 287: association rules and lift/gains
evaluation, weight-of-evidence feature scoring, isotonic (PAVA)
calibration, skyline (Pareto-frontier) selection, gaps-and-islands run
detection, bitmap-index distinct counting, bipartite graph projection +
degree assortativity + multi-hop BFS reach, type-token lexical diversity
and OOV-rate corpus mix diagnostics, l-diversity privacy auditing (the
k-anonymity sibling), classical seasonal decomposition / SAX
symbolization / MA-crossover signal detection, cosine radius search (the
range-query complement of the top-k ANN stack), weighted medians,
systematic sampling, a column-cardinality advisor, and a bloom-filter
sizing advisor.

Reference anchor: the reference pipeline maintains hot-set membership and
per-pair price state (``SERVER/combined_subscriber.py:86-98``,
``SERVER/ingest_prices.py:42-55``) — the mining/eval shapes here are the
analysis layer such curated state feeds. Everything else is the
capability uplift BASELINE.json mandates (dedup / similarity search /
text analysis / evaluation).

Cross-engine determinism (the repo's standing fp discipline): counts and
checksums stay integer; double math happens on identical inputs with one
division/sqrt/ln at the end, rounded; sums of doubles are
decimal-quantized first (``S.dsum`` / explicit ``decimal`` casts);
half-way rounding never decides a value (floor-based quantization).

Scale notes (each op, at 1000 executors / 100 TB):
- co-purchase graph family (project/assortativity/BFS): the pair build is
  a self-equi-join on l_orderkey over DISTINCT (order, part) — fan-out is
  bounded by parts-per-order (≤ ~13 in the fixture, bounded by basket
  size in any real corpus), never quadratic in rows; BFS expands a
  cumulative frontier through 3 equi-joins with DISTINCT between hops.
- skyline: Spark side is the O(n log n) plan — aggregate to the cents
  price grid (bounded by the price domain), one windowed running max over
  that grid, then an equi-join back; the quadratic NOT-EXISTS lives only
  in the DuckDB oracle.
- isotonic / lift-gains / calibration shapes: aggregate to a ≤20-bin
  score grid first; all pairwise work happens on the grid. The one
  total-order operation (ntile for deciles) is documented as
  presentation-layer; production assigns deciles from exact grid
  cut-positions in two distributable passes.
- bitmap distinct: the per-(key, word) bit_or is a plain hash-agg whose
  state is one int64 per 64 ids — the roaring-bitmap shape; words then
  popcount-sum per key. No distinct shuffle of raw ids.
- radius search: broadcast the (tiny, fixed) query set and linear-scan —
  the honest exact baseline; the bucketed scale path is the existing
  ``sim_cosine_ivf_bucketed`` / ``sim_lsh_hyperplane_ann`` pair.
- l-diversity / WoE / advisors: one hash-agg to a grid bounded by the
  QI / segment / column domain, then algebra on the grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .llm_ops import _cosine
from .registry import pair, register


def _day_idx(d: str) -> str:
    """Timestamp → integer epoch-day (UTC); integer arithmetic end-to-end."""
    return S.idiv(S.epoch_s("ts", d), "86400", d)


# ---------------------------------------------------------------------------
# Gaps & islands: consecutive-day activity runs per user
# ---------------------------------------------------------------------------


def _gaps_islands(d: str) -> str:
    return f"""
    WITH days AS (
        SELECT DISTINCT user_id, {_day_idx(d)} AS day_idx FROM events
    ),
    seq AS (
        SELECT user_id, day_idx,
            day_idx - row_number() OVER (
                PARTITION BY user_id ORDER BY day_idx) AS grp
        FROM days
    ),
    isl AS (
        SELECT user_id, grp, cast(count(*) as bigint) AS run_len
        FROM seq GROUP BY user_id, grp
    )
    SELECT user_id,
        cast(count(*) as bigint) AS n_islands,
        cast(max(run_len) as bigint) AS longest_run,
        {S.isum('run_len', d)} AS active_days
    FROM isl GROUP BY user_id ORDER BY user_id
    """


pair(
    "window_gaps_islands",
    _gaps_islands,
    tags=("window", "events"),
    doc="Gaps-and-islands: consecutive-day activity runs per user via the "
    "day_idx - row_number() grouping trick (one distinct + two hash-aggs; "
    "the window partitions by user, never global).",
)


# ---------------------------------------------------------------------------
# Association rules: event-type co-occurrence support / lift
# ---------------------------------------------------------------------------


def _cooccurrence_ut(d: str) -> str:
    return "SELECT DISTINCT user_id, event_type FROM events"


def _cooccurrence(d: str, ut: str) -> str:
    # The user total is a 1-row scalar subquery over the distinct table, so
    # the lift algebra needs no cross join.
    nu = "cast((SELECT count(DISTINCT user_id) FROM ut) as double)"
    return f"""
    WITH ut AS ({ut}),
    ta AS (SELECT event_type, cast(count(*) as bigint) AS c FROM ut GROUP BY event_type),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
            cast(count(*) as bigint) AS n_both
        FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.n_both, ca.c AS n_a, cb.c AS n_b,
        round(cast(p.n_both as double) / {nu}, 6) AS support,
        round(cast(p.n_both as double) * {nu}
            / (cast(ca.c as double) * cast(cb.c as double)), 6) AS lift
    FROM pairs p
    JOIN ta ca ON ca.event_type = p.type_a
    JOIN ta cb ON cb.event_type = p.type_b
    ORDER BY type_a, type_b
    """


pair(
    "events_cooccurrence_lift",
    _cooccurrence,
    shared={"ut": _cooccurrence_ut},
    tags=("events", "mining"),
    doc="Market-basket association: per-user distinct event-type sets, "
    "pair support and lift. The distinct (user, type) table is the one "
    "fact scan, localCheckpointed and read by the pair self-equi-join "
    "(fan-out bounded by the type domain), the per-type counts and the "
    "1-row user total (a scalar subquery).",
)


# ---------------------------------------------------------------------------
# Decile lift / gains chart
# ---------------------------------------------------------------------------

_CENTS_VAL = "cast(floor(value * cast(100 as double)) as bigint)"


def _lift_gains(d: str) -> str:
    return f"""
    WITH s AS (
        SELECT {_CENTS_VAL} AS s, event_id,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    dec AS (
        SELECT ntile(10) OVER (ORDER BY s DESC, event_id) AS decile, y FROM s
    ),
    g AS (
        SELECT decile, cast(count(*) as bigint) AS n, {S.isum('y', d)} AS n_pos
        FROM dec GROUP BY decile
    ),
    w AS (
        SELECT decile, n, n_pos,
            cast(sum(n_pos) OVER (ORDER BY decile) as bigint) AS cum_pos,
            cast(sum(n) OVER (ORDER BY decile) as bigint) AS cum_n,
            cast(sum(n_pos) OVER () as bigint) AS tot_pos,
            cast(sum(n) OVER () as bigint) AS tot_n
        FROM g
    )
    SELECT cast(decile as bigint) AS decile, n, n_pos,
        round(cast(cum_pos as double) / cast(nullif(tot_pos, 0) as double), 6) AS gain,
        round((cast(cum_pos as double) / cast(cum_n as double))
            / (cast(nullif(tot_pos, 0) as double) / cast(tot_n as double)), 6) AS cum_lift
    FROM w ORDER BY decile
    """


pair(
    "eval_lift_gains_decile",
    _lift_gains,
    tags=("eval", "mlprep"),
    doc="Decile gains/lift chart of the value score against the purchase "
    "label — the campaign-targeting evaluation companion of eval_auc_roc. "
    "ntile's total order (score desc, event_id) is deterministic; at "
    "100 TB decile assignment becomes exact cut-positions computed from "
    "the cents grid in two distributable passes — the downstream "
    "grid-window algebra is unchanged.",
)


# ---------------------------------------------------------------------------
# Weight of evidence + information value
# ---------------------------------------------------------------------------


def _woe_iv(d: str) -> str:
    # One ln() per segment on identical doubles; IV terms quantized to
    # decimal(18,9) so the cross-segment sum is exact.
    rate = (
        "(cast(n_pos as double) / cast(p_tot as double))"
        " / (cast(n_neg as double) / cast(n_tot as double))"
    )
    return f"""
    WITH seg AS (
        SELECT c_mktsegment AS segment,
            {S.isum("CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END", d)} AS n_pos,
            {S.isum("CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END", d)} AS n_neg
        FROM customer GROUP BY c_mktsegment
    ),
    w AS (
        SELECT segment, n_pos, n_neg,
            cast(sum(n_pos) OVER () as bigint) AS p_tot,
            cast(sum(n_neg) OVER () as bigint) AS n_tot
        FROM seg
    ),
    terms AS (
        SELECT segment, n_pos, n_neg,
            CASE WHEN n_pos > 0 AND n_neg > 0
                 THEN round(ln({rate}), 6) END AS woe,
            CASE WHEN n_pos > 0 AND n_neg > 0
                 THEN cast(round((cast(n_pos as double) / cast(p_tot as double)
                     - cast(n_neg as double) / cast(n_tot as double))
                     * ln({rate}), 9) as decimal(18,9)) END AS iv_term
        FROM w
    )
    SELECT segment, n_pos, n_neg, woe,
        round(cast(sum(iv_term) OVER () as double), 6) AS iv
    FROM terms ORDER BY segment
    """


pair(
    "mlprep_woe_iv",
    _woe_iv,
    tags=("mlprep", "eval"),
    doc="Weight-of-evidence encoding + information value of the market "
    "segment against the negative-balance label — the classical credit-"
    "scoring feature screen. One hash-agg to the segment grid; totals and "
    "the IV sum are grid windows (5 rows), IV terms decimal-quantized.",
)


# ---------------------------------------------------------------------------
# Co-purchase graph: bipartite projection, assortativity, BFS reach
# ---------------------------------------------------------------------------

def _copurchase_pairs(d: str) -> str:
    """The co-purchase pair table pw(src, dst, n_orders): part pairs
    (src < dst) with the number of orders holding both. One self-join on
    l_orderkey over DISTINCT (order, part): fan-out bounded by basket size."""
    return """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS src, b.l_partkey AS dst,
        cast(count(*) as bigint) AS n_orders
    FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    """


def _pw_sym(pw: str) -> str:
    """Directed-symmetric edges (src, dst) of the pair table ``pw`` (query
    text): each pair in both orientations."""
    return (
        f"WITH pw AS ({pw}) "
        "SELECT src, dst FROM pw UNION ALL SELECT dst, src FROM pw"
    )


def _copurchase_sym(d: str) -> str:
    """Directed-symmetric distinct co-purchase edges."""
    return _pw_sym(_copurchase_pairs(d))


def _bipartite(d: str) -> str:
    return f"""
    WITH e AS (
        SELECT src AS part_a, dst AS part_b, n_orders
        FROM ({_copurchase_pairs(d)}) pw
    )
    SELECT cast(rn as bigint) AS rn, part_a, part_b, n_orders
    FROM (
        SELECT part_a, part_b, n_orders,
            row_number() OVER (
                ORDER BY n_orders DESC, part_a, part_b) AS rn
        FROM e
    ) t
    WHERE rn <= 20 ORDER BY rn
    """


pair(
    "graph_bipartite_project",
    _bipartite,
    tags=("graph", "mining"),
    doc="Bipartite projection of the order–part graph onto part–part "
    "co-purchase edges (weight = orders containing both), top 20 — the "
    "recsys co-occurrence build. Self-equi-join on l_orderkey over "
    "DISTINCT (order, part): fan-out bounded by basket size; the top-20 "
    "is TakeOrderedAndProject, never a global sort.",
)


def _assortativity(d: str, sym: str) -> str:
    return f"""
    WITH sym AS ({sym}),
    deg AS (
        SELECT src AS node, cast(count(DISTINCT dst) as bigint) AS deg
        FROM sym GROUP BY src
    ),
    ed AS (
        SELECT da.deg AS x, db.deg AS y
        FROM sym s
        JOIN deg da ON da.node = s.src
        JOIN deg db ON db.node = s.dst
    ),
    m AS (
        SELECT cast(count(*) as bigint) AS n,
            {S.isum('x', d)} AS sx, {S.isum('y', d)} AS sy,
            {S.isum('x * y', d)} AS sxy,
            {S.isum('x * x', d)} AS sxx, {S.isum('y * y', d)} AS syy
        FROM ed
    )
    SELECT n AS n_directed_edges,
        round((cast(n as double) * cast(sxy as double)
                - cast(sx as double) * cast(sy as double))
            / nullif(sqrt((cast(n as double) * cast(sxx as double)
                    - cast(sx as double) * cast(sx as double))
                * (cast(n as double) * cast(syy as double)
                    - cast(sy as double) * cast(sy as double))),
                cast(0 as double)), 6) AS assortativity
    FROM m
    """


pair(
    "graph_degree_assortativity",
    _assortativity,
    shared={"sym": _copurchase_sym},
    tags=("graph", "stats"),
    doc="Degree assortativity of the co-purchase graph: Pearson r of "
    "endpoint degrees over directed-symmetric edges. Every moment is an "
    "exact integer sum (degrees are ints); one sqrt + division at the "
    "end — order- and engine-independent. The symmetric edge set is read "
    "three times (the degree table, twice through the endpoint joins, "
    "and the edge scan), so it is localCheckpointed: one pair build, with "
    "the bounded degree table joined onto both endpoints.",
)


_BFS_SEED = "SELECT DISTINCT p_partkey AS node FROM part WHERE p_size = 1"


def _bfs_hop(sym: str, prev: str) -> str:
    """One cumulative BFS round: the nodes one edge from ``prev``, plus
    ``prev`` itself. The reached set is node-domain-bounded and broadcast,
    so each expansion is a map-side probe of the edge table."""
    return f"""
    WITH sym AS ({sym}), r AS ({prev})
    SELECT DISTINCT node FROM (
        SELECT /*+ BROADCAST(r) */ e.dst AS node FROM sym e JOIN r ON r.node = e.src
        UNION ALL SELECT node FROM r
    ) t
    """


def _bfs(d: str, sym: str, h0: str, c1: str, c2: str) -> str:
    counts = " UNION ALL ".join(
        f"SELECT cast({h} as bigint) AS hop, cast(count(*) as bigint) AS n_reached"
        f" FROM {t}"
        for h, t in ((0, "h0"), (1, "c1"), (2, "c2"), (3, "c3"))
    )
    return f"""
    WITH h0 AS ({h0}), c1 AS ({c1}), c2 AS ({c2}),
    c3 AS ({_bfs_hop(sym, "SELECT node FROM c2")})
    {counts}
    ORDER BY hop
    """


pair(
    "graph_bfs_frontier3",
    _bfs,
    shared={
        "sym": _copurchase_sym,
        "h0": lambda d: _BFS_SEED,
        "c1": lambda d, sym, h0: _bfs_hop(sym, h0),
        "c2": lambda d, sym, c1: _bfs_hop(sym, c1),
    },
    tags=("graph", "iterative"),
    doc="3-hop BFS reachability over the co-purchase graph from the "
    "p_size=1 seed set: cumulative frontier expansion, one equi-join + "
    "DISTINCT per hop (the standard distributed BFS round). The symmetric "
    "edge set and every reached set a later hop reads are "
    "localCheckpointed, so the edge set never re-shuffles across hops; "
    "the four per-hop counts run in the query itself.",
)


# ---------------------------------------------------------------------------
# Bitmap-index distinct counting
# ---------------------------------------------------------------------------


def _bitmap_distinct(d: str) -> str:
    word = S.idiv("user_id", "64", d)
    bit = S.shift_left("cast(1 as bigint)", "(user_id % 64)", d)
    if d == DUCK:
        # DuckDB's << is overflow-checked: 1 << 63 raises instead of
        # wrapping to the sign bit the way Spark's shiftleft does. Pin
        # bit 63 to int64-min explicitly (same bit pattern both engines).
        bit = (
            "(CASE WHEN user_id % 64 = 63 "
            "THEN cast(-9223372036854775807 - 1 as bigint) "
            f"ELSE {bit} END)"
        )
    return f"""
    WITH b AS (
        SELECT event_type, {word} AS word, bit_or({bit}) AS bits
        FROM events GROUP BY event_type, {word}
    ),
    agg AS (
        SELECT event_type, cast(count(*) as bigint) AS n_words,
            {S.isum(S.bitcount('bits', d), d)} AS n_distinct_bitmap
        FROM b GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, cast(count(DISTINCT user_id) as bigint) AS n_distinct_exact
        FROM events GROUP BY event_type
    )
    SELECT a.event_type, a.n_words, a.n_distinct_bitmap, ex.n_distinct_exact
    FROM agg a JOIN ex ON ex.event_type = a.event_type
    ORDER BY a.event_type
    """


pair(
    "agg_bitmap_distinct",
    _bitmap_distinct,
    tags=("agg", "sketch"),
    doc="Bitmap-index distinct counting (the roaring-bitmap shape): ids "
    "fold into 64-bit words via bit_or (one int64 of agg state per 64 "
    "ids), popcount-summed per key, cross-checked against exact "
    "count(DISTINCT). The bitmap agg never shuffles raw ids — at 100 TB "
    "the word table IS the reusable distinct index.",
)


# ---------------------------------------------------------------------------
# Lexical diversity (TTR) and OOV rate
# ---------------------------------------------------------------------------


def _ttr(d: str) -> str:
    toks = S.split_ws("text", d)
    return f"""
    WITH t AS (
        SELECT lang,
            round(cast({S.arr_len(S.arr_distinct(toks, d), d)} as double)
                / cast({S.arr_len(toks, d)} as double), 9) AS ttr
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
          AND {S.arr_len(toks, d)} > 0
    )
    SELECT lang, cast(count(*) as bigint) AS n_docs,
        round({S.davg('ttr', d)}, 6) AS avg_ttr,
        round(min(ttr), 6) AS min_ttr,
        round(max(ttr), 6) AS max_ttr
    FROM t GROUP BY lang ORDER BY lang
    """


pair(
    "text_ttr_diversity",
    _ttr,
    tags=("text", "quality"),
    doc="Type-token ratio lexical diversity per language — the repetition "
    "complement of text_word_entropy for corpus quality scoring. Per-doc "
    "TTR is array math inside the scan (no explode); per-row ratios are "
    "9-dp-quantized before the decimal mean.",
)


_OOV_TOP_K = 10


def _oov(d: str) -> str:
    toks = S.split_ws("text", d)
    if d == SPARK:
        occ = (
            f"SELECT source, explode({toks}) AS tok FROM documents "
            "WHERE text IS NOT NULL AND length(text) > 0"
        )
    else:
        occ = (
            f"SELECT source, unnest({toks}) AS tok FROM documents "
            "WHERE text IS NOT NULL AND length(text) > 0"
        )
    return f"""
    WITH tok AS ({occ}),
    vc AS (SELECT tok, cast(count(*) as bigint) AS c FROM tok GROUP BY tok),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM vc
        ) t WHERE rn <= {_OOV_TOP_K}
    )
    SELECT t.source, cast(count(*) as bigint) AS n_tokens,
        {S.isum('CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END', d)} AS n_oov,
        round(cast({S.isum('CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END', d)} as double)
            / cast(count(*) as double), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.source ORDER BY t.source
    """


pair(
    "text_oov_rate",
    _oov,
    tags=("text", "quality"),
    doc=f"Out-of-vocabulary rate per source against the global top-"
    f"{_OOV_TOP_K} vocabulary — the tokenizer-coverage diagnostic a "
    "corpus mix needs before training. The vocabulary is a bounded "
    "top-k over the token grid (broadcast side of the left join).",
)


# ---------------------------------------------------------------------------
# l-diversity privacy audit (k-anonymity's sibling)
# ---------------------------------------------------------------------------


def _l_diversity(d: str) -> str:
    band = "cast(floor(c_acctbal / cast(1000 as double)) as bigint)"
    return f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
            cast(count(DISTINCT {band}) as bigint) AS n_sensitive,
            cast(count(*) as bigint) AS n_rows
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT cast(count(*) as bigint) AS n_groups,
        {S.isum('CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END', d)} AS groups_fail_l2,
        {S.isum('CASE WHEN n_sensitive < 2 THEN n_rows ELSE 0 END', d)} AS rows_fail_l2,
        {S.isum('CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END', d)} AS groups_fail_l3,
        {S.isum('CASE WHEN n_sensitive < 3 THEN n_rows ELSE 0 END', d)} AS rows_fail_l3
    FROM g
    """


pair(
    "quality_l_diversity",
    _l_diversity,
    tags=("quality", "profiling", "audit"),
    doc="l-diversity audit over the (nation, segment) quasi-identifier: "
    "groups whose sensitive attribute (acctbal kilo-band, floor division "
    "— truncation-vs-floor on negatives bit the first draft) carries "
    "fewer than l distinct values. One hash-agg to the QI grid; the "
    "l sweep is CASE arithmetic, no grid cross join "
    "(cf. quality_k_anonymity).",
)


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (trend = centered 7-day MA)
# ---------------------------------------------------------------------------


def _daily_means(d: str) -> str:
    return f"""
    daily AS (
        SELECT event_type, {_day_idx(d)} AS day_idx,
            cast({S.davg('value', d)} as decimal(18,6)) AS dm
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {_day_idx(d)}
    )
    """


def _daily_grid(d: str) -> str:
    """The calendar grid as a standalone query, for a shared core."""
    return f"WITH {_daily_means(d)} SELECT event_type, day_idx, dm FROM daily"


def _stl(d: str) -> str:
    return f"""
    WITH {_daily_means(d)},
    t AS (
        SELECT event_type, day_idx, dm,
            cast(sum(dm) OVER w7 as double) / cast(7 as double) AS trend,
            count(*) OVER w7 AS n_win
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day_idx
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    r AS (
        SELECT event_type, day_idx % 7 AS dow,
            cast(round(cast(dm as double) - trend, 9) as decimal(18,9)) AS resid
        FROM t WHERE n_win = 7
    )
    SELECT event_type, cast(dow as bigint) AS dow,
        cast(count(*) as bigint) AS n_days,
        round(cast(sum(resid) as double) / cast(count(*) as double), 6) AS seasonal
    FROM r GROUP BY event_type, dow ORDER BY event_type, dow
    """


pair(
    "window_stl_decompose",
    _stl,
    tags=("window", "timeseries"),
    doc="Classical seasonal decomposition on the daily value series: "
    "trend = centered 7-day moving average (full windows only), seasonal "
    "= mean residual per day-of-week (integer epoch-day mod 7 — no tz "
    "calendar). Windows ride the pre-aggregated per-type daily grid; "
    "decimal sums keep trend and residual engine-exact.",
)


# ---------------------------------------------------------------------------
# SAX symbolic aggregate approximation
# ---------------------------------------------------------------------------


def _sax(d: str) -> str:
    if d == SPARK:
        sax_agg = (
            "array_join(transform(array_sort(collect_list("
            "struct(day_idx, letter))), s -> s.letter), '')"
        )
    else:
        sax_agg = "string_agg(letter, '' ORDER BY day_idx)"
    return f"""
    WITH {_daily_means(d)},
    st AS (
        SELECT event_type, day_idx, cast(dm as double) AS x,
            cast(sum(dm) OVER (PARTITION BY event_type) as double) AS sx,
            cast(sum(cast(cast(dm as double) * cast(dm as double)
                as decimal(38,12))) OVER (PARTITION BY event_type) as double) AS sxx,
            cast(count(*) OVER (PARTITION BY event_type) as bigint) AS n
        FROM daily
    ),
    z AS (
        SELECT event_type, day_idx, n,
            CASE WHEN sxx / cast(n as double)
                    - (sx / cast(n as double)) * (sx / cast(n as double))
                    > cast(0 as double)
                 THEN (x - sx / cast(n as double))
                    / sqrt(sxx / cast(n as double)
                        - (sx / cast(n as double)) * (sx / cast(n as double)))
            END AS zv
        FROM st
    ),
    lett AS (
        SELECT event_type, day_idx, n,
            CASE WHEN zv IS NULL THEN 'c'
                 WHEN zv < -0.6745 THEN 'a'
                 WHEN zv < 0.0 THEN 'b'
                 WHEN zv < 0.6745 THEN 'c'
                 ELSE 'd' END AS letter
        FROM z
    )
    SELECT event_type, cast(max(n) as bigint) AS n_days, {sax_agg} AS sax
    FROM lett GROUP BY event_type ORDER BY event_type
    """


pair(
    "window_sax_symbolic",
    _sax,
    tags=("window", "timeseries"),
    doc="SAX symbolization of the daily value series: z-normalize per "
    "type (decimal-exact moments, one sqrt), bin against the fixed "
    "4-letter Gaussian breakpoints (±0.6745), emit the ordered symbol "
    "string per type — the time-series motif/anomaly index shape. "
    "Zero-variance series degrade to all-'c', not a divide error.",
)


# ---------------------------------------------------------------------------
# MA crossover signal detection
# ---------------------------------------------------------------------------


def _ma_crossover(d: str) -> str:
    return f"""
    WITH {_daily_means(d)},
    w AS (
        SELECT event_type, day_idx,
            cast(sum(dm) OVER w3 as double) / cast(3 as double) AS ma3,
            count(*) OVER w3 AS c3,
            cast(sum(dm) OVER w7 as double) / cast(7 as double) AS ma7,
            count(*) OVER w7 AS c7
        FROM daily
        WINDOW w3 AS (PARTITION BY event_type ORDER BY day_idx
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        w7 AS (PARTITION BY event_type ORDER BY day_idx
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    s AS (
        SELECT event_type, day_idx,
            CASE WHEN ma3 > ma7 THEN 1 WHEN ma3 < ma7 THEN -1 ELSE 0 END AS sgn
        FROM w WHERE c3 = 3 AND c7 = 7
    ),
    x AS (
        SELECT event_type, day_idx, sgn,
            lag(sgn) OVER (PARTITION BY event_type ORDER BY day_idx) AS prev
        FROM s
    )
    SELECT event_type, cast(count(*) as bigint) AS n_days,
        {S.isum("CASE WHEN prev IS NOT NULL AND sgn <> 0 AND prev <> 0 "
                "AND sgn <> prev THEN 1 ELSE 0 END", d)} AS n_crossovers,
        max(CASE WHEN prev IS NOT NULL AND sgn <> 0 AND prev <> 0
                 AND sgn <> prev THEN day_idx END) AS last_cross_day
    FROM x GROUP BY event_type ORDER BY event_type
    """


pair(
    "window_ma_crossover",
    _ma_crossover,
    tags=("window", "timeseries"),
    doc="Golden-cross detection: 3-day vs 7-day moving-average sign flips "
    "on the per-type daily series (the reference's price-trend shape, "
    "SERVER/ingest_prices.py:42-55, as a signal detector). Both MAs ride "
    "one pass over the pre-aggregated daily grid; sign compares identical "
    "doubles, so flip days are engine-exact.",
)


# ---------------------------------------------------------------------------
# Weighted median
# ---------------------------------------------------------------------------


def _weighted_median(d: str) -> str:
    # Cents via a decimal(18,2) cast, NOT floor(double*100): the float
    # product lands one cent low for non-representable 2-dp prices
    # (2.51*100 = 250.999... -> 250), so the emitted median was a cent off
    # the true price (round-9 ADVICE). The decimal cast rounds the double
    # to its nearest 2-dp value — exact for any 2-dp source price — and
    # both engines share the expression.
    cents = "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
    return f"""
    WITH g AS (
        SELECT l_returnflag AS flag,
            {cents} AS pc,
            sum(cast(l_quantity as decimal(38,6))) AS w
        FROM lineitem GROUP BY l_returnflag,
            {cents}
    ),
    c AS (
        SELECT flag, pc,
            cast(sum(w) OVER (PARTITION BY flag ORDER BY pc) as double) AS cw,
            cast(sum(w) OVER (PARTITION BY flag) as double) AS tot
        FROM g
    )
    SELECT flag,
        cast(min(pc) as double) / cast(100 as double) AS weighted_median,
        round(max(tot), 6) AS total_qty
    FROM c
    WHERE cw * cast(2 as double) >= tot
    GROUP BY flag ORDER BY flag
    """


pair(
    "agg_weighted_median",
    _weighted_median,
    tags=("agg", "stats"),
    doc="Quantity-weighted median price per return flag: aggregate to the "
    "cents grid, cumulative decimal weights, first grid point whose "
    "doubled cumulative weight covers the total. The grid is bounded by "
    "the price domain; weights stay decimal-exact (doubles only at the "
    "final comparison, where the quantized values are exactly "
    "representable).",
)


# ---------------------------------------------------------------------------
# Systematic (every-k-th) sampling
# ---------------------------------------------------------------------------

_SYS_K = 17


def _systematic(d: str) -> str:
    h = S.portable_hash64("cast(event_id as string)", d)
    return f"""
    WITH r AS (
        SELECT event_type, event_id,
            row_number() OVER (
                PARTITION BY event_type ORDER BY {h}, event_id) AS rn
        FROM events
    )
    SELECT event_type, cast(count(*) as bigint) AS n_total,
        {S.isum(f'CASE WHEN rn % {_SYS_K} = 1 THEN 1 ELSE 0 END', d)} AS n_sampled,
        {S.isum(f'CASE WHEN rn % {_SYS_K} = 1 THEN event_id ELSE 0 END', d)}
            AS id_checksum
    FROM r GROUP BY event_type ORDER BY event_type
    """


pair(
    "sample_systematic_every_k",
    _systematic,
    tags=("sampling",),
    doc=f"Systematic 1-in-{_SYS_K} sampling per stratum: rank rows by the "
    "portable 60-bit hash (random-but-reproducible order) inside each "
    "event type and keep every k-th — the low-variance complement of "
    "Bernoulli hash sampling. Checksummed so the exact sample membership "
    "is graded, not just its size.",
)


# ---------------------------------------------------------------------------
# Column cardinality advisor
# ---------------------------------------------------------------------------


def _distinct_ratio(d: str) -> str:
    cols = ["event_id", "event_type", "user_id", "value"]
    parts = [
        f"""SELECT '{c}' AS column_name, cast(count(*) as bigint) AS n_rows,
            cast(count(DISTINCT {c}) as bigint) AS n_distinct FROM events"""
        for c in cols
    ]
    u = " UNION ALL ".join(parts)
    return f"""
    WITH s AS ({u})
    SELECT column_name, n_rows, n_distinct,
        round(cast(n_distinct as double) / cast(nullif(n_rows, 0) as double), 6)
            AS distinct_ratio,
        CASE WHEN n_distinct <= 1 THEN 'constant'
             WHEN cast(n_distinct as double)
                 > 0.95 * cast(n_rows as double) THEN 'unique_id'
             WHEN n_distinct <= 100 THEN 'categorical'
             ELSE 'high_cardinality' END AS classification
    FROM s ORDER BY column_name
    """


pair(
    "profile_distinct_ratio_advisor",
    _distinct_ratio,
    tags=("profiling", "layout"),
    doc="Column-cardinality classifier (constant / categorical / "
    "high-cardinality / unique-id) from exact distinct-to-row ratios — "
    "the stats a partition/bucket/bloom layout decision reads first. One "
    "aggregate pass per column, unioned.",
)


# ---------------------------------------------------------------------------
# Bloom-filter sizing advisor
# ---------------------------------------------------------------------------

# -ln(0.01) / ln(2)^2 and ln(2): bits-per-key at 1% fpp, identical literals
# on both engines.
_BLOOM_BITS_PER_KEY = "9.585058377144788"
_LN2 = "0.6931471805599453"


def _bloom_advisor(d: str) -> str:
    specs = [
        ("orders.o_custkey", "o_custkey", "orders"),
        ("lineitem.l_partkey", "l_partkey", "lineitem"),
        ("events.user_id", "user_id", "events"),
        ("documents.doc_id", "doc_id", "documents"),
    ]
    parts = [
        f"""SELECT '{name}' AS column_name,
            cast(count(DISTINCT {col}) as bigint) AS n_keys FROM {tbl}"""
        for name, col, tbl in specs
    ]
    u = " UNION ALL ".join(parts)
    return f"""
    WITH s AS ({u})
    SELECT column_name, n_keys,
        cast(ceil(cast(n_keys as double) * {_BLOOM_BITS_PER_KEY}) as bigint)
            AS m_bits,
        cast(floor(cast(ceil(cast(n_keys as double) * {_BLOOM_BITS_PER_KEY})
                as double) / cast(nullif(n_keys, 0) as double) * {_LN2}
            + cast(0.5 as double)) as bigint) AS k_hashes,
        round(cast(ceil(cast(n_keys as double) * {_BLOOM_BITS_PER_KEY})
            as double) / cast(8388608 as double), 6) AS size_mib
    FROM s ORDER BY column_name
    """


pair(
    "layout_bloom_advisor",
    _bloom_advisor,
    tags=("layout", "advisor"),
    doc="Bloom-filter sizing advisor at 1%% fpp: exact distinct counts per "
    "join-key column, then the textbook m = -n ln p / ln²2 and "
    "k = (m/n) ln 2 — what a lakehouse writes into parquet bloom "
    "metadata. Deterministic ceil/floor math on shared literals; no "
    "half-way rounding.",
)


# ---------------------------------------------------------------------------
# Isotonic (PAVA) calibration via the minimax formula
# ---------------------------------------------------------------------------

_ISO_BIN = "least(19, cast(floor(value / cast(25 as double)) as int))"


def _isotonic_g_core(d: str) -> str:
    """The 20-bin (bin, weight, positives) grid — the ONE fact pass."""
    return f"""
    WITH pts AS (
        SELECT {_ISO_BIN} AS b,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND value >= 0
    )
    SELECT b, cast(count(*) as bigint) AS w, {S.isum('y', d)} AS p
    FROM pts GROUP BY b
    """


def _isotonic(d: str, g: str) -> str:
    # The bin grid is a shared core: inlined, c/m/f and the final join
    # each re-ran the fact hash-agg (4 fact scans planned — the round-11
    # registry-wide plan audit).
    return f"""
    WITH g AS ({g}),
    c AS (
        SELECT b, w, p,
            cast(sum(w) OVER (ORDER BY b) as bigint) AS cw,
            cast(sum(p) OVER (ORDER BY b) as bigint) AS cp
        FROM g
    ),
    pairs AS (
        SELECT j.b AS jb, k.b AS kb,
            cast(k.cp - j.cp + j.p as double)
                / cast(k.cw - j.cw + j.w as double) AS a
        FROM c j JOIN c k ON j.b <= k.b
    ),
    m AS (
        SELECT i.b AS ib, pr.jb, min(pr.a) AS mn
        FROM g i JOIN pairs pr ON pr.jb <= i.b AND pr.kb >= i.b
        GROUP BY i.b, pr.jb
    ),
    f AS (SELECT ib AS b, max(mn) AS fit FROM m GROUP BY ib)
    SELECT g.b AS bin, g.w AS n, g.p AS n_pos,
        round(cast(g.p as double) / cast(g.w as double), 6) AS raw_rate,
        round(f.fit, 6) AS iso_rate
    FROM g JOIN f ON f.b = g.b ORDER BY bin
    """


pair(
    "mlprep_isotonic_pava",
    _isotonic,
    shared={"g": _isotonic_g_core},
    tags=("mlprep", "eval"),
    doc="Isotonic-regression calibration of the purchase rate against the "
    "value score via the closed-form minimax identity "
    "fit_i = max_{{j<=i}} min_{{k>=i}} mean(y[j..k]) — the exact PAVA "
    "solution without the sequential pooling loop. All pairwise work "
    "happens on the 20-bin score grid (cumulative integer sums; "
    "identical-double divisions), so the triangle join is metadata-"
    "sized at any corpus scale. The bin grid is localCheckpointed so "
    "its consumers share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# Cosine radius (range) search
# ---------------------------------------------------------------------------

_RADIUS = "0.30"


def _range_search(d: str) -> str:
    cos = _cosine(d, "q.embedding", "c.embedding")
    return f"""
    WITH queries AS (
        SELECT vec_id AS query_id, embedding FROM embeddings
        WHERE vec_id % 50 = 0
    )
    SELECT q.query_id, c.vec_id, c.label, round({cos}, 6) AS cosine
    FROM queries q JOIN embeddings c ON c.vec_id <> q.query_id
    WHERE {cos} >= {_RADIUS}
    ORDER BY query_id, vec_id
    """


pair(
    "sim_range_search_radius",
    _range_search,
    tags=("similarity",),
    doc=f"Cosine radius search: every vector within cosine >= {_RADIUS} "
    "of each query — the range-query complement of sim_cosine_topk's "
    "top-k (radius results are unbounded, so k-pruning doesn't apply). "
    "Broadcast the fixed query set and linear-scan exactly (the honest "
    "recall-1.0 baseline); the bucketed scale path is "
    "sim_cosine_ivf_bucketed / sim_lsh_hyperplane_ann.",
)


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier)
# ---------------------------------------------------------------------------

# Cents via decimal(18,2) cast for the same reason as agg_weighted_median:
# floor(double*100) misbins non-representable 2-dp prices one cent low
# (0.29 -> 28), which both corrupted the emitted price AND made the
# brute-force dominance property flaky (round-9 ADVICE).
_SKYLINE_ORACLE = """
WITH p AS (
    SELECT p_partkey,
        cast(cast(p_retailprice as decimal(18,2)) * 100 as bigint) AS price_c,
        cast(p_size as bigint) AS size
    FROM part
)
SELECT p.p_partkey,
    cast(p.price_c as double) / cast(100 as double) AS price,
    p.size
FROM p
WHERE NOT EXISTS (
    SELECT 1 FROM p q
    WHERE q.price_c <= p.price_c AND q.size >= p.size
      AND (q.price_c < p.price_c OR q.size > p.size)
)
ORDER BY price, p_partkey
"""


@register(
    "skyline_pareto_parts",
    oracle=_SKYLINE_ORACLE,
    tags=("mining", "window"),
    doc="2-D skyline (Pareto frontier) of parts: cheapest-and-largest — "
    "no other part is at-most-as-expensive AND at-least-as-large with one "
    "strict. Spark plan: aggregate to the cents price grid (bounded by "
    "the price domain), ONE running-max window over the grid, equi-join "
    "back — O(n log grid); the quadratic NOT-EXISTS dominance test lives "
    "only in the DuckDB oracle.",
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pp = spark.table("part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * F.lit(100))
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    grid = pp.groupBy("price_c").agg(F.max("size").alias("max_sz"))
    w = Window.orderBy("price_c").rowsBetween(Window.unboundedPreceding, -1)
    grid = grid.withColumn("run_mx", F.max("max_sz").over(w))
    return (
        pp.join(grid, "price_c")
        .where(
            (F.col("size") == F.col("max_sz"))
            & (F.col("run_mx").isNull() | (F.col("size") > F.col("run_mx")))
        )
        .select(
            "p_partkey",
            (F.col("price_c").cast("double") / F.lit(100.0)).alias("price"),
            "size",
        )
        .orderBy("price", "p_partkey")
    )
