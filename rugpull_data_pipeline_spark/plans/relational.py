"""Relational core — projections, filters, joins, aggregations, windows,
set ops, sort/limit (SURVEY.md §2.2-2.6).

The reference implements exactly three join shapes (all broadcast-hash by
construction: watchlist semi-join ``RECEIVER/stage2_processing.cpp:358-364``,
index→address inner join ``:366-389``, price left join
``SERVER/flightWithRedisLatest.py:100-105``) and a handful of aggregations;
a complete engine needs the full relational algebra, so every join type,
window shape and set op registers here with a DuckDB oracle twin.

Each query is written once as a dialect-parameterized SQL template (``q(d)``)
so the Spark text and the oracle text cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .registry import pair, register


# ---------------------------------------------------------------------------
# Flagship: the reference's balance-extraction computation restated on the
# fixture schema (SURVEY.md §7.2). Watchlist semi-join (J1) → two-key
# conditional aggregation (A1) → broadcast dimension left joins (J3) →
# event-time stamp (W1).
# ---------------------------------------------------------------------------

def _flagship(d: str) -> str:
    # Watchlist: suppliers in ASIA (stands in for the hot-address file,
    # RECEIVER/file_utils.cpp:3-36). Tiny → broadcast everywhere, like the
    # per-thread xxHash set in the reference. It is planned once: the
    # aggregation joins it (J1, the watchlist filter,
    # RECEIVER/stage2_processing.cpp:358-364) and carries s_name as a
    # grouping key, which s_suppkey determines, so the string never enters
    # an aggregation buffer and the plan stays HashAggregate.
    # A1: per-(wallet,mint) pre/post conditional aggregation
    # (RECEIVER/common.h:84-86, stage2_processing.cpp:149-174). Decimal sums
    # are order-independent (partial→final agg safe at any scale); max over
    # the native timestamp, formatted after the aggregate, keeps every
    # buffer mutable.
    # J3: a broadcast left join after the aggregate attaches the USD price
    # (SERVER/flightWithRedisLatest.py:92-112).
    # No global ORDER BY on Spark: the output relation is fact-sized and the
    # driver compare is order-insensitive — a full range-shuffle sort of the
    # result would be pure waste at scale (same call as window_running_sum).
    # The oracle orders by (suppkey, partkey), the unique group key, so
    # DuckDB returns its rows in one order on every run.
    sql = f"""
    WITH watch AS (
        SELECT /*+ BROADCAST(n, r) */ s_suppkey, s_name
        FROM supplier
        JOIN nation n ON s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
    ),
    moves AS (
        SELECT /*+ BROADCAST(w) */ l_suppkey, l_partkey, w.s_name,
            {S.dsum("case when l_returnflag = 'R' then l_quantity end", d)} AS pre_qty,
            {S.dsum("case when l_returnflag <> 'R' then l_quantity end", d)} AS post_qty,
            count(*) AS n_moves,
            max(l_shipdate) AS last_ship_ts
        FROM lineitem
        JOIN watch w ON l_suppkey = w.s_suppkey
        GROUP BY l_suppkey, l_partkey, w.s_name
    )
    SELECT /*+ BROADCAST(p) */
        m.l_suppkey AS suppkey,
        m.l_partkey AS partkey,
        m.s_name AS supplier_name,
        m.pre_qty,
        m.post_qty,
        m.n_moves,
        {S.fmt_date('m.last_ship_ts', d)} AS last_ship_day,
        p.p_retailprice AS usd_price
    FROM moves m
    LEFT JOIN part p ON m.l_partkey = p.p_partkey
    """
    return sql + "ORDER BY suppkey, partkey\n" if d == DUCK else sql


# The one grading text of the batch flagship AND its streaming replay
# (stream_infra.stream_flagship_e2e_replay).
FLAGSHIP_ORACLE = _flagship(DUCK)

pair(
    "flagship_balance_report",
    _flagship,
    tags=("flagship", "join", "agg"),
    doc="Reference flagship path (SURVEY.md §3.1) on fixtures: filter by a "
    "broadcast watchlist join (planned once; supplier keys are unique), group "
    "(wallet,mint)≙(suppkey,partkey), conditional pre/post aggregation, "
    "broadcast price enrichment after the aggregate.",
)


# ---------------------------------------------------------------------------
# Aggregation suite
# ---------------------------------------------------------------------------


def _q01(d: str) -> str:
    # decimal(27,6) on all six aggregates (r13, guide §2.3): every term is
    # a quantity (≤ ~10^2) or a price product (≤ ~1.3×10^5) — quantization
    # at scale 6 is identical to decimal(38,6) below 10^21 per term, and
    # the exact sums stay below 10^31 up to ~10^25 rows, so the narrower
    # buffer is bit-identical at ANY scale factor while cutting the
    # decimal-aggregate width q01 pays 6× per row. Measured interleaved:
    # 1.142 → 1.067 s median at sf0.1 (both engines narrowed in lockstep).
    return f"""
    SELECT l_returnflag, l_linestatus,
        {S.dsum('l_quantity', d, p=27)} AS sum_qty,
        {S.dsum('l_extendedprice', d, p=27)} AS sum_base_price,
        {S.dsum('l_extendedprice * (1 - l_discount)', d, p=27)} AS sum_disc_price,
        {S.dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', d, p=27)} AS sum_charge,
        {S.davg('l_quantity', d, p=27)} AS avg_qty,
        {S.davg('l_extendedprice', d, p=27)} AS avg_price,
        count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


pair(
    "q01_pricing_summary",
    _q01,
    tags=("agg",),
    doc="TPC-H Q1 shape: scan-filter-groupBy with 6 aggregates; maps the "
    "reference's per-(owner,mint) hash agg to full-table scale.",
)


def _q03(d: str) -> str:
    return f"""
    SELECT l_orderkey,
        {S.dsum('l_extendedprice * (1 - l_discount)', d)} AS revenue,
        {S.fmt_date('o_orderdate', d)} AS orderdate,
        o_orderpriority AS priority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """


pair(
    "q03_shipping_priority",
    _q03,
    tags=("join", "agg", "limit"),
    doc="3-way join + agg + top-10 by revenue (deterministic tiebreak).",
)


def _q05(d: str) -> str:
    return f"""
    SELECT n_name,
        {S.dsum('l_extendedprice * (1 - l_discount)', d)} AS revenue,
        count(*) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
    GROUP BY n_name
    ORDER BY n_name
    """


pair(
    "q05_local_supplier_volume",
    _q05,
    tags=("join", "agg"),
    doc="TPC-H Q5 shape: 6-way star join with a correlated nation condition.",
)


def _q06(d: str) -> str:
    return f"""
    SELECT
        {S.dsum('l_extendedprice * l_discount', d)} AS revenue,
        count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= timestamp '1994-01-01 00:00:00'
      AND l_shipdate < timestamp '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """


pair(
    "q06_forecast_revenue",
    _q06,
    tags=("agg", "scan"),
    doc="TPC-H Q6 shape: highly selective conjunctive scan → single "
    "aggregate. All four predicates must reach the parquet scan "
    "(PushedFilters) — the pure pushdown benchmark.",
)


def _q18(d: str) -> str:
    return f"""
    SELECT c_custkey, c_name, o_orderkey,
        max(o_totalprice) AS totalprice,
        {S.dsum('l_quantity', d)} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(cast(l_quantity as decimal(38,6))) > 200
    )
    GROUP BY c_custkey, c_name, o_orderkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """


pair(
    "q18_large_volume_customers",
    _q18,
    tags=("join", "agg", "subquery"),
    doc="TPC-H Q18 shape: IN-subquery with HAVING over a decimal-exact sum "
    "(planned as a semi-join), then a 3-way join + group + top-20.",
)


def _cond(d: str) -> str:
    return f"""
    SELECT user_id,
        {S.dsum("case when event_type = 'purchase' then value end", d)} AS purchase_value,
        {S.dsum("case when event_type = 'view' then value end", d)} AS view_value,
        {S.isum("case when event_type = 'error' then 1 else 0 end", d)} AS n_errors,
        count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """


pair(
    "agg_conditional_pre_post",
    _cond,
    tags=("agg",),
    doc="A1 pivot-style conditional aggregation: the pre/post balance merge "
    "(RECEIVER/stage2_processing.cpp:149-174) as sum(case when ...).",
)


def _lastval(d: str) -> str:
    pick = "max_by" if d == SPARK else "arg_max"
    return f"""
    SELECT user_id,
        {pick}(value, event_id) AS last_value,
        max(event_id) AS last_event_id,
        max({S.fmt_ts('ts', d)}) AS last_seen
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """


pair(
    "agg_last_value_per_key",
    _lastval,
    tags=("agg",),
    doc="A4 last-value-per-key: the Redis HSET latest-price semantics "
    "(SERVER/priceAPIfiller.py:77-82) as max_by/arg_max.",
)


def _distinct(d: str) -> str:
    return """
    SELECT event_type,
        cast(count(DISTINCT user_id) as bigint) AS n_users,
        count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "agg_distinct_per_type",
    _distinct,
    tags=("agg",),
    doc="A5 set-cardinality (SCARD, SERVER/init_redis_maps.py:110-116) as "
    "exact distinct count.",
)


def _dedup_events(d: str) -> str:
    return """
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
    """


pair(
    "dedup_exact_pairs",
    _dedup_events,
    tags=("agg", "dedup"),
    doc="A2 distinct-set accumulation (Redis SADD, "
    "SERVER/combined_subscriber.py:88-93) as DISTINCT.",
)


def _rollup(d: str) -> str:
    return f"""
    SELECT r_name, n_name,
        {S.dsum('c_acctbal', d)} AS total_acctbal,
        count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """


pair(
    "agg_rollup_region_nation",
    _rollup,
    tags=("agg", "sweep:rollup-empty"),
    doc="Hierarchical ROLLUP totals (capability uplift over the reference, "
    "SURVEY.md §2.4 note).",
)


def _cube(d: str) -> str:
    return f"""
    SELECT l_returnflag, l_linestatus,
        {S.dsum('l_quantity', d)} AS sum_qty,
        count(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """


pair("agg_cube_flag_status", _cube, tags=("agg", "sweep:rollup-empty"),
      doc="CUBE grouping sets.")


# ---------------------------------------------------------------------------
# Join suite (reference J1-J5 + the types it lacks, SURVEY.md §2.3)
# ---------------------------------------------------------------------------


def _join_left(d: str) -> str:
    return f"""
    SELECT c_custkey,
        count(o_orderkey) AS n_orders,
        {S.dsum('o_totalprice', d)} AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """


pair(
    "join_left_outer_orders",
    _join_left,
    tags=("join",),
    doc="Left outer join with null-preserving aggregation (J3/J5 shape).",
)


def _join_full(d: str) -> str:
    return """
    WITH c AS (
        SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY c_nationkey
    ), s AS (
        SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(c.k, s.k) AS nationkey, n_cust, n_supp
    FROM c FULL OUTER JOIN s ON c.k = s.k
    ORDER BY nationkey
    """


pair("join_full_outer_nations", _join_full, tags=("join",), doc="Full outer join.")


def _join_semi(d: str) -> str:
    return """
    SELECT p_brand, count(*) AS n_parts
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    GROUP BY p_brand
    ORDER BY p_brand
    """


pair(
    "join_semi_parts_in_lineitem",
    _join_semi,
    tags=("join",),
    doc="J1 semi-join (existence filter, RECEIVER/stage2_processing.cpp:358-364).",
)


def _join_anti(d: str) -> str:
    # "No orders at all" is empty in the fixtures (every customer orders),
    # which would make the oracle compare vacuous — anti-join against
    # high-value orders instead so the result is non-empty at every scale.
    return """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    ORDER BY c_custkey
    """


pair(
    "join_anti_customers_no_orders",
    _join_anti,
    tags=("join",),
    doc="Anti-join (NOT EXISTS with a pushed predicate) — absent in the "
    "reference, required surface.",
)


def _join_semi_watchlist(d: str) -> str:
    return f"""
    SELECT e.user_id, count(*) AS n_events, {S.dsum('e.value', d)} AS total_value
    FROM events e
    WHERE EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING'
    )
    GROUP BY e.user_id
    ORDER BY e.user_id
    """


pair(
    "join_watchlist_semi_events",
    _join_semi_watchlist,
    tags=("join", "flagship"),
    doc="Watchlist semi-join on the event stream: hot-address filter J1 "
    "against a predicate-defined dimension (SERVER/flightWithRedis.py:81-99).",
)


def _join_enrich_tag(d: str) -> str:
    # P10: tag-or-null enrichment — wallet stays, tag columns are NULL unless
    # the dimension matches (SERVER/server.py:78-91).
    return f"""
    SELECT e.event_id, e.user_id,
        c.c_mktsegment AS segment_tag,
        n.n_name AS nation_tag,
        e.value
    FROM events e
    LEFT JOIN customer c ON c.c_custkey = e.user_id
    LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """


pair(
    "join_tag_enrichment",
    _join_enrich_tag,
    tags=("join",),
    doc="P10/J5 watchlist tagger: null-preserving tag columns via left joins.",
)


# ---------------------------------------------------------------------------
# Window functions (reference W1-W3 + ranking/frames it lacks)
# ---------------------------------------------------------------------------


def _lag_price(d: str) -> str:
    return f"""
    WITH w AS (
        SELECT user_id, event_id, ts, value,
            lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        FROM events
    )
    SELECT user_id, event_id, {S.fmt_ts('ts', d)} AS ts_s, value, prev_value
    FROM w
    WHERE prev_value IS NOT NULL
      AND abs(value - prev_value) > 0.1 * abs(prev_value)
    ORDER BY user_id, event_id
    """


pair(
    "window_price_change_10pct",
    _lag_price,
    tags=("window", "flagship"),
    doc="P11/W2 threshold emission: the 10%% price-change detector "
    "(SERVER/ingest_prices.py:42-55) as lag() + filter.",
)


def _topk_group(d: str) -> str:
    return """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
            row_number() OVER (
                PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey
            ) AS rn
        FROM orders
    ) t
    WHERE rn <= 5
    ORDER BY o_orderpriority, rn
    """


pair(
    "window_topk_per_group",
    _topk_group,
    tags=("window", "limit"),
    doc="Top-K per group via row_number (ranking — capability uplift).",
)


def _running(d: str) -> str:
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    # l_quantity joins the sort key: rows that still tie then contribute
    # EQUAL increments, making every prefix sum engine-independent even
    # where the tie order differs (found as a 1-row divergence at sf0.1).
    return f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
        cast(sum(cast(l_quantity as decimal(38,6))) OVER (
            PARTITION BY l_suppkey
            ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) as double) AS running_qty
    FROM lineitem
    """


pair(
    "window_running_sum",
    _running,
    tags=("window",),
    doc="Frame-spec running sum over a total order (decimal-exact). No "
    "global ORDER BY: the compare is order-insensitive and a full-table "
    "range shuffle would be pure waste at scale.",
)


def _sessionize(d: str) -> str:
    return f"""
    WITH g AS (
        SELECT user_id, ts, event_id,
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT user_id,
        {S.isum(f"case when prev_ts IS NULL or {S.epoch_s('ts', d)} - {S.epoch_s('prev_ts', d)} > 3600 then 1 else 0 end", d)} AS n_sessions,
        count(*) AS n_events
    FROM g
    GROUP BY user_id
    ORDER BY user_id
    """


pair(
    "window_sessionize_1h",
    _sessionize,
    tags=("window",),
    doc="Sessionization: lag-gap > 1h starts a session (W3 recency semantics).",
)


# ---------------------------------------------------------------------------
# Set ops / sort / limit (SURVEY.md §2.6)
# ---------------------------------------------------------------------------


def _intersect(d: str) -> str:
    return """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    ORDER BY custkey
    """


pair("setop_intersect_buyers", _intersect, tags=("setop",), doc="INTERSECT.")


def _except(d: str) -> str:
    # Same non-vacuity fix as the anti-join: subtract only the high-value
    # buyers so the difference is non-empty in the fixtures.
    return """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
    ORDER BY custkey
    """


pair("setop_except_inactive", _except, tags=("setop",), doc="EXCEPT (anti set op).")


def _union(d: str) -> str:
    return """
    SELECT address, kind FROM (
        SELECT n_name AS address, 'nation' AS kind FROM nation
        UNION ALL
        SELECT r_name AS address, 'region' AS kind FROM region
    ) u
    ORDER BY kind, address
    """


pair(
    "setop_union_watchlists",
    _union,
    tags=("setop",),
    doc="O2/O3 union of key sets (concatenated watchlists, "
    "RECEIVER/stage2_processing.cpp:366-389).",
)


def _sort_limit(d: str) -> str:
    return """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """


pair(
    "sort_global_topn",
    _sort_limit,
    tags=("limit",),
    doc="Global sort + limit (Spark plans TakeOrderedAndProject — no full sort).",
)


# ---------------------------------------------------------------------------
# Scalar-function surface (SURVEY.md §2.7): strings, regex, dates, math, hash
# ---------------------------------------------------------------------------


_MERGE_PATTERN = r"merge\s+(fast|part)"


def _string_funcs(d: str) -> str:
    pred = S.rlike("text", _MERGE_PATTERN, d)
    return f"""
    SELECT doc_id,
        upper(substring(text, 1, 10)) AS head10,
        length(text) AS n_chars_computed,
        {S.portable_hash64('text', d)} AS text_hash
    FROM documents
    WHERE {pred}
    ORDER BY doc_id
    """


pair(
    "scalar_string_regex",
    _string_funcs,
    tags=("scalar",),
    doc="P8 instruction-regex filter (SERVER/combined_subscriber.py:135-137) "
    "+ string slicing + portable hash (xxHash role).",
)


def _date_funcs(d: str) -> str:
    return f"""
    SELECT {S.fmt_month('o_orderdate', d)} AS order_month,
        count(*) AS n_orders,
        {S.dsum('o_totalprice', d)} AS month_total
    FROM orders
    GROUP BY {S.fmt_month('o_orderdate', d)}
    ORDER BY order_month
    """


pair(
    "scalar_date_bucketing",
    _date_funcs,
    tags=("scalar", "agg"),
    doc="W1 event-time handling: epoch → formatted month buckets.",
)


def _math_amm(d: str) -> str:
    # S7 AMM math: quote = base / priceNative (SERVER/priceAPIfiller.py:63-75),
    # restated on events.value with a guard, plus rounding/abs/case.
    return """
    SELECT event_id, user_id, value AS base_price,
        round(cast(value as double) / 1.5, 6) AS quote_price,
        abs(value - 50.0) AS dist_from_mid,
        CASE WHEN value > 50.0 THEN 'high' ELSE 'low' END AS band
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL AND value <> 0
    ORDER BY event_id
    """


pair(
    "scalar_amm_price_math",
    _math_amm,
    tags=("scalar",),
    doc="S7 AMM quote-price derivation with zero-guard.",
)


# ---------------------------------------------------------------------------
# Pivot / unpivot, ranking, subqueries, approximate aggregates
# ---------------------------------------------------------------------------


def _pivot_spark() -> str:
    return """
    SELECT l_returnflag,
        cast(O as double) AS qty_open,
        cast(F as double) AS qty_finished
    FROM (
        SELECT l_returnflag, l_linestatus,
            cast(l_quantity as decimal(38,6)) AS q
        FROM lineitem
    ) PIVOT (sum(q) FOR l_linestatus IN ('O' AS O, 'F' AS F))
    ORDER BY l_returnflag
    """


def _pivot_duck() -> str:
    return f"""
    SELECT l_returnflag,
        {S.dsum("case when l_linestatus = 'O' then l_quantity end", DUCK)} AS qty_open,
        {S.dsum("case when l_linestatus = 'F' then l_quantity end", DUCK)} AS qty_finished
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """


pair(
    "pivot_status_quantity",
    lambda d: _pivot_spark() if d == SPARK else _pivot_duck(),
    tags=("agg", "pivot"),
    doc="PIVOT: per-returnflag quantities fanned into one column per status "
    "(Spark PIVOT syntax; oracle as conditional aggregation).",
)


def _unpivot_spark() -> str:
    return f"""
    WITH wide AS (
        SELECT l_returnflag,
            {S.dsum("case when l_linestatus = 'O' then l_quantity end", SPARK)} AS qty_open,
            {S.dsum("case when l_linestatus = 'F' then l_quantity end", SPARK)} AS qty_finished
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, status, qty
    FROM wide
    LATERAL VIEW stack(2, 'O', qty_open, 'F', qty_finished) AS status, qty
    ORDER BY l_returnflag, status
    """


def _unpivot_duck() -> str:
    return f"""
    WITH wide AS (
        SELECT l_returnflag,
            {S.dsum("case when l_linestatus = 'O' then l_quantity end", DUCK)} AS qty_open,
            {S.dsum("case when l_linestatus = 'F' then l_quantity end", DUCK)} AS qty_finished
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'O' AS status, qty_open AS qty FROM wide
    UNION ALL
    SELECT l_returnflag, 'F' AS status, qty_finished AS qty FROM wide
    ORDER BY l_returnflag, status
    """


pair(
    "unpivot_status_quantity",
    lambda d: _unpivot_spark() if d == SPARK else _unpivot_duck(),
    tags=("agg", "pivot"),
    doc="UNPIVOT via stack(): wide per-status columns back to rows.",
)


def _rank_suite(d: str) -> str:
    return """
    SELECT c_mktsegment, c_custkey, c_acctbal, rnk_dense, quartile
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
            dense_rank() OVER (
                PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
            ) AS rnk_dense,
            ntile(4) OVER (
                PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
            ) AS quartile
        FROM customer
    ) t
    WHERE rnk_dense <= 5
    ORDER BY c_mktsegment, rnk_dense, c_custkey
    """


pair(
    "window_rank_ntile",
    _rank_suite,
    tags=("window",),
    doc="dense_rank + ntile over a deterministic total order.",
)


def _corr_subquery(d: str) -> str:
    return f"""
    SELECT p_partkey, p_brand, p_retailprice
    FROM part
    WHERE p_retailprice > (
        SELECT {S.davg('p2.p_retailprice', d)} FROM part p2
        WHERE p2.p_brand = part.p_brand
    )
    ORDER BY p_partkey
    """


pair(
    "subquery_correlated_above_avg",
    _corr_subquery,
    tags=("join", "subquery"),
    doc="Correlated scalar subquery (decorrelated by Catalyst into an "
    "aggregate + join — capability the reference lacks entirely).",
)


@register(
    "agg_approx_sketches",
    oracle="""
    SELECT l_returnflag,
        cast(count(DISTINCT l_partkey) as bigint) AS exact_parts,
        cast(1 as int) AS hll_ok,
        cast(1 as int) AS kll_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "approx"),
    doc="approx_count_distinct (HLL++) + percentile_approx (KLL-style). "
    "Raw sketch outputs are engine-specific, so the oracle is a BOUNDS "
    "check: the HLL estimate (rsd=0.01) must land within 5% (5 sigma) of "
    "the exact distinct count, and the approx median must land between the "
    "exact 40th and 60th percentiles. Both engines emit the exact counts "
    "plus the expected in-bounds flags, so a sketch drifting outside its "
    "published error hash-mismatches.",
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.table("lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median"),
        F.expr("percentile(l_extendedprice, 0.40)").alias("p40"),
        F.expr("percentile(l_extendedprice, 0.60)").alias("p60"),
    )
    hll_ok = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        / F.col("exact_parts")
        <= 0.05
    )
    kll_ok = (F.col("approx_median") >= F.col("p40")) & (
        F.col("approx_median") <= F.col("p60")
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        F.when(hll_ok, 1).otherwise(0).cast("int").alias("hll_ok"),
        F.when(kll_ok, 1).otherwise(0).cast("int").alias("kll_ok"),
    ).orderBy("l_returnflag")
