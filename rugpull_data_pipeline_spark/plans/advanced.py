"""Advanced relational operators beyond the reference's inventory.

The reference implements only broadcast-hash-shaped joins (SURVEY.md §2.3) and
no temporal join of any kind; a complete engine that serves the same domain
(time-stamped balance/price streams, SERVER/priceAPIfiller.py:63-75,
SERVER/ingest_prices.py:42-55) needs the temporal shapes a Spark user reaches
for: as-of joins ("price in effect at event time"), range joins ("activity
within ±Δt"), plus the remaining ANSI surface (right/theta joins, GROUPING
SETS, lead/frame windows, INTERSECT/EXCEPT ALL) and the skew-mitigation
pattern (salting) that a 100 TB deployment relies on.

Scale notes:

- **As-of join** is implemented as union + partitioned window (one shuffle on
  the join key, no per-key loops, no point-lookup joins). This is the shape
  that survives a 1000-executor cluster: both sides shuffle-hash on
  ``user_id`` once, the window scan is a single ordered pass per partition.
  The DuckDB oracle uses its native ``ASOF LEFT JOIN`` — an independent
  implementation agreeing on the semantics.
- **Range join** buckets event time into fixed 300 s cells and equi-joins on
  the cell id (exploding each probe row to its 3 neighboring cells), then
  applies the exact ±300 s predicate. The equi-join on the bucket is the
  shuffle key; without it Spark plans a broadcast-nested-loop join, which is
  quadratic at scale. The oracle runs the naive inequality join.
- **Salted join** demonstrates hot-key mitigation with a *deterministic* salt
  (derived from ``l_linenumber``, not ``rand()``) so results are reproducible
  and oracle-comparable; AQE skew handling makes this optional but the
  pattern must exist for deliberate use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .registry import pair, register


# ---------------------------------------------------------------------------
# As-of join: last 'view' value at or before each purchase, per user.
# The reference's price join (J3) is "latest price at processing time";
# the event-time-correct version is exactly an as-of join.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = f"""
SELECT p.event_id, p.user_id,
    {S.fmt_ts('p.ts', DUCK)} AS ts_s,
    p.value AS purchase_value,
    v.value AS last_view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY p.event_id
"""


@register(
    "join_asof_last_view",
    oracle=_ASOF_ORACLE,
    tags=("join", "window", "temporal"),
    doc="As-of join (price-in-effect-at-event-time): union both sides, one "
    "shuffle on the key, last(ignoreNulls) over an ordered window. Oracle is "
    "DuckDB's native ASOF LEFT JOIN — two independent implementations.",
)
def join_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("purchase_value"),
        F.col("value").alias("view_value"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast("double").alias("view_value"),
    )
    # kind orders views before purchases at equal ts => "<=" as-of semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        views.unionByName(purchases)
        .withColumn("last_view_value", F.last("view_value", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.expr(S.fmt_ts("ts")).alias("ts_s"),
            "purchase_value",
            "last_view_value",
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Range join: clicks within ±300 s of each error, via time-bucket equi-join.
# ---------------------------------------------------------------------------

_RANGE_US = 300_000_000  # ±300 s in microseconds


_RANGE_ORACLE = f"""
SELECT e.event_id,
    count(c.event_id) AS n_clicks_5min,
    {S.dsum('c.value', DUCK)} AS click_value_5min
FROM events e
LEFT JOIN events c
    ON c.event_type = 'click'
    AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= {_RANGE_US}
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY e.event_id
"""


@register(
    "join_range_time_window",
    oracle=_RANGE_ORACLE,
    tags=("join", "temporal"),
    doc="Range join (activity within ±300 s): probe rows explode to 3 "
    "neighboring 300 s buckets, equi-join on the bucket id (the shuffle "
    "key), exact |Δt| filter after. Avoids the O(n²) nested-loop plan the "
    "naive inequality join produces; oracle runs that naive join.",
)
def join_range_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.table("events")
    us = F.unix_micros(F.col("ts"))
    bucket = F.floor(us / F.lit(_RANGE_US))

    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", us.alias("e_us"), bucket.alias("b")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
        us.alias("c_us"),
        bucket.alias("bucket"),
    )
    probes = errors.withColumn(
        "bucket", F.explode(F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1))
    )
    # Each click lives in exactly one bucket, so a (error, click) pair joins
    # at most once — no dedup needed after the exact-range filter.
    matched = probes.join(clicks, "bucket").where(
        F.abs(F.col("c_us") - F.col("e_us")) <= F.lit(_RANGE_US)
    )
    agg = matched.groupBy("event_id").agg(
        F.count("click_id").alias("n_clicks_5min"),
        F.expr(S.dsum("click_value")).alias("click_value_5min"),
    )
    return (
        errors.select("event_id")
        .join(agg, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_clicks_5min", F.lit(0)).alias("n_clicks_5min"),
            "click_value_5min",
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Remaining ANSI join surface
# ---------------------------------------------------------------------------


def _theta(d: str) -> str:
    return """
    SELECT a.n_regionkey AS regionkey, a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a
    JOIN nation b
        ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    ORDER BY regionkey, nation_a, nation_b
    """


pair(
    "join_theta_nation_pairs",
    _theta,
    tags=("join",),
    doc="Theta join (equi + inequality conjunct): same-region nation pairs.",
)


def _right(d: str) -> str:
    return """
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM orders
    RIGHT JOIN customer ON o_custkey = c_custkey
    ORDER BY c_custkey, o_orderkey NULLS FIRST
    """


pair(
    "join_right_outer_customers",
    _right,
    tags=("join",),
    doc="Right outer join (null-extending the build side).",
)


def _cross(d: str) -> str:
    return f"""
    SELECT r.r_name, t.band, count(*) AS n_parts,
        {S.dsum('p.p_retailprice', d)} AS price_total
    FROM region r
    CROSS JOIN (SELECT DISTINCT substring(p_brand, 1, 6) AS band FROM part) t
    JOIN part p ON substring(p.p_brand, 1, 6) = t.band
    GROUP BY r.r_name, t.band
    ORDER BY r.r_name, t.band
    """


pair(
    "join_cross_region_bands",
    _cross,
    tags=("join",),
    doc="Cross join of two small dims fanned against a fact (broadcast NLJ).",
)


_SALTED_ORACLE = f"""
SELECT o_orderpriority,
    {S.dsum('l_extendedprice * (1 - l_discount)', DUCK)} AS revenue,
    count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_N_SALTS = 8


@register(
    "join_salted_skew",
    oracle=_SALTED_ORACLE,
    tags=("join", "scale"),
    doc="Skew-salted equi-join: the build side replicates across "
    f"{_N_SALTS} deterministic salts (no rand() — reproducible), the probe "
    "side derives its salt from l_linenumber, so one hot l_orderkey spreads "
    "over 8 reducers. Result provably identical to the plain join (oracle).",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.table("lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(_N_SALTS)).cast("int")
    )
    orders = spark.table("orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)]))
    )
    # Both equi keys live in the join condition so Catalyst hashes on
    # (salt, l_orderkey) — the whole point of the salt.
    joined = li.join(
        orders,
        (li.salt == orders.salt) & (li.l_orderkey == orders.o_orderkey),
        "inner",
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.expr(S.dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# GROUPING SETS, frame windows, multiset set ops
# ---------------------------------------------------------------------------


def _grouping_sets(d: str) -> str:
    return f"""
    SELECT r_name, n_name,
        cast(grouping(r_name) as int) AS g_region,
        cast(grouping(n_name) as int) AS g_nation,
        {S.dsum('s_acctbal', d)} AS total_acctbal,
        count(*) AS n_suppliers
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    ORDER BY g_region, g_nation, r_name NULLS FIRST, n_name NULLS FIRST
    """


pair(
    "agg_grouping_sets",
    _grouping_sets,
    tags=("agg", "sweep:rollup-empty"),
    doc="Explicit GROUPING SETS with grouping() markers (distinguishes "
    "'NULL key' from 'superaggregate row').",
)


def _lead_frames(d: str) -> str:
    us = "unix_micros(ts)" if d == SPARK else "epoch_us(ts)"
    return f"""
    SELECT user_id, event_id,
        lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id,
        first_value(event_id) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS first_event_id,
        cast(count(*) OVER (
            PARTITION BY user_id ORDER BY {us}
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
        ) as bigint) AS n_events_1h,
        cast(sum(cast(value as decimal(38,6))) OVER (
            PARTITION BY user_id ORDER BY {us}
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
        ) as double) AS sum_value_1h
    FROM events
    ORDER BY user_id, event_id
    """


pair(
    "window_lead_range_frame",
    _lead_frames,
    tags=("window", "temporal"),
    doc="lead / first_value / sliding 1-hour RANGE frame on the microsecond "
    "event-time axis (decimal-exact sliding sum).",
)


def _intersect_all(d: str) -> str:
    return """
    SELECT k FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT ALL
        SELECT s_nationkey AS k FROM supplier
    ) t
    ORDER BY k
    """


pair(
    "setop_intersect_all",
    _intersect_all,
    tags=("setop",),
    doc="INTERSECT ALL (multiset semantics — cardinality matters).",
)


def _except_all(d: str) -> str:
    return """
    SELECT k FROM (
        SELECT c_nationkey AS k FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS k FROM supplier
    ) t
    ORDER BY k
    """


pair(
    "setop_except_all",
    _except_all,
    tags=("setop",),
    doc="EXCEPT ALL (multiset difference).",
)


_MINMAX_ORACLE = """
WITH p AS (
    SELECT user_id, event_id, value,
        min(value) OVER (PARTITION BY user_id) AS lo,
        max(value) OVER (PARTITION BY user_id) AS hi
    FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id, value,
    CASE WHEN hi - lo <> 0.0 THEN (value - lo) / (hi - lo) END AS scaled
FROM p
ORDER BY user_id, event_id
"""


@register(
    "udf_groupmap_minmax_scale",
    oracle=_MINMAX_ORACLE,
    tags=("udf",),
    doc="Grouped-map applyInPandas (per-user min-max scaling) verified "
    "bit-for-bit against the SQL window form: the kernel uses only "
    "order-insensitive IEEE ops, so the DuckDB oracle checks the grouped "
    "Arrow plumbing exactly (SURVEY.md §2.9 applyInPandas surface).",
)
def udf_groupmap_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import groupwise_minmax_scale, ordered_python_stage

    ev = spark.table("events").where(F.col("event_type") == "purchase")
    return ordered_python_stage(
        ev, lambda e: groupwise_minmax_scale(e, "user_id", "value"),
        "user_id", "event_id",
    )


def _resample_gapfill(d: str) -> str:
    # Hypertable-style daily rollup with gap filling: the day grid comes
    # from sequence/generate_series between the observed bounds, left-joined
    # to the per-day aggregates so silent days appear as zero rows. The grid
    # is tiny (one row per day per user-bucket) — generated, not shuffled.
    day = S.fmt_date("ts", d)
    if d == SPARK:
        grid = """
        SELECT b.bucket, explode(sequence(
            (SELECT min(to_date(ts)) FROM events),
            (SELECT max(to_date(ts)) FROM events),
            interval 1 day)) AS day
        FROM (SELECT DISTINCT user_id % 4 AS bucket FROM events) b
        """
        day_str = "date_format(g.day, 'yyyy-MM-dd')"
    else:
        grid = """
        SELECT b.bucket, unnest(generate_series(
            (SELECT min(ts::date) FROM events),
            (SELECT max(ts::date) FROM events),
            interval 1 day))::date AS day
        FROM (SELECT DISTINCT user_id % 4 AS bucket FROM events) b
        """
        day_str = "strftime(g.day, '%Y-%m-%d')"
    return f"""
    WITH per_day AS (
        SELECT user_id % 4 AS bucket, {day} AS day_s,
            count(*) AS n_events,
            {S.dsum('value', d)} AS day_value
        FROM events
        GROUP BY user_id % 4, {day}
    ),
    grid AS ({grid})
    SELECT g.bucket, {day_str} AS day_s,
        coalesce(p.n_events, 0) AS n_events,
        coalesce(p.day_value, 0.0) AS day_value
    FROM grid g
    LEFT JOIN per_day p ON p.bucket = g.bucket AND p.day_s = {day_str}
    ORDER BY g.bucket, day_s
    """


pair(
    "window_resample_gapfill",
    _resample_gapfill,
    tags=("window", "temporal"),
    doc="Time-series resampling with gap filling (hypertable-rollup shape): "
    "per-bucket daily aggregates left-joined onto a generated day grid so "
    "empty periods emit zeros. The grid is generated per group, never "
    "shuffled at data scale.",
)


def _higher_order(d: str) -> str:
    toks = S.split_ws("text", d)
    if d == SPARK:
        longs = f"filter({toks}, t -> length(t) > 4)"
        upped = f"transform({toks}, t -> upper(t))"
        has_merge = f"exists({toks}, t -> t = 'merge')"
        total_len = (
            f"aggregate({toks}, 0, (acc, t) -> acc + length(t))"
        )
    else:
        longs = f"list_filter({toks}, t -> length(t) > 4)"
        upped = f"list_transform({toks}, t -> upper(t))"
        has_merge = f"list_contains({toks}, 'merge')"
        # DuckDB list_reduce has no init: prepend a zero-length sentinel.
        total_len = (
            f"list_reduce(list_prepend(0, list_transform({toks}, "
            f"t -> length(t))), (acc, v) -> acc + v)"
        )
    return f"""
    SELECT doc_id,
        {S.arr_len(longs, d)} AS n_long_tokens,
        {S.arr_join(S.arr_sort(S.arr_distinct(longs, d), d), "','", d)} AS long_tokens_csv,
        substring({S.arr_join(upped, "' '", d)}, 1, 30) AS upper_head,
        cast({has_merge} as boolean) AS mentions_merge,
        cast({total_len} as bigint) AS total_token_chars
    FROM documents
    ORDER BY doc_id
    """


pair(
    "scalar_higher_order_funcs",
    _higher_order,
    tags=("scalar",),
    doc="Higher-order array functions made explicit: filter / transform / "
    "exists / aggregate lambdas, all JVM-side (no UDF) — the building "
    "blocks the sketch and similarity operators compose.",
)


def _collect_sorted(d: str) -> str:
    # Engine-portable nested aggregation: the collected set is sorted then
    # joined to a string so row-internal ordering is deterministic (bare
    # collect_list order is partition-dependent — never comparable).
    if d == SPARK:
        arr = "concat_ws(',', array_sort(collect_set(event_type)))"
    else:
        arr = "array_to_string(list_sort(list(DISTINCT event_type)), ',')"
    return f"""
    SELECT user_id, {arr} AS event_types,
        count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """


pair(
    "agg_collect_sorted_set",
    _collect_sorted,
    tags=("agg",),
    doc="Set-valued aggregation (collect_set) rendered deterministic by "
    "sort + join — the watchlist-set materialization (A2) as a column.",
)


def _percentiles(d: str) -> str:
    if d == SPARK:
        med = "percentile(o_totalprice, 0.5)"
        p90 = "percentile(o_totalprice, 0.9)"
    else:
        med = "quantile_cont(o_totalprice, 0.5)"
        p90 = "quantile_cont(o_totalprice, 0.9)"
    return f"""
    SELECT o_orderpriority,
        round({med}, 6) AS median_price,
        round({p90}, 6) AS p90_price,
        count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


pair(
    "agg_percentiles_exact",
    _percentiles,
    tags=("agg",),
    doc="Exact percentiles (linear interpolation — identical IEEE ops in "
    "both engines); the exact twin of agg_approx_sketches' KLL estimate.",
)


def _percent_cume(d: str) -> str:
    return """
    SELECT c_mktsegment, c_custkey,
        round(percent_rank() OVER (
            PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        ), 6) AS pct_rank,
        round(cume_dist() OVER (
            PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        ), 6) AS cume
    FROM customer
    ORDER BY c_mktsegment, c_custkey
    """


pair(
    "window_percent_cume",
    _percent_cume,
    tags=("window",),
    doc="percent_rank + cume_dist over a deterministic total order "
    "(rational-valued — engine-identical).",
)


def _null_safe(d: str) -> str:
    nseq = (
        "(o.o_custkey <=> c.c_custkey)"
        if d == SPARK
        else "(o.o_custkey IS NOT DISTINCT FROM c.c_custkey)"
    )
    return f"""
    SELECT o.o_orderkey,
        coalesce(c.c_name, 'UNKNOWN') AS cust_name,
        nullif(o.o_totalprice, 0.0) AS price_or_null,
        CASE WHEN {nseq} THEN 'matched' ELSE 'dangling' END AS match_tag
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    """


pair(
    "scalar_null_safe_ops",
    _null_safe,
    tags=("scalar",),
    doc="Null-tolerant scalar surface: coalesce / nullif / null-safe "
    "equality (the reference's None-tagging discipline, "
    "SERVER/server.py:79-91, made explicit).",
)


def _scalar_subquery(d: str) -> str:
    # 1.9× (not 2×): order prices are ~uniform on [0, 500k] with mean ~250k,
    # so a 2× cutoff sits above the max and returns nothing — vacuous.
    return f"""
    SELECT o_orderkey, o_totalprice,
        round(o_totalprice / (SELECT {S.davg('o_totalprice', d)} FROM orders), 6)
            AS price_vs_avg
    FROM orders
    WHERE o_totalprice > 1.9 * (SELECT {S.davg('o_totalprice', d)} FROM orders)
    ORDER BY o_orderkey
    """


pair(
    "subquery_uncorrelated_scalar",
    _scalar_subquery,
    tags=("subquery",),
    doc="Uncorrelated scalar subquery in both projection and predicate "
    "(planned as a broadcast of one row).",
)


# ---------------------------------------------------------------------------
# Time-series OHLC candles (the price-stream rollup the domain consumes)
# ---------------------------------------------------------------------------


def _ohlc(d: str) -> str:
    # Deterministic open/close: total order (ts, event_id) within each
    # (event_type, hour) bucket; one window shuffle + one group-by on the
    # same key — Spark reuses the partitioning across both.
    hour = (
        "date_format(ts, 'yyyy-MM-dd HH')"
        if d == SPARK
        else "strftime(ts, '%Y-%m-%d %H')"
    )
    return f"""
    WITH ranked AS (
        SELECT event_type, {hour} AS bucket_hour, value, ts, event_id,
            row_number() OVER (
                PARTITION BY event_type, {hour} ORDER BY ts, event_id
            ) AS rn_a,
            row_number() OVER (
                PARTITION BY event_type, {hour} ORDER BY ts DESC, event_id DESC
            ) AS rn_d
        FROM events
    )
    SELECT event_type, bucket_hour,
        round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
        round(max(value), 6) AS high,
        round(min(value), 6) AS low,
        round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
        cast(count(*) as bigint) AS n_ticks,
        round({S.dsum('value', d)}, 6) AS volume
    FROM ranked
    GROUP BY event_type, bucket_hour
    ORDER BY event_type, bucket_hour
    """


pair(
    "window_ohlc_candles",
    _ohlc,
    tags=("window", "domain"),
    doc="OHLC candlestick rollup per (event_type, hour): first/last by a "
    "total order, min/max/volume per bucket — the aggregation a price "
    "stream (SERVER/priceAPIfiller.py) feeds into dashboards. Window and "
    "group-by share one hash partitioning on the bucket key.",
)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (novel sketch as a DataFrame composition)
# ---------------------------------------------------------------------------

_CMS_W = 32  # buckets per row
_CMS_D = 4  # hash rows


def _cms_heavy_hitters(d: str) -> str:
    # The sketch is D counter rows of W buckets; est(x) = min over rows of
    # bucket counts. Built entirely from group-bys (one shuffle of D*W
    # counters regardless of input size); the point query joins each
    # candidate's D buckets back against the sketch. Estimates are exact
    # upper bounds: est >= true count always (verified in tests).
    key = (
        "cast(user_id as string)" if d == SPARK else "cast(user_id as varchar)"
    )
    h = S.portable_hash64(key, d, seed="r")  # seed varies per sketch row
    if d == SPARK:
        # explode is a generator — map-side row expansion, no join operator
        # (a VALUES cross join would plan a BroadcastNestedLoopJoin).
        fanout = f"""
        SELECT user_id, r FROM (
            SELECT user_id, explode(array({', '.join(str(r) for r in range(_CMS_D))})) AS r
            FROM events
        ) g"""
    else:
        rows = ", ".join(f"({r})" for r in range(_CMS_D))
        fanout = f"SELECT user_id, r FROM events CROSS JOIN (VALUES {rows}) AS t(r)"
    return f"""
    WITH hashed AS (
        SELECT user_id, r, ({h}) % {_CMS_W} AS b
        FROM ({fanout}) f
    ),
    cms AS (
        SELECT r, b, cast(count(*) as bigint) AS c
        FROM hashed GROUP BY r, b
    ),
    exact AS (
        SELECT user_id, cast(count(*) as bigint) AS true_count
        FROM events GROUP BY user_id
    ),
    est AS (
        SELECT h.user_id, min(c.c) AS est_count
        FROM (SELECT DISTINCT user_id, r, b FROM hashed) h
        JOIN cms c ON c.r = h.r AND c.b = h.b
        GROUP BY h.user_id
    )
    SELECT e.user_id, x.true_count, e.est_count
    FROM est e JOIN exact x ON x.user_id = e.user_id
    ORDER BY x.true_count DESC, e.user_id
    LIMIT 10
    """


pair(
    "agg_cms_heavy_hitters",
    _cms_heavy_hitters,
    tags=("agg", "sketch"),
    doc="Count-min sketch (4x32) heavy hitters over the event stream, "
    "composed from group-bys: the sketch is D*W counters total regardless "
    "of cardinality — the mergeable-summary scale path when exact per-key "
    "counts don't fit. est >= true by construction (one-sided error).",
)


# ---------------------------------------------------------------------------
# Promo revenue share (TPC-H Q14 shape: conditional agg over a star join)
# ---------------------------------------------------------------------------


def _q14(d: str) -> str:
    promo = "CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END"
    return f"""
    SELECT round(
        100.0 * {S.dsum(promo, d)}
        / {S.dsum('l.l_extendedprice * (1 - l.l_discount)', d)}, 6
    ) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= timestamp '1997-09-01'
      AND l.l_shipdate < timestamp '1997-10-01'
    """


pair(
    "q14_promo_revenue",
    _q14,
    tags=("relational",),
    doc="TPC-H Q14 shape: promo revenue share for one month — conditional "
    "decimal-exact aggregation over a broadcast part join with a pushed-down "
    "shipdate range.",
)


# ---------------------------------------------------------------------------
# mapInArrow surface (zero-copy Arrow batch kernel)
# ---------------------------------------------------------------------------

_ARROW_VECSUM_ORACLE = """
SELECT vec_id,
    cast(len(embedding) as int) AS n_dims,
    cast(list_sum(list_transform(
        embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint)
    )) as bigint) AS vsum
FROM embeddings
ORDER BY vec_id
"""


@register(
    "udf_arrowmap_vecsum",
    oracle=_ARROW_VECSUM_ORACLE,
    tags=("udf", "similarity"),
    doc="mapInArrow kernel (functions/udfs.arrow_vec_fixedpoint_sum): "
    "per-row fixed-point vector sum computed on raw Arrow list buffers "
    "(no pandas), oracle-verified bit-for-bit — completing the §2.9 UDF "
    "surface (pandas_udf / applyInPandas / applyInPandasWithState / "
    "mapInPandas / mapInArrow).",
)
def udf_arrowmap_vecsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import arrow_vec_fixedpoint_sum, ordered_python_stage

    return ordered_python_stage(
        spark.table("embeddings"), arrow_vec_fixedpoint_sum, "vec_id"
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history (the warehouse-grade form of A4/S9)
# ---------------------------------------------------------------------------


def _scd2(d: str) -> str:
    # The reference's price dimension keeps only the latest value per key
    # (Redis HSET, SERVER/priceAPIfiller.py:77-82 — A4 last-writer-wins).
    # The warehouse-grade equivalent is a type-2 slowly-changing dimension:
    # every update becomes a validity interval, closed by the next update's
    # timestamp. One window over (key, ts) — a single shuffle, no state.
    lead_ts = "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    return f"""
    SELECT user_id,
           value AS price,
           ts AS valid_from,
           {lead_ts} AS valid_to,
           CASE WHEN {lead_ts} IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY user_id, valid_from, event_id
    """


pair(
    "dim_scd2_price_history",
    _scd2,
    tags=("window", "dimension"),
    doc="SCD2 dimension history: each price update becomes a validity "
    "interval closed by the successor's timestamp (deterministic tie-break "
    "on event_id), flagged is_current on the open row — the versioned "
    "upgrade of the reference's last-writer-wins price HSET (A4/S9). "
    "Pairs with join_asof_last_view for as-of lookups into the history.",
)


# ---------------------------------------------------------------------------
# Bloom-filter join prefilter audit (runtime-filter pushdown, by hand)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1024
_BLOOM_SEEDS = ("b1", "b2", "b3")


def _bloom_hot(d: str) -> str:
    """(user_id): the build side, high-spend purchasers."""
    cents = "cast(floor(value * cast(100 as double)) as bigint)"
    return f"""
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY user_id
    HAVING sum({cents}) > 50000
    """


def _bloom_bits(d: str, hot: str) -> str:
    """(pos): the filter itself, the set-bit positions of the hot keys."""
    build_pos = " UNION ".join(  # UNION (distinct): the filter's bit SET
        f"SELECT {S.portable_hash64('cast(user_id as string)', d, seed=repr(s))}"
        f" % {_BLOOM_BITS} AS pos FROM hot"
        for s in _BLOOM_SEEDS
    )
    return f"""
    WITH hot AS ({hot})
    SELECT DISTINCT pos FROM ({build_pos}) p
    """


def _bloom_prefilter(d: str, hot: str, bits: str) -> str:
    # The probe scans events once. The bit-position and membership joins
    # carry BROADCAST hints: a checkpointed core keeps its pre-checkpoint
    # size estimate, so unhinted they could plan as sort-merge joins.
    probe_hits = " + ".join(
        f"CASE WHEN b{i}.pos IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(len(_BLOOM_SEEDS))
    )
    probe_joins = "\n        ".join(
        f"LEFT JOIN bits b{i} ON b{i}.pos = "
        f"{S.portable_hash64('cast(e.user_id as string)', d, seed=repr(s))}"
        f" % {_BLOOM_BITS}"
        for i, s in enumerate(_BLOOM_SEEDS)
    )
    hinted = ", ".join(f"b{i}" for i in range(len(_BLOOM_SEEDS)))
    return f"""
    WITH hot AS ({hot}),
    bits AS ({bits}),
    probed AS (
        SELECT /*+ BROADCAST({hinted}, hot) */ e.event_type,
            CASE WHEN hot.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_member,
            CASE WHEN ({probe_hits}) = {len(_BLOOM_SEEDS)}
                 THEN 1 ELSE 0 END AS bloom_pass
        FROM (SELECT user_id, event_type FROM events) e
        {probe_joins}
        LEFT JOIN hot ON hot.user_id = e.user_id
    )
    SELECT event_type,
        cast(count(*) as bigint) AS n_rows,
        {S.isum('is_member', d)} AS n_true_member,
        {S.isum('bloom_pass', d)} AS n_bloom_pass,
        {S.isum('bloom_pass * (1 - is_member)', d)} AS n_false_pos,
        round(CASE WHEN {S.isum('1 - is_member', d)} = 0 THEN cast(0 as double)
            ELSE cast({S.isum('bloom_pass * (1 - is_member)', d)} as double)
            / cast({S.isum('1 - is_member', d)} as double) END, 6) AS fp_rate
    FROM probed
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "join_bloom_prefilter",
    _bloom_prefilter,
    shared={"hot": _bloom_hot, "bits": _bloom_bits},
    tags=("join", "sketch", "audit"),
    doc="Runtime Bloom-filter join prefilter, built by hand and AUDITED: "
    "the hot-user build side (high-spend purchasers) hashes each key "
    f"through {len(_BLOOM_SEEDS)} portable-hash families into a "
    f"{_BLOOM_BITS}-bit filter materialized as its set-bit POSITIONS "
    "(a tiny broadcastable table); the fact side passes when all its "
    "positions hit. Output compares the bloom-pass count against the "
    "exact semi-join per event type — the false-positive rate tells you "
    "what a runtime-filter pushdown would actually save before the real "
    "join (Spark's own InBloomFilter rewrite, reproduced auditably). "
    "Never emits a bloom-pass=0 row for a true member (no false "
    "negatives, by construction): the audit query exists to prove it. "
    "The hot set and its bit table are each materialized ONCE via "
    "localCheckpoint (a pure-CTE form re-inlined the hot aggregation "
    "into every consumer — 11 fact scans); the probe side then scans "
    "events once, with all three bit-position joins and the membership "
    "join explicitly broadcast.",
)
