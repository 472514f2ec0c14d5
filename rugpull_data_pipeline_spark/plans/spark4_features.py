"""Spark 4 surface: VARIANT, recursive CTEs, LATERAL joins, Python UDTFs.

The reference is a fixed-pipeline engine with no SQL surface at all; a
Spark-first rebuild should expose the *current* Spark feature set, not just
the ANSI core. Four operators land here, each oracle-checked:

- **VARIANT** (``parse_json``/``variant_get``): the open-schema alternative
  to ``from_json`` for payloads whose shape drifts — exactly the defensive
  posture the reference takes against schema drift (``if 'wallet' in
  df.columns``, SERVER/server.py:79). Shredded access stays JVM-side.
- **Recursive CTE** (``WITH RECURSIVE``): generates the month spine the
  gap-fill resampler (window_resample_gapfill) otherwise builds with
  ``sequence()`` — the iterative-plan shape SQL-only users reach for.
- **LATERAL correlated subquery**: per-group top-k without a window function
  — planned as a correlated join, the third top-k strategy in the repo
  (vs window rank and max_by).
- **Python UDTF**: the table-function UDF surface (SURVEY §2.9 lists the
  scalar/grouped/stateful/map surfaces; UDTF completes the set) — a
  whitespace tokenizer exploding documents, LATERAL-joined per row.

Scale notes: variant shredding and recursion are driver-free JVM plans; the
lateral top-k decorrelates to a ranked join (no per-row subquery execution);
the UDTF is Arrow-batched like any Python UDF — and the oracle twin
(`text_vocab_topk`) keeps the JVM-side split+explode as the fast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import SPARK
from .registry import pair, register


# ---------------------------------------------------------------------------
# VARIANT: open-schema JSON shredding
# ---------------------------------------------------------------------------


def _variant(d: str) -> str:
    k = (
        "variant_get(parse_json(props), '$.k', 'int')"
        if d == SPARK
        else "cast(json_extract(props, '$.k') as int)"
    )
    return f"""
    SELECT cast(({k}) % 10 as int) AS k_bucket,
           count(*) AS n_events,
           cast(sum(cast(({k}) as bigint)) as bigint) AS k_total
    FROM events
    GROUP BY 1
    ORDER BY k_bucket
    """


pair(
    "variant_shred_events",
    _variant,
    tags=("json", "spark4"),
    doc="VARIANT path (Spark 4 parse_json/variant_get) over events.props — "
    "the open-schema alternative to from_json for drifting payloads "
    "(SERVER/server.py:79's defensive posture); DuckDB oracle shreds the "
    "same JSON with json_extract.",
)


# ---------------------------------------------------------------------------
# Recursive CTE: month spine with zero-filled order counts
# ---------------------------------------------------------------------------


def _rec_spine(d: str) -> str:
    return """
    WITH RECURSIVE spine(month_start) AS (
        SELECT timestamp '1995-01-01'
        UNION ALL
        SELECT month_start + INTERVAL 1 MONTH
        FROM spine
        WHERE month_start < timestamp '2001-08-01'
    )
    SELECT s.month_start,
           count(o.o_orderkey) AS n_orders
    FROM spine s
    LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = s.month_start
    GROUP BY s.month_start
    ORDER BY s.month_start
    """


pair(
    "recursive_cte_month_spine",
    _rec_spine,
    tags=("relational", "spark4"),
    doc="WITH RECURSIVE month spine (80 iterations) left-joined to monthly "
    "order counts — zero-filled months included; identical SQL runs on both "
    "engines.",
)


# ---------------------------------------------------------------------------
# LATERAL: per-nation top-2 customers as a correlated subquery
# ---------------------------------------------------------------------------


def _lateral(d: str) -> str:
    return """
    SELECT n.n_name AS nation, t.c_name AS customer, t.c_acctbal AS acctbal
    FROM nation n,
    LATERAL (
        SELECT c_name, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name
        LIMIT 2
    ) t
    ORDER BY nation, acctbal DESC, customer
    """


pair(
    "lateral_top2_per_nation",
    _lateral,
    tags=("relational", "subquery", "spark4"),
    doc="Correlated LATERAL subquery with ORDER BY + LIMIT: per-nation top-2 "
    "customers — the decorrelated-join top-k strategy (vs window_topk_per_"
    "group's rank and agg_last_value_per_key's max_by).",
)


# ---------------------------------------------------------------------------
# Python UDTF: whitespace tokenizer LATERAL-joined over documents
# ---------------------------------------------------------------------------

_UDTF_ORACLE = """
SELECT token, count(*) AS n
FROM (
    SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''
    )) AS token
    FROM documents
)
GROUP BY token
ORDER BY n DESC, token
LIMIT 25
"""


@register(
    "udtf_token_explode_topk",
    oracle=_UDTF_ORACLE,
    tags=("udf", "text", "spark4"),
    doc="Python UDTF (table function) surface: a tokenizer UDTF exploding "
    "each document into rows via LATERAL, then a top-25 vocabulary count. "
    "Completes SURVEY §2.9's UDF matrix (scalar/grouped/stateful/map/table).",
)
def udtf_token_explode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from pyspark.sql.functions import udtf

    from ..session import ship_package

    ship_package(spark)

    @udtf(returnType="token string")
    class TokenizeUdtf:
        def eval(self, text: str):
            for tok in re.split(r"\s+", (text or "").lower()):
                if tok:
                    yield (tok,)

    spark.udtf.register("tokenize_udtf", TokenizeUdtf)
    return spark.sql(
        """
        SELECT t.token, count(*) AS n
        FROM documents d, LATERAL tokenize_udtf(d.text) t
        GROUP BY t.token
        ORDER BY n DESC, t.token
        LIMIT 25
        """
    )


# ---------------------------------------------------------------------------
# try_* dirty-data functions: the SQL-level form of P6/P12 tolerance
# ---------------------------------------------------------------------------


def _try_safe(d: str) -> str:
    # The reference tolerates malformed input by emitting nulls (missing
    # balance -> AppendNull, RECEIVER/stage2_processing.cpp:46-56; bogus
    # payloads rejected, parser_main.cpp:92-97). The SQL-level analogue is
    # the try_* family: casts and arithmetic that yield NULL instead of
    # failing the job — essential at 100 TB, where some rows ARE dirty.
    # try_cast has identical syntax in both engines; try_divide's oracle
    # form is division with a null'd-out zero denominator.
    dirty = (
        "concat(cast(user_id as string), "
        "case when event_id % 7 = 0 then 'x' else '' end)"
    )
    div = (
        "try_divide(value, cast(event_id % 5 as double))"
        if d == SPARK
        else "value / nullif(cast(event_id % 5 as double), 0.0)"
    )
    from ..functions import scalars as S

    return f"""
    SELECT event_type,
        count(try_cast({dirty} AS int)) AS n_clean_ids,
        count(*) AS n_rows,
        round({S.dsum(div, d)}, 6) AS sum_safe_ratio
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "scalar_try_safe_ops",
    _try_safe,
    tags=("scalar", "spark4"),
    doc="try_cast / try_divide dirty-data tolerance: malformed values and "
    "zero denominators become NULLs instead of failed jobs — the SQL-level "
    "form of the reference's null-on-missing parsing (P6/P12). count() "
    "skips the nulls, so the clean-row tally falls out directly.",
)


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4.x operator-chain SQL)
# ---------------------------------------------------------------------------

_PIPE_SPARK = """
FROM orders
|> WHERE o_orderstatus = 'F'
|> AGGREGATE cast(count(*) as bigint) AS n_orders,
       cast(sum(cast(o_totalprice as decimal(38,6))) as double) AS revenue
   GROUP BY date_format(o_orderdate, 'yyyy-MM') AS month
|> WHERE n_orders >= 5
|> ORDER BY month
"""

_PIPE_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
    cast(count(*) as bigint) AS n_orders,
    cast(sum(cast(o_totalprice as decimal(38,6))) as double) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY strftime(o_orderdate, '%Y-%m')
HAVING count(*) >= 5
ORDER BY month
"""


@register(
    "pipe_syntax_monthly_revenue",
    oracle=_PIPE_ORACLE,
    tags=("spark4", "agg"),
    doc="SQL pipe syntax (Spark 4 |> operator chains, the GoogleSQL pipes "
    "design): filter -> AGGREGATE with a GROUP BY alias -> post-aggregate "
    "filter -> order, written as a linear pipeline instead of inside-out "
    "nesting. Compiles to the identical HashAggregate plan as the classic "
    "form — the DuckDB oracle IS that classic form, proving the two "
    "notations agree value-for-value.",
)
def pipe_syntax_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_PIPE_SPARK)


# ---------------------------------------------------------------------------
# Session variables + EXECUTE IMMEDIATE (parameterized SQL, Spark 4)
# ---------------------------------------------------------------------------

_EXEC_ORACLE = """
SELECT o_orderpriority,
    cast(count(*) as bigint) AS n_orders,
    cast(sum(cast(o_totalprice as decimal(38,6))) as double) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "spark4_exec_immediate_params",
    oracle=_EXEC_ORACLE,
    tags=("spark4",),
    doc="Session variables + EXECUTE IMMEDIATE: the status filter arrives "
    "as a DECLAREd session variable bound through a ? parameter marker — "
    "the SQL-injection-safe parameterized-query surface ETL orchestrators "
    "template with. The oracle is the same statement with the literal "
    "inlined, proving parameter binding changes nothing about the result.",
)
def spark4_exec_immediate_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql("DECLARE OR REPLACE VARIABLE rp_status STRING DEFAULT 'F'")
    spark.sql("SET VAR rp_status = 'F'")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderpriority, cast(count(*) as bigint) AS n_orders, "
        "cast(sum(cast(o_totalprice as decimal(38,6))) as double) AS revenue "
        "FROM orders WHERE o_orderstatus = ? "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority' "
        "USING rp_status"
    )


# ---------------------------------------------------------------------------
# Collation-aware grouping (Spark 4 COLLATE)
# ---------------------------------------------------------------------------

_COLLATE_ORACLE = """
SELECT lower(CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END)
        AS lang_ci,
    cast(count(*) as bigint) AS n_docs
FROM documents
GROUP BY lower(CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END)
ORDER BY lang_ci
"""


@register(
    "spark4_collated_grouping",
    oracle=_COLLATE_ORACLE,
    tags=("spark4", "agg"),
    doc="Collation-aware grouping: a deliberately case-mixed language "
    "column groups under COLLATE UTF8_LCASE, so 'EN' and 'en' land in one "
    "group WITHOUT rewriting every comparison through lower() — at scale "
    "the collation applies inside the hash/compare paths rather than "
    "materializing a normalized copy of the column. The emitted key is "
    "normalized for display determinism; the oracle is the classic "
    "lower()-rewrite, proving the collation semantics exactly.",
)
def spark4_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = spark.table("documents")
    ci = F.expr(
        "CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END "
        "COLLATE UTF8_LCASE"
    )
    return (
        docs.groupBy(ci.alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(F.lower(F.col("k")).alias("lang_ci"), "n_docs")
        .orderBy("lang_ci")
    )


# ---------------------------------------------------------------------------
# SQL scripting (Spark 4 BEGIN/DECLARE/WHILE): adaptive threshold search
# ---------------------------------------------------------------------------

# The oracle replays the same doubling walk as a recursive CTE on the cents
# grid: thr starts at 1 and doubles until at most 1% of valued events sit at
# or above it.
_SCRIPTING_ORACLE = """
WITH RECURSIVE grid AS (
    SELECT cast(floor(value * cast(100 as double)) as bigint) AS s,
        cast(count(*) as bigint) AS c
    FROM events WHERE value IS NOT NULL
    GROUP BY s
),
tot AS (SELECT cast(sum(c) as bigint) AS n_total FROM grid),
walk(thr, n_above, n_iters) AS (
    -- coalesce matches the builder's SET n_above: when NOTHING sits at or
    -- above 1 cent (e.g. an all-negative value column) the count is 0 and
    -- the walk terminates at thr=1 — a bare sum() is NULL and poisons both
    -- the termination filter and the recursion (negative-values sweep, r7)
    SELECT cast(1 as bigint),
        (SELECT coalesce(cast(sum(c) as bigint), 0) FROM grid WHERE s >= 1),
        cast(0 as int)
    UNION ALL
    SELECT w.thr * 2,
        (SELECT coalesce(cast(sum(c) as bigint), 0) FROM grid
         WHERE s >= w.thr * 2),
        w.n_iters + 1
    FROM walk w, tot
    WHERE w.n_above * 100 > tot.n_total
)
SELECT w.thr AS threshold_cents, w.n_above, tot.n_total,
    cast(w.n_iters as int) AS n_iters
FROM walk w, tot
WHERE w.n_above * 100 <= tot.n_total
ORDER BY w.thr LIMIT 1
"""


@register(
    "spark4_sql_scripting",
    oracle=_SCRIPTING_ORACLE,
    tags=("spark4", "iterative"),
    doc="SQL scripting (Spark 4 BEGIN/DECLARE/WHILE, the SQL/PSM surface): "
    "an adaptive threshold search that DOUBLES a cents cutoff until at "
    "most 1% of valued events remain at or above it — the spike-cutoff "
    "calibration a monitoring pipeline runs, written as a procedural SQL "
    "script instead of driver-side Python. The builder first aggregates "
    "events down to the distinct-cents GRID and localCheckpoints it, so "
    "every loop iteration scans O(grid) rows, not the fact table — ~15 "
    "doublings cost nothing at any scale. Oracle: the identical walk as "
    "a DuckDB recursive CTE. Output: final threshold, rows above, total, "
    "iteration count.",
)
def spark4_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .selectExpr("cast(floor(value * cast(100 as double)) as bigint) AS s")
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    return spark.sql(
        """
        BEGIN
          DECLARE thr BIGINT DEFAULT 1;
          DECLARE n_total BIGINT;
          DECLARE n_above BIGINT;
          DECLARE n_iters INT DEFAULT 0;
          SET n_total = (SELECT sum(c) FROM {grid});
          SET n_above = (SELECT coalesce(sum(c), 0)
                         FROM {grid} WHERE s >= thr);
          WHILE n_above * 100 > n_total DO
            SET thr = thr * 2;
            SET n_above = (SELECT coalesce(sum(c), 0)
                           FROM {grid} WHERE s >= thr);
            SET n_iters = n_iters + 1;
          END WHILE;
          -- empty grid (no valued events): the oracle's recursive walk
          -- anchors on NULL and emits nothing — match it instead of
          -- returning a NULL-total row
          SELECT thr AS threshold_cents, n_above, n_total, n_iters
          WHERE n_total IS NOT NULL;
        END
        """,
        grid=grid,
    )
