"""Semi-structured layer — the JSON extraction chain (SURVEY.md §2.2 P1-P6).

The reference's AVX2 structural indexer + FSM extractors
(``RECEIVER/stage1_simd.cpp:17-130``, ``stage2_processing.cpp:192-251``) are
subsumed by Spark's schema-pruned ``from_json``; what survives as *query
shape* is the cheap-prefilter-then-parse idiom (filter on
``get_json_object``/``contains`` before full ``from_json`` — the declarative
analogue of "hot-address check before balance parse", SURVEY.md §4).

``events.props`` is the fixture JSON payload; the full Solana-block chain is
exercised in tests over generated block JSON (sources/solana.py).
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import SPARK
from .registry import pair


def _json_agg(d: str) -> str:
    return f"""
    SELECT event_type,
        {S.isum(f"cast({S.json_get('props', 'k', d)} as bigint)", d)} AS sum_k,
        cast(max(cast({S.json_get('props', 'k', d)} as bigint)) as bigint) AS max_k,
        count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "json_extract_agg",
    _json_agg,
    tags=("json", "agg"),
    doc="P4 blockTime-style scalar JSON extraction (get_json_object) feeding "
    "an aggregate.",
)


def _json_prefilter(d: str) -> str:
    # Prefilter on the raw string (cheap contains) before JSON extraction —
    # the predicate-pushdown analogue of filtering on raw array views before
    # the expensive balance parse (RECEIVER/stage2_processing.cpp:358-364
    # before :391-403).
    return f"""
    SELECT event_id, user_id,
        cast({S.json_get('props', 'k', d)} as bigint) AS k
    FROM events
    WHERE props LIKE '%k%'
      AND cast({S.json_get('props', 'k', d)} as bigint) >= 90
    ORDER BY event_id
    """


pair(
    "json_prefilter_then_parse",
    _json_prefilter,
    tags=("json",),
    doc="Cheap string prefilter before JSON parse (SURVEY.md §4 pushdown "
    "analogue).",
)


def _json_struct(d: str) -> str:
    if d == SPARK:
        k = "from_json(props, 'k INT').k"
    else:
        k = "cast(json_extract_string(props, '$.k') as integer)"
    # floor() before the int cast: Spark truncates double→int, DuckDB rounds —
    # floor makes both exact.
    return f"""
    SELECT cast(floor(({k}) / 10) as integer) AS k_decile,
        count(*) AS n_events,
        cast(count(DISTINCT user_id) as bigint) AS n_users
    FROM events
    WHERE ({k}) IS NOT NULL
    GROUP BY cast(floor(({k}) / 10) as integer)
    ORDER BY k_decile
    """


pair(
    "json_struct_parse_bucket",
    _json_struct,
    tags=("json", "agg"),
    doc="P5/P6 typed struct parse (from_json with declared schema) + bucket agg.",
)
