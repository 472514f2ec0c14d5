"""Scalar SQL fragments shared between Spark queries and DuckDB oracles.

The correctness gate hash-compares Spark results against DuckDB running
"the same" SQL, so every numeric expression must be *bit-identical* across
engines regardless of row order. Two building blocks make that true:

- ``dsum``: double sums are order-dependent in IEEE float; casting each input
  to DECIMAL(38,6) first makes the sum exact integer arithmetic (identical in
  any order and in both engines), then one deterministic decimal→double cast.
- ``portable_hash64``: both engines agree on md5; a 15-hex-digit prefix parsed
  as an integer gives a portable unsigned-60-bit hash for minhash/simhash
  families (the role xxHash64 plays in the reference:
  ``RECEIVER/stage2_processing.cpp:183``, ``RECEIVER/file_utils.cpp:18`` —
  membership/sketch results only need *a* consistent hash, not that one).

Fragments take a dialect argument ``d`` ∈ {"spark", "duck"}; where the
engines already agree the same string is returned for both.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"


def dsum(expr: str, d: str = SPARK, p: int = 38) -> str:
    """Order-independent, engine-identical SUM of a double expression.

    ``p`` narrows the per-term decimal width where the value domain is
    provably bounded: casting to decimal(p,6) rounds identically to
    decimal(38,6) (same HALF_UP at scale 6) whenever |term| < 10^(p-17)
    × 10^11 — i.e. p=27 is exact for any |term| < 10^21 and sums below
    10^31 — while shaving the CheckOverflow/arithmetic width on the hot
    aggregate buffer (guide §2.3 narrower types; r13 measured q01
    1.142→1.067 s median with 6 such aggregates)."""
    return f"cast(sum(cast(({expr}) as decimal({p},6))) as double)"


def davg(expr: str, d: str = SPARK, p: int = 38) -> str:
    """Order-independent AVG: exact decimal sum divided by count, in double."""
    return (
        f"cast(sum(cast(({expr}) as decimal({p},6))) as double)"
        f" / cast(count({expr}) as double)"
    )


def isum(expr: str, d: str = SPARK) -> str:
    """Integer SUM pinned to bigint (DuckDB widens int sums to HUGEINT)."""
    return f"cast(sum({expr}) as bigint)"


def portable_hash64(expr: str, d: str = SPARK, seed: str | None = None) -> str:
    """60-bit integer hash of a string expression, identical in both engines.

    ``seed`` (a SQL string expression) is concatenated in front, giving the
    independent hash families minhash needs.
    """
    arg = f"concat({seed}, '|', {expr})" if seed is not None else expr
    if d == SPARK:
        return f"cast(conv(substring(md5({arg}), 1, 15), 16, 10) as bigint)"
    return f"cast(('0x' || substring(md5({arg}), 1, 15)) as bigint)"


def fmt_date(expr: str, d: str = SPARK) -> str:
    """Render a timestamp as 'YYYY-MM-DD' (string group keys avoid tz drift)."""
    if d == SPARK:
        return f"date_format({expr}, 'yyyy-MM-dd')"
    return f"strftime({expr}, '%Y-%m-%d')"


def fmt_month(expr: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"date_format({expr}, 'yyyy-MM')"
    return f"strftime({expr}, '%Y-%m')"


def fmt_ts(expr: str, d: str = SPARK) -> str:
    """Render a timestamp as 'YYYY-MM-DD hh:mm:ss' (second precision)."""
    if d == SPARK:
        return f"date_format({expr}, 'yyyy-MM-dd HH:mm:ss')"
    return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"


def epoch_s(expr: str, d: str = SPARK) -> str:
    """Timestamp → integer epoch seconds.

    Spark's unix_timestamp TRUNCATES fractional seconds; DuckDB's
    epoch()::BIGINT ROUNDS them — a ±1 s divergence that flips boundary
    predicates (found at sf0.1 on the 3600 s sessionization gap). floor()
    before the cast makes DuckDB truncate too."""
    if d == SPARK:
        return f"unix_timestamp({expr})"
    return f"cast(floor(epoch({expr})) as bigint)"


def rlike(expr: str, raw_pattern: str, d: str = SPARK) -> str:
    """Regex-match predicate; ``raw_pattern`` is the regex itself (unquoted).

    Spark SQL string literals consume backslash escapes, DuckDB's do not —
    quote per dialect so ``\\s`` means the same thing in both.
    """
    if d == SPARK:
        lit = "'" + raw_pattern.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return f"({expr} rlike {lit})"
    lit = "'" + raw_pattern.replace("'", "''") + "'"
    return f"regexp_matches({expr}, {lit})"


def json_get(expr: str, key: str, d: str = SPARK) -> str:
    """Extract a top-level JSON field as a string (reference P4:
    ``RECEIVER/file_utils.cpp:68-88``; JSON navigation
    ``SERVER/ingest_prices.py:24-40``)."""
    if d == SPARK:
        return f"get_json_object({expr}, '$.{key}')"
    return f"json_extract_string({expr}, '$.{key}')"


def shift_right(expr: str, bits: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"shiftright({expr}, cast({bits} as int))"
    return f"({expr} >> ({bits}))"


def shift_left(expr: str, bits: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"shiftleft({expr}, cast({bits} as int))"
    return f"({expr} << ({bits}))"


def bit_xor2(a: str, b: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"({a} ^ {b})"
    return f"xor({a}, {b})"


def bitcount(expr: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"bit_count({expr})"
    return f"bit_count({expr})"


def idiv(a: str, b: str, d: str = SPARK) -> str:
    """Integer division (both operands integer-typed)."""
    if d == SPARK:
        return f"(({a}) div ({b}))"
    return f"(({a}) // ({b}))"


def re_replace(expr: str, raw_pattern: str, repl: str, d: str = SPARK) -> str:
    """regexp_replace with dialect-correct escaping of the pattern literal.

    ``raw_pattern`` is the regex itself (unquoted); ``repl`` is the quoted
    SQL string for the replacement. Spark string literals consume
    backslashes, DuckDB's do not (same rule as :func:`rlike`).
    """
    if d == SPARK:
        lit = "'" + raw_pattern.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else:
        lit = "'" + raw_pattern.replace("'", "''") + "'"
    return f"regexp_replace({expr}, {lit}, {repl})"


def int_vec(expr: str, d: str = SPARK, scale: str = "1000000.0") -> str:
    """Float array → exact integer array (floor at fixed scale).

    float→double cast is exact, one double multiply is IEEE-identical in
    both engines, floor is deterministic — so integer vector math downstream
    (distances, quantization) is bit-identical across engines, unlike float
    accumulation which is order- and engine-dependent.
    """
    lam = f"x -> cast(floor(cast(x as double) * {scale}) as bigint)"
    if d == SPARK:
        return f"transform({expr}, {lam})"
    return f"list_transform({expr}, {lam})"


def split_ws(expr: str, d: str = SPARK) -> str:
    """Split on single spaces → array of tokens."""
    if d == SPARK:
        return f"split({expr}, ' ')"
    return f"string_split({expr}, ' ')"


def toks(d: str = SPARK) -> str:
    """The ``text`` column's single-space tokens."""
    return split_ws("text", d)


def arr_len(expr: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"size({expr})"
    return f"len({expr})"


def arr_distinct(expr: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"array_distinct({expr})"
    return f"list_distinct({expr})"


def arr_sort(expr: str, d: str = SPARK) -> str:
    if d == SPARK:
        return f"array_sort({expr})"
    return f"list_sort({expr})"


def arr_join(expr: str, sep: str = "' '", d: str = SPARK) -> str:
    """Engine-identical array→string join. DuckDB's array_to_string returns
    NULL for an EMPTY list where Spark's array_join returns '' (hit by the
    empty-text sweep on zero-token documents); the CASE pins DuckDB to
    Spark's semantics while keeping NULL-list → NULL."""
    if d == SPARK:
        return f"array_join({expr}, {sep})"
    return (
        f"(CASE WHEN ({expr}) IS NULL THEN NULL "
        f"ELSE coalesce(array_to_string({expr}, {sep}), '') END)"
    )


def arr_slice(expr: str, start: str, length: str, d: str = SPARK) -> str:
    """1-based array slice of ``length`` elements starting at ``start``.

    Spark: slice(arr, start, length). DuckDB: arr[start : start+length-1]
    (inclusive bounds). Both clamp past-the-end instead of erroring."""
    if d == SPARK:
        return f"slice({expr}, {start}, {length})"
    return f"({expr})[({start}) : (({start}) + ({length}) - 1)]"


def explode_seq(var: str, lo: str, hi: str, d: str = SPARK) -> str:
    """Lateral clause producing one row per integer in [lo, hi] as ``var``.

    Append after a FROM item: Spark LATERAL VIEW explode(sequence(..)),
    DuckDB unnest(range(..)) (range is end-exclusive, hence the +1)."""
    if d == SPARK:
        return f"LATERAL VIEW explode(sequence({lo}, {hi})) t_{var} AS {var}"
    return f", unnest(range(({lo}), ({hi}) + 1)) AS t_{var}({var})"


def gram_concat(arr: str, idx: str, k: int, d: str = SPARK) -> str:
    """Space-joined k-gram starting at 1-based ``idx``: the element-access
    form of ``concat_ws(' ', slice(arr, idx, k))``.

    The slice allocates a k-element array per position before joining;
    direct element access builds the same string with no per-position
    allocation (r13: isolated shingle stage 0.606 -> 0.512 s at sf0.1).
    Caller must guarantee idx + k - 1 <= size(arr): under ANSI mode an
    out-of-bounds element_at raises where slice would clamp, and concat
    (unlike concat_ws) propagates NULLs instead of skipping them.
    """
    if d == SPARK:
        parts = ", ' ', ".join(
            f"element_at({arr}, {idx} + {j})" if j else f"element_at({arr}, {idx})"
            for j in range(k)
        )
        return f"concat({parts})"
    return " || ' ' || ".join(
        f"{arr}[{idx} + {j}]" if j else f"{arr}[{idx}]" for j in range(k)
    )
