"""The flagship extraction chain: raw block JSON → balance-change relation.

Spark-first restatement of the reference's engine core (SURVEY.md §3.1):

    SIMD structural index + skip-map + FSM extractors     → JSON source at the scan, one
    (RECEIVER/stage1_simd.cpp:17-130,                        parse per block at a pruned
     stage2_processing.cpp:15-33,192-251)                   schema (batch and stream)
    hot-address xxHash semi-join filter (J1, :358-364)    → arrays_overlap vs the :watch array
                                                            parameter (a driver-held value)
    index→address map + owner replacement (J2, :366-389,  → try_element_at on the concatenated
     applied :160-167)                                      key array + CASE precedence
    per-(owner,mint) pre/post hash agg (A1, :149-174)     → GROUP BY (signature, wallet, mint)
                                                            conditional agg
    blockTime stamping (W1, file_utils.cpp:68-88)         → to_timestamp(from_unixtime(blockTime))

The chain after the scan is one Spark SQL statement (``_EXTRACT_SQL``).

Output matches the reference's one output relation: all-utf8
{wallet, signature, mint, pre_balance, post_balance} + ts
(RECEIVER/stage2_processing.cpp:254-262; SERVER/server.py:44-73). Balances
stay decimal *strings* end-to-end exactly like the reference (parsed to
DecimalType only in math contexts) — crypto amounts exceed double precision.

Scale design: the only wide operation is the final groupBy on
(signature, wallet, mint) — partial aggregation runs map-side. The watchlist
is a value, not a relation: it is small by construction, like the
reference's per-thread hash set (stage2_processing.cpp:358-364), so the
driver holds it and binds it as one sorted array literal, which travels in
each stage's task binary (broadcast once per stage) and costs no join, no
collect job and no broadcast exchange. Everything else is narrow
(explode/filter/project) and fuses into one whole-stage-codegen span per
stage; an input that is one partition needs no exchange at all (see
``streaming.pipelines``).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SOLANA_BLOCK


def parse_blocks(raw: DataFrame, payload_col: str = "value") -> DataFrame:
    """Raw JSON payload strings → typed block rows (tight, nested-pruned
    schema: only the five arrays the reference materializes are declared).

    Only for payloads that are already a DataFrame column (the
    ``solana_blocks`` DataSource). Block FILES go through ``read_blocks`` /
    ``read_block_stream``: ``from_json`` is a scalar expression, so every
    optimizer rule that collapses projections or infers generator filters
    duplicates the full parse per consumer expression (measured: 2-4 Jackson
    passes per row on the extraction chain), while the JSON datasource
    parses each line exactly once at the scan."""
    return raw.select(
        F.from_json(F.col(payload_col), SOLANA_BLOCK).alias("block")
    ).select("block.result.*")


def _drop_tx_meta_field(name: str) -> T.StructType:
    """SOLANA_BLOCK with ``transactions[].meta.<name>`` removed — a manually
    pruned scan schema. The JSON datasource only prunes TOP-LEVEL columns
    (nested-schema pruning is parquet/ORC-level), so consumers that never
    touch a heavy nested field must not declare it to the scan."""
    tx_struct: T.StructType = SOLANA_BLOCK["result"].dataType["transactions"].dataType.elementType
    meta: T.StructType = tx_struct["meta"].dataType
    # A renamed field must fail loudly: silently keeping the heavy field
    # would quietly regress the pruned-scan optimization (round-12 ADVICE).
    assert name in meta.fieldNames(), f"{name!r} not in meta: {meta.fieldNames()}"
    meta_pruned = T.StructType([f for f in meta.fields if f.name != name])
    tx_pruned = T.StructType(
        [f if f.name != "meta" else T.StructField("meta", meta_pruned) for f in tx_struct.fields]
    )
    result: T.StructType = SOLANA_BLOCK["result"].dataType
    result_pruned = T.StructType(
        [
            f
            if f.name != "transactions"
            else T.StructField("transactions", T.ArrayType(tx_pruned))
            for f in result.fields
        ]
    )
    return T.StructType([T.StructField("result", result_pruned)])


# The balance-extraction chain never reads logMessages; keeping it out of the
# declared scan schema saves materializing the two log strings per tx.
_BALANCE_BLOCK = _drop_tx_meta_field("logMessages")


def read_blocks(
    spark: SparkSession, path_glob: str, with_logs: bool = False
) -> DataFrame:
    """Block FILES → typed block rows via the JSON datasource: one Jackson
    pass per line materializes the (manually pruned) schema at the scan.

    The previous ``spark.read.text + from_json`` shape re-evaluated the parse
    in every expression the optimizer collapsed it into — the inferred
    generator filter (``size(transactions) > 0 AND isnotnull``) plus the
    collapsed projection each carried their own ``from_json``, so the chain
    paid 2-4 full parses per row. ``with_logs=True`` keeps logMessages for
    the instruction-log consumers (P8)."""
    schema = SOLANA_BLOCK if with_logs else _BALANCE_BLOCK
    return spark.read.schema(schema).json(path_glob).select("result.*")


def read_block_stream(
    spark: SparkSession,
    path_glob: str,
    with_logs: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The streaming twin of ``read_blocks``: the JSON file source parses
    each landed line once at the scan, at the same pruned schema, so every
    micro-batch arrives as typed block rows."""
    reader = spark.readStream.schema(SOLANA_BLOCK if with_logs else _BALANCE_BLOCK)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path_glob).select("result.*")


# A transaction ``tx``'s key sequence (the ``keyed`` level of
# ``_EXTRACT_SQL`` says how it is indexed), written once for the extraction
# chain and ``transactions``.
_KEYS = """concat(
            coalesce(tx.transaction.message.accountKeys, array()),
            coalesce(tx.meta.loadedAddresses.readonly, array()),
            coalesce(tx.meta.loadedAddresses.writable, array()))"""

# The DuckDB oracle's CTE chain as one Spark SQL statement, analysed once.
# Built from DataFrame and Column calls, the same plan takes ~90 py4j round
# trips that each re-analyse the growing plan, which on a one-block stream
# micro-batch costs more than the scan. The steps nest as subqueries, read
# from the innermost out, rather than chain as ``WITH`` CTEs: a stream
# analyses the statement once per micro-batch, and the CTE form costs more
# to parse, analyse and optimize for the same executed plan (one 0.7 MB
# block, local[2] under C1 on a 4-vCPU host: ``sql()`` ≈70 → 52 ms,
# optimization ≈24 → 17 ms).
_EXTRACT_SQL = f"""
-- A1: per-(tx, wallet, mint) pre/post merge; a row exists only when the
-- pre or the post side had an entry (stage2_processing.cpp:399-401).
SELECT wallet, signature, mint,
    max(CASE WHEN phase = 'pre' THEN amount END) AS pre_balance,
    max(CASE WHEN phase = 'post' THEN amount END) AS post_balance,
    max(ts) AS ts
FROM (
    -- J2: when the address at accountIndex is watchlisted it is the pool
    -- vault and replaces the owner (stage2_processing.cpp:160-167).
    -- try_element_at: ANSI element_at throws on an out-of-range index; a
    -- malformed tx must keep its owner instead.
    SELECT ts, signature, phase,
        CASE WHEN array_contains(:watch, try_element_at(all_keys, b.accountIndex + 1))
             THEN try_element_at(all_keys, b.accountIndex + 1)
             ELSE b.owner END AS wallet,
        b.mint AS mint,
        b.uiTokenAmount.uiAmountString AS amount
    FROM (
        -- The pre and post passes (stage2_processing.cpp:391-403) as ONE
        -- generator over phase-tagged elements: a UNION ALL of two explodes
        -- would plan the scan and the J1 filter twice.
        SELECT ts, signature, all_keys, e.phase AS phase, e.b AS b
        FROM (
            SELECT ts, signature, all_keys,
                explode(concat(
                    transform(coalesce(pre, array()),
                        b -> struct('pre' AS phase, b AS b)),
                    transform(coalesce(post, array()),
                        b -> struct('post' AS phase, b AS b)))) AS e
            FROM (
                -- J1: keep the tx iff any key is watchlisted
                -- (stage2_processing.cpp:358-364). The watchlist is the
                -- :watch array parameter, so the filter is narrow and runs
                -- before any balance is exploded.
                SELECT * FROM (
                    -- One concatenated key sequence with continuous
                    -- indexing: accountKeys, then loadedAddresses readonly,
                    -- then writable (stage2_processing.cpp:366-389).
                    SELECT ts,
                        tx.transaction.signatures[0] AS signature,
                        {_KEYS} AS all_keys,
                        tx.meta.preTokenBalances AS pre,
                        tx.meta.postTokenBalances AS post
                    FROM (
                        SELECT to_timestamp(from_unixtime(blockTime)) AS ts,
                            explode(transactions) AS tx
                        FROM {{blocks}}
                    ) tx
                ) keyed
                WHERE arrays_overlap(all_keys, :watch)
            ) hot
        )
        WHERE e.b IS NOT NULL
    ) entries
) resolved
GROUP BY signature, wallet, mint
"""


def transactions(blocks: DataFrame) -> DataFrame:
    """Typed block rows (batch or stream) → one row per transaction:
    ``signature``, ``block_time``, the key sequence ``all_keys`` and, when
    the scan declared logMessages (``with_logs=True``), the space-joined
    instruction log ``logs``. The per-transaction input of the pool
    detector and the matched-transaction counter."""
    tx = blocks.select(
        F.col("blockTime").alias("block_time"), F.explode("transactions").alias("tx")
    )
    cols = [
        "tx.transaction.signatures[0] AS signature",
        "block_time",
        f"{_KEYS} AS all_keys",
    ]
    if "logMessages" in tx.schema["tx"].dataType["meta"].dataType.names:
        cols.append("array_join(tx.meta.logMessages, ' ') AS logs")
    return tx.selectExpr(*cols)


def watch_addresses(watchlist: DataFrame | Iterable[str]) -> list[str]:
    """A watchlist → the addresses bound as ``:watch``: nulls dropped and
    duplicates collapsed (``collect_set`` semantics), sorted so the bound
    literal, and so the plan, is deterministic. An ``address`` DataFrame is
    collected once on the driver. Spark rejects a null inside an array SQL
    argument (INVALID_SQL_ARG), so the null must go before binding."""
    if isinstance(watchlist, DataFrame):
        watchlist = (r[0] for r in watchlist.select("address").collect())
    return sorted(set(watchlist) - {None})


def extract_balance_changes(
    blocks: DataFrame, watchlist: DataFrame | Iterable[str]
) -> DataFrame:
    """Typed block rows (result.*) + watchlist → balance changes.

    ``watchlist`` is a sequence of addresses or an ``address`` DataFrame,
    which is collected here; a caller that extracts repeatedly against the
    same dimension collects it once itself (``watch_addresses``).

    Keeps the reference's cheap-check-before-parse shape (SURVEY.md §4):
    transactions are dropped by the watchlist filter *before* the
    token-balance explode pays for itself. One parameterized statement,
    so the plan is analysed once.
    """
    return blocks.sparkSession.sql(
        _EXTRACT_SQL, {"watch": watch_addresses(watchlist)}, blocks=blocks
    )
