"""Domain-parity queries: the reference's own computation shapes, run over
deterministically generated Solana-shaped block JSON and oracle-checked with
DuckDB's JSON reader on the SAME files.

This is the strongest parity evidence in the registry: the full §3.1 chain
(JSON source parsing each line once at the scan → explode → watchlist
semi-join → owner-replacement → pre/post merge) hash-compared against an
independent engine, end to end. Each step is written once per engine: the
Spark side is ``operators.balance`` (``_EXTRACT_SQL``, ``transactions``)
plus ``_pools`` here, bound to the watchlist through ``watch_addresses``;
the DuckDB side is ``_duck_tx_cte`` plus the balance and pool oracle texts,
which every other Solana oracle nests.

Generation is idempotent and seeded (sources/solana.py), so whichever side
runs first materializes identical bytes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.balance import (
    extract_balance_changes,
    parse_blocks,
    read_blocks,
    transactions,
    watch_addresses,
)
from ..sources.solana import hot_addresses, write_blocks_json
from ..tmpdirs import scratch_dir
from .registry import register

_N_BLOCKS, _SEED, _FILES = 40, 11, 4

# The Spark watchlist, bound as one sorted array everywhere it is read.
_WATCH = watch_addresses(hot_addresses())

# P9 recency filter restated deterministically: keep pools from the most
# recent 300 s of generated block time (blocks span n_blocks*400 s).
_MIN_BT = 1_700_000_000 + (_N_BLOCKS - 8) * 400

# P8: the instruction log of a pool-initializing transaction.
_INIT2 = r"Instruction: initialize2\b"


def _parity_dir() -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"rugpull_solana_parity_{_N_BLOCKS}_{_SEED}_{_FILES}",
    )


def _ensure_blocks() -> str:
    return write_blocks_json(_parity_dir(), _N_BLOCKS, _SEED, _FILES)


def _hot_literal() -> str:
    """The watchlist as a DuckDB list literal, for the oracles."""
    return "[" + ", ".join(f"'{a}'" for a in hot_addresses()) + "]"


def _read_blocks(spark: SparkSession, with_logs: bool = False) -> DataFrame:
    path = _parity_dir()
    # JSON datasource, not text+from_json: one parse per line at the scan
    # (the from_json form re-parsed per collapsed consumer expression).
    return read_blocks(spark, f"{path}/blocks_*.json", with_logs=with_logs)


def _duck_tx_cte(path: str | None = None) -> str:
    """Shared oracle CTEs: blocks → per-tx rows with the concatenated key
    sequence (accountKeys‖readonly‖writable, continuous indexing)."""
    if path is None:
        path = _parity_dir()
    return f"""
    blocks AS (
        SELECT result
        FROM read_json('{path}/blocks_*.json', format='newline_delimited')
    ),
    tx AS (
        SELECT result.blockTime AS block_time, unnest(result.transactions) AS t
        FROM blocks
    ),
    keyed AS (
        SELECT block_time,
            t.transaction.signatures[1] AS signature,
            list_concat(list_concat(
                t.transaction.message.accountKeys,
                t.meta.loadedAddresses.readonly),
                t.meta.loadedAddresses.writable) AS all_keys,
            t.meta.preTokenBalances AS pre,
            t.meta.postTokenBalances AS post,
            array_to_string(t.meta.logMessages, ' ') AS logs
        FROM tx
    )
    """


_BALANCE_ORACLE_TEMPLATE = """
WITH {tx_cte},
hot AS (
    SELECT * FROM keyed
    WHERE len(list_intersect(all_keys, {hot})) > 0
),
entries AS (
    SELECT signature, block_time, all_keys, 'pre' AS phase, unnest(pre) AS b FROM hot
    UNION ALL
    SELECT signature, block_time, all_keys, 'post' AS phase, unnest(post) AS b FROM hot
),
resolved AS (
    SELECT signature, block_time, phase,
        CASE WHEN list_contains({hot}, all_keys[cast(b.accountIndex as int) + 1])
             THEN all_keys[cast(b.accountIndex as int) + 1]
             ELSE b.owner END AS wallet,
        b.mint AS mint,
        b.uiTokenAmount.uiAmountString AS amount
    FROM entries
    WHERE b IS NOT NULL
)
SELECT wallet, signature, mint,
    max(CASE WHEN phase = 'pre' THEN amount END) AS pre_balance,
    max(CASE WHEN phase = 'post' THEN amount END) AS post_balance,
    cast(max(block_time) as bigint) AS ts_epoch
FROM resolved
GROUP BY wallet, signature, mint
ORDER BY signature, wallet, mint
"""


def _balance_oracle(path: str | None = None) -> str:
    return _BALANCE_ORACLE_TEMPLATE.format(
        tx_cte=_duck_tx_cte(path), hot=_hot_literal()
    )


def _balance_rows(out: DataFrame) -> DataFrame:
    """The extraction chain's output in the oracle's six columns."""
    return out.select(
        "wallet",
        "signature",
        "mint",
        "pre_balance",
        "post_balance",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


@register(
    "solana_balance_extract",
    oracle=_balance_oracle(),
    inputs=(_ensure_blocks,),
    tags=("flagship", "json", "domain"),
    doc="The full reference chain (SURVEY.md §3.1) on generated getBlock "
    "JSON, oracle-checked by DuckDB reading the same files: each line "
    "parsed once at the JSON source's scan at a pruned schema, J1 "
    "watchlist semi-join, J2 positional owner replacement, A1 pre/post "
    "merge, W1 block-time stamping.",
)
def solana_balance_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = extract_balance_changes(_read_blocks(spark), _WATCH)
    return _balance_rows(out).orderBy("signature", "wallet", "mint")


def _watch_dir(spark: SparkSession, blocks_dir: str) -> str:
    """The parquet watchlist dimension beside the parity blocks, written on
    first use. No leading underscore: Spark's file listing classifies
    `_`-prefixed paths as hidden metadata and logs a WARN per micro-batch
    re-read."""
    watch_dir = os.path.join(blocks_dir, "watch_dim")
    if not os.path.isdir(watch_dir):
        spark.createDataFrame(
            [(a,) for a in hot_addresses()], "address string"
        ).write.mode("overwrite").parquet(watch_dir)
    return watch_dir


@register(
    "solana_balance_stream",
    oracle=_balance_oracle(),
    inputs=(_ensure_blocks,),
    tags=("flagship", "json", "domain", "streaming"),
    doc="The SAME §3.1 chain run through Structured Streaming (file source "
    "→ foreachBatch micro-batches → per-batch watchlist refresh, ST1/ST5) "
    "over the same generated blocks — and hash-compared against the same "
    "DuckDB oracle as the batch form: the micro-batched execution is "
    "provably equivalent to the batch plan.",
)
def solana_balance_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipelines import stream_balance_pipeline

    blocks_dir = _parity_dir()

    # Sink each micro-batch to a parquet table CLUSTER-side (the S5 Flight
    # sink role) — nothing is collected to the driver; the registered query
    # reads the sink table back, exactly how a downstream consumer would.
    out_dir = scratch_dir(prefix="rugpull_stream_out_")

    def sink(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(out_dir)

    # Fresh checkpoint per invocation: this query is a deterministic replay,
    # not a resumable service (ST6 recovery is exercised in tests).
    q = stream_balance_pipeline(
        spark,
        blocks_dir,
        _watch_dir(spark, blocks_dir),
        sink,
        max_files_per_trigger=1,  # force multiple micro-batches
        checkpoint_dir=scratch_dir(prefix="rugpull_stream_ckpt_"),
    )
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(out_dir)
    return _balance_rows(out).orderBy("signature", "wallet", "mint")


# XL corpus: ~115 MB of multi-hundred-tx blocks — the byte scale the
# reference actually ingests (≈10 MB getBlock payloads at 2.5 blocks/s ⇒
# ≈25 MB/s, BASELINE.md). Sized where fixed per-query overhead no longer
# dominates (SCALE.md curve: 39 MB → 29 MB/s but 150 MB → 63 MB/s; the
# r2 bench at 40 MB measured mostly constant overhead, not parse rate).
# The oracle template is identical; only the path and generation
# parameters differ.
# 32 files = 32 scan partitions — one per local[32] thread (slot-sharding
# analogue; 16 left half the cores idle and cost ~15% wall-clock at bench).
_XL_BLOCKS, _XL_SEED, _XL_FILES, _XL_TX_SCALE = 360, 13, 32, 55


def _xl_dir() -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"rugpull_solana_xl_{_XL_BLOCKS}_{_XL_SEED}_{_XL_FILES}_{_XL_TX_SCALE}",
    )


def _ensure_xl_blocks() -> str:
    return write_blocks_json(
        _xl_dir(), _XL_BLOCKS, _XL_SEED, _XL_FILES, tx_scale=_XL_TX_SCALE
    )


@register(
    "solana_balance_extract_xl",
    oracle=_balance_oracle(_xl_dir()),
    inputs=(_ensure_xl_blocks,),
    tags=("flagship", "json", "domain", "throughput"),
    doc="The §3.1 extraction chain at reference byte scale: ~115 MB of "
    "block JSON (hundreds of txs per block), each line parsed once at the "
    "JSON source's scan at a pruned schema → semi-join → owner replacement "
    "→ pre/post merge. The bench "
    "entry for parse+filter+agg throughput vs the reference's ≈25 MB/s "
    "anchor (BASELINE.md); same DuckDB oracle template as the small corpus.",
)
def solana_balance_extract_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocks = read_blocks(spark, f"{_xl_dir()}/blocks_*.json")
    return _balance_rows(extract_balance_changes(blocks, _WATCH))


def _enrich_dims() -> tuple[list[str], list[str], list[tuple[str, float]]]:
    """Deterministic enrichment dims mirroring the Redis state: the hot set
    split into BASE_VAULTS / QUOTE_VAULTS (SERVER/init_redis_maps.py:10-20)
    and a vault→USD price map (SERVER/flightWithRedisLatest.py:28-52)."""
    hot = hot_addresses()
    base_vaults = hot[: len(hot) // 2]
    quote_vaults = hot[len(hot) // 2 :]
    prices = [(a, round(1.5 * (i + 1), 2)) for i, a in enumerate(hot)]
    return base_vaults, quote_vaults, prices


_ENRICHED_ORACLE_TEMPLATE = """
WITH balances AS (SELECT * FROM ({balance}) t),
prices(vault, usd) AS (VALUES {price_rows})
SELECT b.wallet, b.signature, b.mint,
    b.pre_balance, b.post_balance,
    CASE WHEN b.wallet IN ({base_list}) THEN b.wallet END AS base_vault,
    CASE WHEN b.wallet IN ({quote_list}) THEN b.wallet END AS quote_vault,
    p.usd AS usd_price,
    b.ts_epoch
FROM balances b
LEFT JOIN prices p ON p.vault = b.wallet
ORDER BY b.signature, b.wallet, b.mint
"""


def _enriched_oracle() -> str:
    base_vaults, quote_vaults, prices = _enrich_dims()
    return _ENRICHED_ORACLE_TEMPLATE.format(
        balance=_balance_oracle(),
        price_rows=", ".join(f"('{v}', {p})" for v, p in prices),
        base_list=", ".join(f"'{a}'" for a in base_vaults),
        quote_list=", ".join(f"'{a}'" for a in quote_vaults),
    )


@register(
    "solana_enriched_report",
    oracle=_enriched_oracle(),
    inputs=(_ensure_blocks,),
    tags=("flagship", "json", "domain"),
    doc="The COMPLETE §3.1 chain including the Flight-server enrichment "
    "stage: balance extraction, then P10 watchlist tagging (base/quote "
    "vault membership → tag-or-null, SERVER/server.py:78-91) and the J3 "
    "vault→USD price left join (SERVER/flightWithRedisLatest.py:100-105), "
    "all against broadcast dimension tables — the reference's final output "
    "shape, oracle-checked end to end.",
)
def solana_enriched_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    balances = extract_balance_changes(_read_blocks(spark), _WATCH)

    base_vaults, quote_vaults, prices = _enrich_dims()
    price_dim = spark.createDataFrame(prices, "vault string, usd double")

    out = (
        balances
        # P10: tag-or-null vault membership (isin over broadcast-small sets,
        # exactly Series.where(mask, None)).
        .withColumn(
            "base_vault",
            F.when(F.col("wallet").isin(base_vaults), F.col("wallet")),
        )
        .withColumn(
            "quote_vault",
            F.when(F.col("wallet").isin(quote_vaults), F.col("wallet")),
        )
        # J3: stream-static style price lookup as a broadcast left join.
        .join(F.broadcast(price_dim), F.col("wallet") == F.col("vault"), "left")
        .select(
            "wallet",
            "signature",
            "mint",
            "pre_balance",
            "post_balance",
            "base_vault",
            "quote_vault",
            F.col("usd").alias("usd_price"),
            F.unix_timestamp("ts").alias("ts_epoch"),
        )
        .orderBy("signature", "wallet", "mint")
    )
    return out


# The 10%-vs-last-EMITTED chain is a FOLD over emission history (not a
# lag), so the oracle walks each pair's ordered price sequence with a
# recursive CTE carrying the last-emitted (base, quote) state — the exact
# state machine the streaming kernel runs, restated declaratively. The
# em-condition mirrors the kernel bit for bit, including the signed
# division guard (negative last price never re-emits on that leg).
# Each pair's sequence is pre-packed into MATERIALIZED arrays so every
# recursion step is an O(1) index probe on a k-row frontier (k = number of
# pairs) — a row-level join formulation re-hashes the full price table per
# step and is ~10x slower (>400 s at sf0.1 vs 42 s for this form).
_PRICE_CHANGE_ORACLE = """
WITH RECURSIVE prices AS (
    SELECT 'pair-' || cast(user_id % 5 as varchar) AS pair,
        ts,
        event_id,
        value + 1.0 AS base_price,
        value / 1.5 + 1.0 AS quote_price
    FROM events
),
arr AS MATERIALIZED (
    SELECT pair,
        list(base_price ORDER BY ts, event_id) AS bs,
        list(quote_price ORDER BY ts, event_id) AS qs,
        list(ts ORDER BY ts, event_id) AS tss,
        count(*) AS n
    FROM prices GROUP BY pair
),
walk AS (
    SELECT pair, 1 AS i, bs[1] AS b, qs[1] AS q,
        bs[1] AS lb, qs[1] AS lq, true AS emitted
    FROM arr
    UNION ALL
    SELECT w.pair, w.i + 1, a.bs[w.i + 1], a.qs[w.i + 1],
        CASE WHEN (w.lb <> 0 AND abs(a.bs[w.i + 1] - w.lb) / w.lb > 0.10)
                  OR (w.lq <> 0 AND abs(a.qs[w.i + 1] - w.lq) / w.lq > 0.10)
             THEN a.bs[w.i + 1] ELSE w.lb END,
        CASE WHEN (w.lb <> 0 AND abs(a.bs[w.i + 1] - w.lb) / w.lb > 0.10)
                  OR (w.lq <> 0 AND abs(a.qs[w.i + 1] - w.lq) / w.lq > 0.10)
             THEN a.qs[w.i + 1] ELSE w.lq END,
        (w.lb <> 0 AND abs(a.bs[w.i + 1] - w.lb) / w.lb > 0.10)
            OR (w.lq <> 0 AND abs(a.qs[w.i + 1] - w.lq) / w.lq > 0.10)
    FROM walk w JOIN arr a ON a.pair = w.pair
    WHERE w.i < a.n
)
SELECT w.pair,
    cast(floor(epoch(a.tss[w.i])) as bigint) AS ts_epoch,
    w.b AS base_price, w.q AS quote_price
FROM walk w JOIN arr a ON a.pair = w.pair
WHERE w.emitted
ORDER BY w.pair, ts_epoch
"""


@register(
    "price_change_stateful_stream",
    oracle=_PRICE_CHANGE_ORACLE,
    tags=("streaming", "stateful"),
    doc="P11/ST4: the 10%%-vs-last-EMITTED price-change detector as a "
    "custom stateful streaming operator (applyInPandasWithState, bounded "
    "two-double state per pair). The threshold chain is a fold over "
    "emission history, not a lag — the oracle replays the identical fold "
    "as a recursive CTE over each pair's ordered walk; the Python-oracle "
    "equivalence is additionally tested in "
    "tests/test_streaming.py::test_stateful_price_change_10pct.",
)
def price_change_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stream_infra import _landed, _prices, _to_memory
    from ..streaming.pipelines import price_change_events

    emitted = _to_memory(price_change_events(_landed(_prices(spark))), "append")
    return emitted.select(
        "pair",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "base_price",
        "quote_price",
    ).orderBy("pair", "ts_epoch")


_POOL_ORACLE_TEMPLATE = """
WITH {tx_cte}
SELECT signature,
    cast(block_time as bigint) AS ts_epoch,
    len(all_keys) AS n_keys,
    len(list_intersect(all_keys, {hot})) AS n_hot_keys
FROM keyed
WHERE regexp_matches(logs, 'Instruction: initialize2\\b')
  AND block_time >= {min_bt}
ORDER BY signature
"""


def _pool_oracle() -> str:
    return _POOL_ORACLE_TEMPLATE.format(
        tx_cte=_duck_tx_cte(), hot=_hot_literal(), min_bt=_MIN_BT
    )


def _pools(tx: DataFrame) -> DataFrame:
    """P8 instruction-log regex + P9 recency + key-stat projection over
    ``transactions`` rows: the pool-detection predicate chain
    (SERVER/combined_subscriber.py:120-147, 62-65), the one pool query of
    the batch detector and of both streaming pool jobs."""
    return tx.where(
        F.col("logs").rlike(_INIT2) & (F.col("block_time") >= F.lit(_MIN_BT))
    ).select(
        "signature",
        F.col("block_time").cast("long").alias("ts_epoch"),
        F.size("all_keys").cast("long").alias("n_keys"),
        F.size(F.array_intersect("all_keys", F.lit(_WATCH)))
        .cast("long")
        .alias("n_hot_keys"),
    )


@register(
    "solana_pool_detection",
    oracle=_pool_oracle(),
    inputs=(_ensure_blocks,),
    tags=("json", "domain"),
    doc="New-pool detection prefilter (SURVEY.md §3.2): P8 instruction-log "
    "regex over array_join(logMessages) + P9 recency predicate + key "
    "projection for the Raydium lookup (S8, mocked).",
)
def solana_pool_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transactions(_read_blocks(spark, with_logs=True))
    return _pools(tx).orderBy("signature")


_HOTCOUNT_ORACLE_TEMPLATE = """
WITH {tx_cte}
SELECT cast(block_time as bigint) AS ts_epoch,
    count(*) AS n_tx,
    cast(sum(CASE WHEN len(list_intersect(all_keys, {hot})) > 0
             THEN 1 ELSE 0 END) as bigint) AS n_hot_tx
FROM keyed
GROUP BY block_time
ORDER BY ts_epoch
"""


@register(
    "solana_hot_tx_count",
    oracle=_HOTCOUNT_ORACLE_TEMPLATE.format(
        tx_cte=_duck_tx_cte(), hot=_hot_literal()
    ),
    inputs=(_ensure_blocks,),
    tags=("json", "domain", "agg"),
    doc="A3 per-block matched-transaction counter "
    "(RECEIVER/parser_main.cpp:121,133) as a per-block aggregate.",
)
def solana_hot_tx_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transactions(_read_blocks(spark))
    return (
        tx.groupBy(F.col("block_time").cast("long").alias("ts_epoch"))
        .agg(
            F.count(F.lit(1)).alias("n_tx"),
            F.sum(
                F.when(
                    F.size(F.array_intersect("all_keys", F.lit(_WATCH))) > 0, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_hot_tx"),
        )
        .orderBy("ts_epoch")
    )


_RUGPULL_ORACLE_TEMPLATE = """
WITH bal AS (SELECT * FROM ({balance}) t),
vault AS (
    SELECT mint,
        cast(count(*) as bigint) AS n_rows,
        cast(count(DISTINCT wallet) as bigint) AS n_vault_wallets,
        sum(cast(pre_balance as decimal(38,6))) AS sp,
        sum(cast(post_balance as decimal(38,6))) AS spo
    FROM bal
    WHERE list_contains({hot}, wallet)
    GROUP BY mint
)
SELECT mint, n_rows, n_vault_wallets,
    round(cast(sp as double), 6) AS total_pre,
    round(cast(spo as double), 6) AS total_post,
    round(cast(sp - spo as double) / cast(nullif(sp, 0) as double), 6) AS drain_pct,
    cast(CASE WHEN cast(sp - spo as double) / cast(nullif(sp, 0) as double) > 0.1
         THEN 1 ELSE 0 END as int) AS rug_flag
FROM vault
ORDER BY mint
"""


@register(
    "solana_rugpull_score",
    oracle=_RUGPULL_ORACLE_TEMPLATE.format(
        balance=_balance_oracle(), hot=_hot_literal()
    ),
    inputs=(_ensure_blocks,),
    tags=("json", "domain", "agg", "flagship"),
    doc="The detection composite the whole reference pipeline exists to "
    "feed (its stages end at the enriched balance table; the rug signal is "
    "the consumer): per mint, the liquidity drained from watchlisted pool "
    "vaults = (sum pre - sum post) / sum pre over J2-resolved vault rows, "
    "decimal-exact so the flag threshold cannot flip between engines. "
    "One groupBy(mint) shuffle over the extraction chain at any scale.",
)
def solana_rugpull_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = extract_balance_changes(_read_blocks(spark), _WATCH)
    vault = (
        bal.where(F.array_contains(F.lit(_WATCH), F.col("wallet")))
        .groupBy("mint")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("wallet").alias("n_vault_wallets"),
            F.sum(F.col("pre_balance").cast("decimal(38,6)")).alias("sp"),
            F.sum(F.col("post_balance").cast("decimal(38,6)")).alias("spo"),
        )
    )
    drain = F.expr("cast(sp - spo as double) / cast(nullif(sp, 0) as double)")
    return vault.select(
        "mint",
        "n_rows",
        "n_vault_wallets",
        F.round(F.col("sp").cast("double"), 6).alias("total_pre"),
        F.round(F.col("spo").cast("double"), 6).alias("total_post"),
        F.round(drain, 6).alias("drain_pct"),
        F.when(drain > 0.1, 1).otherwise(0).cast("int").alias("rug_flag"),
    ).orderBy("mint")


# ---------------------------------------------------------------------------
# S1 as a Spark Python DataSource: the extraction chain fed by the custom
# `solana_blocks` source (sources/block_datasource.py) instead of a file
# landing zone. The DuckDB oracle reads a file corpus generated with the SAME
# (n_blocks, seed) — the datasource emits byte-identical payloads (proven in
# tests/test_python_datasource.py), so the full chain gets a real oracle even
# though DuckDB cannot speak the datasource protocol itself.
# ---------------------------------------------------------------------------

_DS_BLOCKS, _DS_SEED, _DS_WORKERS = 24, 13, 3


def _ds_dir() -> str:
    return os.path.join(
        tempfile.gettempdir(), f"rugpull_solana_ds_{_DS_BLOCKS}_{_DS_SEED}"
    )


def _ensure_ds_blocks() -> str:
    return write_blocks_json(_ds_dir(), _DS_BLOCKS, _DS_SEED, _DS_WORKERS)


@register(
    "solana_balance_from_datasource",
    oracle=_balance_oracle(_ds_dir()),
    inputs=(_ensure_ds_blocks,),
    tags=("flagship", "source", "domain"),
    doc="S1 re-expressed as a Spark Python DataSource: batch read of the "
    "`solana_blocks` custom source (worker shards = slot % n_workers, "
    "SERVER/subscriber.py:111) piped into the unchanged §3.1 extraction "
    "chain; oracle = DuckDB over a byte-identical generated file corpus.",
)
def solana_balance_from_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.block_datasource import register_block_datasource

    register_block_datasource(spark)
    raw = (
        spark.read.format("solana_blocks")
        .option("n_blocks", _DS_BLOCKS)
        .option("n_slots", _DS_BLOCKS)
        .option("n_workers", _DS_WORKERS)
        # first_slot ≡ 0 (mod n_blocks): each block appears exactly once.
        .option("first_slot", 10 * _DS_BLOCKS)
        .option("seed", _DS_SEED)
        .load()
    )
    out = extract_balance_changes(parse_blocks(raw, "payload"), _WATCH)
    return _balance_rows(out).orderBy("signature", "wallet", "mint")
