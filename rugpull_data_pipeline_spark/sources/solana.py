"""Deterministic synthetic Solana `getBlock` payloads.

Generates block JSON with the exact nested shape the reference parses
(``SERVER/subscriber.py:34-55`` fetches it; ``RECEIVER/stage2_processing.cpp``
extracts accountKeys / loadedAddresses.readonly / loadedAddresses.writable /
pre/postTokenBalances per transaction). Used by tests and the parity query to
exercise the from_json extraction chain without any live RPC.

Determinism: seeded ``random.Random``; same (n_blocks, seed) → byte-identical
files, so a Spark query and a DuckDB oracle can both read the generated path
in either order.
"""

from __future__ import annotations

import json
import os
import random

from ..tmpdirs import published_dir

N_HOT = 8
N_COLD = 40

# Base58-looking, deterministic address pool.
def _addr(prefix: str, i: int) -> str:
    return f"{prefix}{i:02d}" + "x" * 30


def hot_addresses() -> list[str]:
    """The watchlist (pool vault) addresses — RECEIVER/file_utils.cpp:3-36."""
    return [_addr("HOT", i) for i in range(N_HOT)]


def cold_addresses() -> list[str]:
    return [_addr("CLD", i) for i in range(N_COLD)]


def mints() -> list[str]:
    return [_addr("MNT", i) for i in range(6)]


def generate_blocks(
    n_blocks: int = 20, seed: int = 7, tx_scale: int = 1
) -> list[dict]:
    """Build getBlock-shaped dicts with hot/cold txs and edge cases:

    - txs with no watchlisted key (must be filtered by J1)
    - balance entries whose accountIndex points at a hot address (J2 owner
      replacement) vs a cold one (owner kept)
    - missing pre or post entry for an (owner, mint) (A1 emits with null)
    - missing uiAmountString (null balance, P6 tolerance)

    ``tx_scale`` multiplies the per-block transaction count (default 1 keeps
    historical corpora byte-identical) — used to build the multi-MB blocks
    the reference actually ingests (~10 MB getBlock payloads,
    SERVER/subscriber.py:13-16) for throughput benchmarking.
    """
    rng = random.Random(seed)
    hot, cold, mnts = hot_addresses(), cold_addresses(), mints()
    blocks = []
    for b in range(n_blocks):
        block_time = 1_700_000_000 + b * 400  # ~2.5 blocks/s cadence
        txs = []
        for t in range(rng.randint(3, 8) * tx_scale):
            n_keys = rng.randint(3, 6)
            keys = rng.sample(cold, n_keys)
            is_hot = rng.random() < 0.6
            if is_hot:
                # splice watchlisted addresses into one of the three arrays
                keys[rng.randrange(n_keys)] = rng.choice(hot)
            readonly = rng.sample(cold, rng.randint(0, 2))
            writable = rng.sample(cold, rng.randint(0, 2))
            if is_hot and rng.random() < 0.3:
                writable.append(rng.choice(hot))
            all_keys = keys + readonly + writable
            balances_pre, balances_post = [], []
            owners_used = set()
            for _ in range(rng.randint(0, 4)):
                idx = rng.randrange(len(all_keys))
                owner = rng.choice(cold)
                mint = rng.choice(mnts)
                if (owner, mint) in owners_used:
                    continue
                owners_used.add((owner, mint))
                entry = {
                    "accountIndex": idx,
                    "mint": mint,
                    "owner": owner,
                    "uiTokenAmount": {
                        "uiAmountString": f"{rng.randint(0, 10_000_000)}.{rng.randint(0, 999999):06d}"
                    },
                }
                post = {
                    "accountIndex": idx,
                    "mint": mint,
                    "owner": owner,
                    "uiTokenAmount": {
                        "uiAmountString": f"{rng.randint(0, 10_000_000)}.{rng.randint(0, 999999):06d}"
                    },
                }
                r = rng.random()
                if r < 0.15:
                    balances_pre.append(entry)  # post missing
                elif r < 0.3:
                    balances_post.append(post)  # pre missing
                elif r < 0.4:
                    entry = dict(entry)
                    entry["uiTokenAmount"] = {}  # missing amount → null
                    balances_pre.append(entry)
                    balances_post.append(post)
                else:
                    balances_pre.append(entry)
                    balances_post.append(post)
            txs.append(
                {
                    "transaction": {
                        "message": {"accountKeys": keys},
                        "signatures": [f"sig{b:04d}_{t:02d}"],
                    },
                    "meta": {
                        "loadedAddresses": {"readonly": readonly, "writable": writable},
                        "preTokenBalances": balances_pre,
                        "postTokenBalances": balances_post,
                        "logMessages": [
                            f"Program prog{rng.randrange(3)} invoke [1]",
                            f"Instruction: {'initialize2' if rng.random() < 0.2 else 'transfer'}",
                        ],
                    },
                }
            )
        blocks.append(
            {"result": {"blockTime": block_time, "parentSlot": 1000 + b, "transactions": txs}}
        )
    return blocks


def write_blocks_json(
    out_dir: str, n_blocks: int = 20, seed: int = 7, files: int = 4,
    file_offset: int = 0, tx_scale: int = 1,
) -> str:
    """Write blocks as newline-delimited JSON split across ``files`` files
    (→ ``files`` source partitions, the slot-sharding analogue of
    ``SERVER/subscriber.py:111``). Idempotent for a given (n_blocks, seed).
    ``file_offset`` names files starting at that index so a later batch can
    land NEW files next to existing ones (file-stream arrival semantics).
    The files are published atomically (``tmpdirs.published_dir``), the
    marker last, so concurrent first users never read a partial file."""
    marker = f".done_{n_blocks}_{seed}_{files}_{file_offset}_{tx_scale}"
    if os.path.exists(os.path.join(out_dir, marker)):
        return out_dir
    blocks = generate_blocks(n_blocks, seed, tx_scale)
    with published_dir(out_dir) as tmp:
        for f in range(files):
            path = os.path.join(tmp, f"blocks_{f + file_offset:02d}.json")
            with open(path, "w") as fh:
                for i, blk in enumerate(blocks):
                    if i % files == f:
                        fh.write(json.dumps(blk, separators=(",", ":")) + "\n")
        with open(os.path.join(tmp, marker), "w") as fh:
            fh.write("ok")
    return out_dir
