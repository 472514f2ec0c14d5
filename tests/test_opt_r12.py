"""Focused tests for the round-12 optimization refactors.

Each test pins an operator-internal equivalence the optimization relies
on, independently of the (slower, registry-level) oracle gate:

1. The fused pre/post explode in ``extract_balance_changes`` must produce
   the same relation as the old union-of-two-explodes on every edge the
   union handled row-by-row (null arrays, empty arrays, null elements).
2. The hyperplane bucketing text ``_lsh_buckets`` (plane signs as one
   column per plane, one agg) must give the same buckets on Spark and on
   DuckDB, the engine its oracle runs on — including on a degenerate
   corpus with empty embeddings, null elements and an all-null vector.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from tests.helpers import _mk_embeddings


def _union_entries(tx):
    """The pre-round-12 union-of-two-explodes phase expansion."""

    def _phase(col, tag):
        return tx.select(
            "signature",
            F.lit(tag).alias("phase"),
            F.explode_outer(F.col(col)).alias("b"),
        ).where(F.col("b").isNotNull())

    return _phase("pre", "pre").unionByName(_phase("post", "post"))


def test_fused_phase_explode_matches_union(spark):
    """``extract_balance_changes`` (whose ``entries`` subquery is the
    fused explode) against the union-of-two-explodes expectation, on block
    rows carrying every edge the union handled row by row. Every balance
    indexes a non-watchlisted key, so the wallet is the owner."""
    import json

    from rugpull_data_pipeline_spark.operators.balance import (
        extract_balance_changes,
        parse_blocks,
    )

    def bal(i, mint, owner, amount):
        return {"accountIndex": i, "mint": mint, "owner": owner,
                "uiTokenAmount": {"uiAmountString": amount}}

    def tx(sig, pre, post):
        return {
            "transaction": {"signatures": [sig],
                            "message": {"accountKeys": ["hot", "k1", "k2", "k3"]}},
            "meta": {"loadedAddresses": {"readonly": [], "writable": []},
                     "preTokenBalances": pre, "postTokenBalances": post},
        }

    txs = [
        # both sides populated
        tx("s1", [bal(1, "m1", "o1", "1.0"), bal(2, "m2", "o2", "2.0")],
           [bal(1, "m1", "o1", "0.5")]),
        # null pre, empty post
        tx("s2", None, []),
        # null element inside the array (explode_outer emits, filter drops)
        tx("s3", [None, bal(3, "m3", "o3", "3.0")], None),
        # empty both
        tx("s4", [], []),
    ]
    block = {"result": {"blockTime": 1_700_000_000, "transactions": txs}}
    blocks = parse_blocks(spark.createDataFrame([(json.dumps(block),)], "value string"))

    got = extract_balance_changes(blocks, ["hot"]).select(
        "wallet", "signature", "mint", "pre_balance", "post_balance"
    )
    per_tx = blocks.selectExpr("explode(transactions) AS tx").selectExpr(
        "tx.transaction.signatures[0] AS signature",
        "tx.meta.preTokenBalances AS pre",
        "tx.meta.postTokenBalances AS post",
    )
    amount = F.col("b.uiTokenAmount.uiAmountString")
    expected = (
        _union_entries(per_tx)
        .groupBy(
            F.col("b.owner").alias("wallet"), "signature", F.col("b.mint").alias("mint")
        )
        .agg(
            F.max(F.when(F.col("phase") == "pre", amount)).alias("pre_balance"),
            F.max(F.when(F.col("phase") == "post", amount)).alias("post_balance"),
        )
    )
    rows = sorted(map(tuple, expected.collect()), key=str)
    assert rows == sorted(map(tuple, got.collect()), key=str)
    assert rows == [
        ("o1", "s1", "m1", "1.0", "0.5"),
        ("o2", "s1", "m2", "2.0", None),
        ("o3", "s3", "m3", "3.0", None),
    ]


def _duck_buckets(create_embeddings: str) -> list[tuple]:
    import duckdb

    from rugpull_data_pipeline_spark.functions.scalars import DUCK
    from rugpull_data_pipeline_spark.plans.llm_ops import _lsh_buckets

    con = duckdb.connect()
    con.execute(create_embeddings)
    return sorted(map(tuple, con.execute(_lsh_buckets(DUCK)).fetchall()))


def test_lsh_buckets_df_matches_sql_twin(spark, sf_dir):
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans import registry
    from rugpull_data_pipeline_spark.plans.llm_ops import _lsh_buckets

    views = registry.bind_views(spark, sf_dir)
    spark_rows = sorted(map(tuple, views.sql(_lsh_buckets(SPARK)).collect()))
    duck_rows = _duck_buckets(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    assert spark_rows == duck_rows
    assert len(spark_rows) > 0


def test_lsh_buckets_df_matches_sql_twin_degenerate(hand):
    # empty embedding (absent from buckets), null elements (skipped by SUM),
    # all-null vector (NULL sums -> bit 0 on every plane), plus a normal row
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.llm_ops import _lsh_buckets

    rows = [
        (1, [0.5, -0.25, 1.0], 0),
        (2, [], 0),
        (3, [None, 2.0, None], 0),
        (4, [None, None], 0),
        (5, [-1e-9, 1e-9], 0),
    ]
    _mk_embeddings(hand, rows)
    spark_rows = sorted(map(tuple, hand.sql(_lsh_buckets(SPARK)).collect()))

    def lit(v):
        return "NULL" if v is None else repr(v)

    values = ", ".join(
        f"({i}, [{', '.join(map(lit, e))}]::FLOAT[], {lab})" for i, e, lab in rows
    )
    duck_rows = _duck_buckets(
        "CREATE TABLE embeddings AS SELECT vec_id::BIGINT AS vec_id, embedding, "
        f"label::INT AS label FROM (VALUES {values}) t(vec_id, embedding, label)"
    )
    assert spark_rows == duck_rows
    # vec 2 absent (no exploded rows), vecs 1/3/4/5 present
    assert [r[0] for r in spark_rows] == [1, 3, 4, 5]
