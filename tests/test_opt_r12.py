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


def _old_entries(tx):
    """The pre-round-12 union-of-two-explodes phase expansion."""

    def _phase(col, tag):
        return tx.select(
            "ts",
            "signature",
            F.lit(tag).alias("phase"),
            F.explode_outer(F.col(col)).alias("b"),
        ).where(F.col("b").isNotNull())

    return _phase("pre", "pre").unionByName(_phase("post", "post"))


def _new_entries(tx):
    """The fused single-generator phase expansion (operators/balance.py)."""

    def _tagged(col, tag):
        return F.transform(
            F.coalesce(F.col(col), F.array()),
            lambda b: F.struct(F.lit(tag).alias("phase"), b.alias("b")),
        )

    return (
        tx.select(
            "ts",
            "signature",
            F.explode(
                F.concat(_tagged("pre", "pre"), _tagged("post", "post"))
            ).alias("e"),
        )
        .where(F.col("e.b").isNotNull())
        .select(
            "ts", "signature", F.col("e.phase").alias("phase"), F.col("e.b").alias("b")
        )
    )


def test_fused_phase_explode_matches_union(spark):
    bal = "array<struct<accountIndex:int,mint:string,owner:string>>"
    rows = [
        # both sides populated
        ("s1", [(0, "m1", "o1"), (1, "m2", "o2")], [(0, "m1", "o1")]),
        # null pre, empty post
        ("s2", None, []),
        # null element inside the array (explode_outer emits then filter drops)
        ("s3", [None, (2, "m3", "o3")], None),
        # empty both
        ("s4", [], []),
    ]
    tx = spark.createDataFrame(
        [(None, s, p, q) for (s, p, q) in rows],
        f"ts timestamp, signature string, pre {bal}, post {bal}",
    )
    old = _old_entries(tx).selectExpr(
        "signature", "phase", "b.accountIndex", "b.mint", "b.owner"
    )
    new = _new_entries(tx).selectExpr(
        "signature", "phase", "b.accountIndex", "b.mint", "b.owner"
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
    assert old.schema == new.schema


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

    registry._ensure_views(spark, sf_dir)
    spark_rows = sorted(map(tuple, spark.sql(_lsh_buckets(SPARK)).collect()))
    duck_rows = _duck_buckets(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    assert spark_rows == duck_rows
    assert len(spark_rows) > 0


def test_lsh_buckets_df_matches_sql_twin_degenerate(hand_views):
    # empty embedding (absent from buckets), null elements (skipped by SUM),
    # all-null vector (NULL sums -> bit 0 on every plane), plus a normal row
    from rugpull_data_pipeline_spark.functions.scalars import SPARK
    from rugpull_data_pipeline_spark.plans.llm_ops import _lsh_buckets

    spark = hand_views
    rows = [
        (1, [0.5, -0.25, 1.0], 0),
        (2, [], 0),
        (3, [None, 2.0, None], 0),
        (4, [None, None], 0),
        (5, [-1e-9, 1e-9], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    spark_rows = sorted(map(tuple, spark.sql(_lsh_buckets(SPARK)).collect()))

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
