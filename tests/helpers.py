"""Helpers shared by the test modules.

- Hand-made fixture tables, bound the way the package binds the parquet
  ones: as views of a build session, through ``registry.bind_views``. A
  test takes the ``hand`` fixture (the ``HAND`` build session of a
  fresh caller), creates its tables there and calls builders with it and
  the sf_dir ``HAND``; nothing is left to drop afterwards.
- The exact-decimal replicas of Spark's double -> decimal casts that the
  property tests compare against, and their shared Hypothesis settings.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rugpull_data_pipeline_spark.plans import registry

HAND = "unused"

EVENTS = "event_id long, t long, user_id long, event_type string, value double"
DOCS = "doc_id long, text string, lang string, source string"
DOCS_N = DOCS + ", n_chars long"
DOC_TEXT = "doc_id long, text string"
EMBEDDINGS = "vec_id long, embedding array<float>, label int"
LINEITEM = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, t long"
)


def hand_table(spark, name: str, data, schema: str | None = None) -> None:
    """Bind ``data`` (rows with ``schema``, a pandas frame or a DataFrame
    created in ``spark``) as the fixture table ``name`` of the ``HAND``
    build session ``spark``."""
    df = data if isinstance(data, DataFrame) else spark.createDataFrame(data, schema)
    registry.bind_views(spark, HAND, {name: df})


def _mk_events(spark, rows, schema: str = EVENTS) -> None:
    """Hand ``events``; the epoch-seconds column ``t`` becomes ``ts``."""
    df = spark.createDataFrame(rows, schema)
    hand_table(spark, "events", df.select(
        *[F.col(c).cast("timestamp").alias("ts") if c == "t" else c for c in df.columns]
    ))


def _mk_docs(spark, rows, schema: str = DOCS) -> None:
    hand_table(spark, "documents", rows, schema)


def _mk_embeddings(spark, rows, schema: str = EMBEDDINGS) -> None:
    hand_table(spark, "embeddings", rows, schema)


def _mk_lineitem(spark, rows) -> None:
    """Hand ``lineitem``; the epoch-seconds column ``t`` becomes ``l_shipdate``."""
    df = spark.createDataFrame(rows, LINEITEM)
    hand_table(
        spark,
        "lineitem",
        df.selectExpr("*", "cast(t as timestamp) AS l_shipdate").drop("t"),
    )


PROP = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _dec(x: float, scale: str) -> Decimal:
    """cast(double as decimal): shortest repr, HALF_UP."""
    return Decimal(repr(x)).quantize(Decimal(scale), ROUND_HALF_UP)


def _q9_then_dec6(x: float) -> Decimal:
    """round(double, 9) then cast decimal(38,6), both HALF_UP, each step
    through the double's shortest decimal repr (Java BigDecimal.valueOf
    semantics == Python repr)."""
    return _dec(float(_dec(x, "1e-9")), "1e-6")


def _round6(x: float) -> float:
    return float(_dec(x, "1e-6"))


def _floor_cents(c: int) -> int:
    """The SQL sees floor((c/100.0) * 100.0): replicate the double trip."""
    return math.floor((c / 100.0) * 100.0)


def _h60(s: str) -> int:
    """The portable 60-bit hash (md5 first 15 hex chars), python side."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
