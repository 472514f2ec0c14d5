"""Vectorized UDF surface (SURVEY.md §2.9).

The reference has no pluggable UDF system — custom logic is either compiled
C++ kernels or pandas-per-chunk code in the Flight server
(``SERVER/server.py:78-91``). That pandas-per-batch style maps 1:1 onto
Arrow-backed Pandas UDFs; everything here is batch-vectorized, never
row-at-a-time Python.

Rule of thumb enforced across this repo: these wrappers exist for semantics
the built-ins cannot express (external lookups, imperative per-batch logic).
Anything expressible as ``pyspark.sql.functions`` stays JVM-side.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.DoubleType())
def amm_quote_price(base_usd: pd.Series, price_native: pd.Series) -> pd.Series:
    """S7 AMM math: quote_usd = base_usd / priceNative with zero/NaN guard
    (SERVER/priceAPIfiller.py:63-75). Vectorized over Arrow batches."""
    out = base_usd / price_native
    return out.where(price_native != 0.0)


@F.pandas_udf(T.DoubleType())
def pct_change(new: pd.Series, old: pd.Series) -> pd.Series:
    """Relative change |new-old|/|old| (P11 threshold input,
    SERVER/ingest_prices.py:45); null when old is 0/null."""
    return ((new - old).abs() / old.abs()).where(old != 0.0)


def ordered_python_stage(
    df: DataFrame, kernel: Callable[[DataFrame], DataFrame], *order: str
) -> DataFrame:
    """Run a Python kernel over every worker and return its output globally
    ordered by ``order``, with the kernel executed once.

    A global ``orderBy`` directly on a Python node plans a range exchange
    over it, and the range partitioner's sampling job computes the
    exchange's child a second time: the kernel would run twice per
    execution.
    Range-partitioning the kernel's INPUT on the leading key instead points
    the sampling job at the cheap JVM scan. Range partitions are ordered,
    so sorting each one makes the output globally ordered. For a grouped
    kernel keyed on ``order[0]`` the range partitioning also satisfies the
    grouping's clustering, so the group-by adds no hash shuffle.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return kernel(df.repartitionByRange(n, order[0])).sortWithinPartitions(*order)


def groupwise_minmax_scale(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Grouped-map UDF (``applyInPandas``): per-key min-max scaling of
    ``value_col`` to [0, 1].

    The kernel deliberately uses only order-insensitive IEEE ops (min, max,
    one subtraction, one division) so the result is bit-identical to the SQL
    window form regardless of row order or partitioning — which is what lets
    a DuckDB oracle verify the grouped-map plumbing exactly. Groups shuffle
    once on the key (not at all when the input is already partitioned on
    it, see ``ordered_python_stage``); each group materializes as one pandas
    frame, so the operator is for keys whose group fits an executor
    (per-user, per-pair state — the reference's chunk shapes), not
    whole-table groups.
    """
    from ..session import ship_package

    ship_package(df.sparkSession)
    schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField(value_col, T.DoubleType()),
            T.StructField("scaled", T.DoubleType()),
        ]
    )

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf[value_col].min(), pdf[value_col].max()
        span = hi - lo
        out = pdf[[key_col, "event_id", value_col]].copy()
        out["scaled"] = (pdf[value_col] - lo) / span if span != 0.0 else None
        return out

    return (
        df.select(key_col, "event_id", value_col)
        .groupBy(key_col)
        .applyInPandas(scale, schema)
    )


def lookup_enrich(
    df: DataFrame,
    key_col: str,
    fetch: Callable[[list[str]], dict[str, dict]],
    result_schema: str,
    batch_size: int = 100,
) -> DataFrame:
    """S8 lookup-enrichment: batched external lookups from inside partitions
    (the Raydium ``pools/key/ids?ids=a,b,c`` pattern,
    SERVER/combined_subscriber.py:46-55) via ``mapInPandas``.

    ``fetch(keys) -> {key: {field: value}}`` is injectable so tests (and
    air-gapped runs) pass a deterministic fake instead of HTTP. Batches of
    ``batch_size`` keys per call mirror the reference's comma-joined batch
    GET; distinct keys are deduped per partition before fetching.

    Scale: the fetch runs once per executor partition batch — N partitions →
    N concurrent fetchers, the reference's worker-pool shape. For a true dim
    table, pre-materialize and broadcast-join instead (J4); this operator is
    for the cold-path first-seen lookups.
    """
    from ..session import ship_package

    ship_package(df.sparkSession)
    extra = T._parse_datatype_string(result_schema)
    schema = T.StructType(list(df.schema.fields) + list(extra.fields))
    field_names = [f.name for f in extra.fields]

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = pdf[key_col].dropna().unique().tolist()
            results: dict[str, dict] = {}
            for i in range(0, len(keys), batch_size):
                results.update(fetch(keys[i : i + batch_size]))
            for fname in field_names:
                pdf[fname] = pdf[key_col].map(
                    lambda k: results.get(k, {}).get(fname)
                )
            yield pdf

    return df.mapInPandas(mapper, schema)


def arrow_vec_fixedpoint_sum(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """``mapInArrow`` kernel: per-row fixed-point sum of a float-vector
    column, computed directly on Arrow buffers (no pandas materialization).

    This is the zero-copy half of the §2.9 UDF surface — the same Arrow
    RecordBatch shape the reference's C++ builders emit
    (``RECEIVER/common.h:66-82``, flushed per 10k rows at
    ``RECEIVER/stage2_processing.cpp:405-411``), consumed batch-at-a-time in
    Python. The math is exact integer (floor at 1e-6 then int64 segment
    sums over the list offsets), so a SQL oracle can verify the Arrow
    plumbing bit-for-bit.

    Scale: map-only, no shuffle; Arrow batches stream through bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    import numpy as np
    import pyarrow as pa

    from ..session import ship_package

    ship_package(df.sparkSession)

    def mapper(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            vec = tbl.column(vec_col).combine_chunks()
            arr = vec.chunk(0) if isinstance(vec, pa.ChunkedArray) else vec
            import pyarrow.compute as pc

            # flatten() + list_value_length respect slice offsets, unlike the
            # raw offsets buffer
            lengths = pc.list_value_length(arr).to_numpy(zero_copy_only=False).astype(np.int64)
            values = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            q = np.floor(values * 1_000_000.0).astype(np.int64)
            csum = np.concatenate(([0], np.cumsum(q)))
            ends = np.cumsum(lengths)
            vsum = csum[ends] - csum[ends - lengths]
            n_dims = lengths.astype(np.int32)
            out = pa.RecordBatch.from_arrays(
                [
                    tbl.column("vec_id").combine_chunks(),
                    pa.array(n_dims, pa.int32()),
                    pa.array(vsum, pa.int64()),
                ],
                names=["vec_id", "n_dims", "vsum"],
            )
            yield out

    return df.select("vec_id", vec_col).mapInArrow(
        mapper, "vec_id long, n_dims int, vsum long"
    )
