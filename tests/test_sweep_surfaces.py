"""Both engines' copies of every degenerate sweep surface hold the same rows.

tools/empty_sweep.py writes each surface once (``SURFACES``) and renders it
per dialect. A Spark copy that differs from the DuckDB copy would make the
sweep grade the surface instead of the engines."""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pytest

from rugpull_data_pipeline_spark.plans import registry
from tests.conftest import SF_SMOKE as SF
from tests.oracle_harness import compare
from tools.empty_sweep import SURFACES, _parser, apply_surface

# Spark's name for each DuckDB column type the fixture tables carry.
_SPARK_TYPE = {
    "BIGINT": "bigint", "INTEGER": "int", "DOUBLE": "double",
    "VARCHAR": "string", "TIMESTAMP": "timestamp", "FLOAT[]": "array<float>",
}


def _digest_arrays(pdf):
    """Array cells as ``length:md5`` of their float32 bytes: the
    giant-payload embeddings hold 10,048 elements a row, too wide to
    compare as text."""
    def digest(v):
        if not isinstance(v, (list, np.ndarray)):
            return v
        a = np.asarray(v, dtype=np.float32)
        return f"{len(a)}:{hashlib.md5(a.tobytes()).hexdigest()}"

    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(digest)
    return pdf


def test_mode_choices_are_the_surfaces():
    mode = next(a for a in _parser()._actions if a.dest == "mode")
    assert list(mode.choices) == list(SURFACES)


@pytest.mark.parametrize("mode", list(SURFACES))
def test_surface_same_rows_on_both_engines(spark, mode):
    problems = {}
    with duckdb.connect() as con:
        surf = registry.bind_views(spark, apply_surface(spark, con, SF, mode))
        for t in SURFACES[mode].views:
            s = _digest_arrays(surf.table(t).toPandas())
            d = _digest_arrays(con.execute(f"SELECT * FROM {t}").fetchdf())
            problems[t] = compare(s, d)
            duck_types = [_SPARK_TYPE.get(r[1], r[1]) for r in con.execute(
                f"DESCRIBE SELECT * FROM {t}").fetchall()]
            spark_types = [ty for _, ty in surf.table(t).dtypes]
            if duck_types != spark_types:
                problems[t].append(f"types: spark={spark_types} duck={duck_types}")
            if (len(s) == 0) != (mode == "empty"):  # no vacuous pass
                problems[t].append(f"{len(s)} rows")
    assert not any(problems.values()), problems
