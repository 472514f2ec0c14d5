"""Empty-input regression gate for the iterative broadcast builders.

Before round 6 every driver-side collect()-seeded iteration crashed on an
empty slice (IndexError / ZeroDivisionError / None-gradient TypeError /
ANSI DIVIDE_BY_ZERO) where the DuckDB oracle cleanly returned 0 rows.
At 100 TB some partition IS empty; an engine that crashes on it is
broken. Each builder must now return its oracle's empty shape.
The full classification sweep lives in tools/empty_sweep.py."""

from __future__ import annotations

import duckdb
import pytest

from rugpull_data_pipeline_spark.plans import registry
from tools.empty_sweep import apply_surface

SF = "/root/testdata/sf0.001"

# (query, expected rows on empty input — matching the DuckDB oracle)
CASES = [
    ("sample_kcenter_coreset", 0),
    ("graph_hits_power3", 0),
    ("graph_pagerank_power3", 0),
    ("sim_pca_power1", 0),
    ("mlprep_logreg_gd3", 0),
    ("kmeans_lloyd_fit", 0),
    ("events_entropy_rate", 1),  # one global-agg row, all-NULL stats
]


@pytest.fixture
def empty_views(spark):
    """The sweep's ``empty`` surface: real schemas (incl. event-time
    normalization), zero rows, bound to ``SF`` so builders don't
    re-register; unbound afterwards so other tests get the real views
    back."""
    with duckdb.connect() as con:
        apply_surface(spark, con, SF, "empty")
    yield spark
    registry.unbind_views(spark)


@pytest.mark.parametrize("name,expected_rows", CASES)
def test_empty_input_matches_oracle_shape(empty_views, name, expected_rows):
    spark = empty_views
    rows = registry.get(name).builder(spark, SF).collect()
    assert len(rows) == expected_rows
    if name == "events_entropy_rate":
        r = rows[0]
        assert r.n_states == 0
        assert r.entropy_rate_nats is None
        assert r.entropy_rate_norm is None
