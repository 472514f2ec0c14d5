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


@pytest.fixture(scope="module")
def empty_sf(spark):
    """The sf_dir under which builders called with ``spark`` read the
    sweep's ``empty`` surface: real schemas (incl. event-time
    normalization), zero rows."""
    with duckdb.connect() as con:
        return apply_surface(spark, con, SF, "empty")


@pytest.mark.parametrize("name,expected_rows", CASES)
def test_empty_input_matches_oracle_shape(spark, empty_sf, name, expected_rows):
    rows = registry.get(name).builder(spark, empty_sf).collect()
    assert len(rows) == expected_rows
    if name == "events_entropy_rate":
        r = rows[0]
        assert r.n_states == 0
        assert r.entropy_rate_nats is None
        assert r.entropy_rate_norm is None
