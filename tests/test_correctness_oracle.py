"""Every registered query must hash-match its DuckDB oracle (driver mirror)."""

from __future__ import annotations

import pytest

from rugpull_data_pipeline_spark.plans import registry

from .oracle_harness import check_query

registry._load_plan_modules()
ALL_NAMES = sorted(registry._REGISTRY.keys())


@pytest.mark.parametrize("name", ALL_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    problems = check_query(spark, name, sf_dir)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.columns) == 8


def test_registry_coverage(spark):
    qs = registry.all_queries()
    oracles = registry.all_oracles()
    assert len(qs) >= 20, f"only {len(qs)} queries registered"
    missing = set(qs) - set(oracles)
    # every query should have an oracle unless explicitly non-SQL-expressible
    for name in missing:
        assert "nosql" in registry.get(name).tags, f"{name} lacks an oracle"


_WINDOW = registry.DRIVER_WINDOW
_GREEN_ROW = {"rows_match": True, "schema_match": True, "hash_match": True,
              "spark_rows": 1, "oracle_rows": 1, "err": None}


def _wasted_window_slots(order: list[str], latest: dict[str, int]) -> set[str]:
    """A window slot is WASTED iff its query was graded green more recently
    than some query left outside the window (never green counts as round
    0, the stalest): the driver would re-check a fresher proof while an
    older one, or none at all, waits."""
    outside = [latest.get(n, 0) for n in order[_WINDOW:]]
    if not outside:
        return set()
    return {n for n in order[:_WINDOW] if latest.get(n, 0) > min(outside)}


def test_driver_window_rotation():
    """The live first-50 driver window spends every slot productively, and
    stays so once the driver grades it: a fresh all-green artifact for the
    current window rotates the window onto 50 other queries instead of
    reddening the suite."""
    names = list(registry.all_queries())
    files = registry.load_grades()
    latest = registry.last_green_round(files)
    assert not _wasted_window_slots(names, latest)
    # Never-green queries that do not fit in the window wait for a later
    # one; that backlog must never exceed one extra window, which bounds
    # how fast queries may be registered ahead of their first grade.
    carried = set(names) - set(latest) - set(names[:_WINDOW])
    assert len(carried) <= _WINDOW, f"carry-over too large: {sorted(carried)}"

    latest_round = max(latest.values(), default=0)
    graded = dict(files)
    graded[f"CORRECTNESS_r{latest_round + 1:02d}.json"] = {
        n: dict(_GREEN_ROW) for n in names[:_WINDOW]
    }
    rotated = registry.driver_order(names, graded)
    assert sorted(rotated) == sorted(names)
    assert not _wasted_window_slots(rotated, registry.last_green_round(graded))
    assert not set(rotated[:_WINDOW]) & set(names[:_WINDOW])


def test_driver_window_rotation_survives_fresh_grade():
    """The window order as a pure function of the grades, on synthetic
    fixtures with their own round numbering: registration order without
    artifacts, never-green before green, oldest green first, and a window
    that moves on after every grade (two grades in a row included)."""
    names = [f"q{i:03d}" for i in range(120)]
    assert registry.driver_order(names, {}) == names

    # Round 1 graded q000..q009 green and q010 red: the red one is still
    # never-green, so it keeps its registration place in the backlog.
    files = {"CORRECTNESS_r01.json": {n: dict(_GREEN_ROW) for n in names[:10]}}
    files["CORRECTNESS_r01.json"]["q010"] = dict(_GREEN_ROW, hash_match=False)
    order = registry.driver_order(names, files)
    assert order == names[10:] + names[:10]
    seen: set[str] = set()
    for rnd in (2, 3, 4):
        latest = registry.last_green_round(files)
        assert not _wasted_window_slots(order, latest)
        window = order[:_WINDOW]
        assert not seen & set(window) or len(seen) + _WINDOW > len(names)
        seen |= set(window)
        files[f"CORRECTNESS_r{rnd:02d}.json"] = {n: dict(_GREEN_ROW) for n in window}
        order = registry.driver_order(names, files)
    # After three grades every query is green; the window is the oldest.
    latest = registry.last_green_round(files)
    assert set(latest) == set(names)
    assert order[:_WINDOW] == sorted(names, key=lambda n: latest[n])[:_WINDOW]
    assert not _wasted_window_slots(order, latest)


def test_every_oracle_runs_standalone_in_duckdb(sf_dir):
    """The driver may execute oracle SQL BEFORE any Spark builder runs, in a
    fresh process. Every oracle must therefore be valid, runnable DuckDB SQL
    on its own (``all_oracles`` writes the generated corpora they read)."""
    import duckdb

    from rugpull_data_pipeline_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = []
    for name, sql in registry.all_oracles().items():
        try:
            con.execute(sql).fetchone()
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: {ex}")
    con.close()
    assert not failures, "\n".join(failures)


def test_flagship_oracle_rows_come_in_one_order():
    """The flagship oracle orders its rows by its unique group key, so two
    DuckDB runs return the same ordered frame (an ordered answer hash of
    the query is reproducible)."""
    from rugpull_data_pipeline_spark.plans.relational import FLAGSHIP_ORACLE

    from .conftest import SF_SMOKE
    from .oracle_harness import run_oracle

    first = run_oracle(FLAGSHIP_ORACLE, SF_SMOKE)
    assert len(first) > 0
    assert first.equals(run_oracle(FLAGSHIP_ORACLE, SF_SMOKE))
