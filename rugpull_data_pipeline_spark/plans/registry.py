"""Query registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 (plus the LLM-pipeline additions) registers
here as a named query: a builder ``(spark, sf_dir) -> DataFrame`` and, when
SQL-expressible, a DuckDB oracle string over the same parquet tables.
``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``.

A builder reads the fixture tables only as session views
(``spark.table(name)``, or by name in SQL), which ``bind_views`` binds to
its ``sf_dir`` before every registered build.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
from dataclasses import dataclass, field
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalars import DUCK, SPARK
from ..sources.tables import register_views

BuilderFn = Callable[[SparkSession, str], DataFrame]
InputFn = Callable[[], object]

_REGISTRY: dict[str, "QuerySpec"] = {}

# The sf_dir each session's fixture-table views are bound to. Only
# ``bind_views``/``unbind_views`` read or write it.
_VIEWS_FOR: dict[int, str] = {}


def bind_views(
    spark: SparkSession, sf_dir: str, tables: Mapping[str, DataFrame] | None = None
) -> None:
    """Bind the session's fixture-table views to ``sf_dir``.

    Without ``tables``, the parquet tables of ``sf_dir`` are registered
    unless the session is already bound to it, so repeated builds don't
    re-read parquet metadata. ``tables`` (view name -> DataFrame) replaces
    those views with the given frames and records the session as bound to
    ``sf_dir``, so registered builders called with it read the substituted
    tables (hand-made test tables, the degenerate-input sweep surfaces)."""
    key = id(spark)
    if tables is None:
        if _VIEWS_FOR.get(key) != sf_dir:
            register_views(spark, sf_dir)
    else:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
    _VIEWS_FOR[key] = sf_dir


def unbind_views(spark: SparkSession) -> None:
    """Forget the session's binding, so the next ``bind_views`` registers
    the parquet tables again over any substituted views."""
    _VIEWS_FOR.pop(id(spark), None)


@dataclass
class QuerySpec:
    name: str
    builder: BuilderFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    inputs: tuple[InputFn, ...] = ()

    def generate_inputs(self) -> None:
        for gen in self.inputs:
            gen()


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
    inputs: tuple[InputFn, ...] = (),
) -> Callable[[BuilderFn], BuilderFn]:
    """Decorator: register a python builder (DataFrame-API query).

    ``inputs`` are the query's input generators: idempotent, seeded
    functions that write the files its builder and oracle read. The
    builder, ``get`` and ``all_oracles`` run them on first use, so importing
    the registry writes nothing and an oracle still runs in a fresh
    DuckDB-only process before its Spark twin."""

    def deco(fn: BuilderFn) -> BuilderFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            bind_views(spark, sf_dir)
            spec.generate_inputs()
            return fn(spark, sf_dir)

        spec = QuerySpec(name, wrapped, oracle, tags, doc or fn.__doc__ or "", inputs)
        _REGISTRY[name] = spec
        return fn

    return deco


def pair(
    name: str,
    q: Callable[..., str],
    tags: tuple[str, ...] = (),
    doc: str = "",
    shared: dict[str, Callable[..., str]] | None = None,
) -> None:
    """Register ``q(dialect, **shared_cores) -> SQL text`` as its
    Spark/DuckDB pair.

    ``shared`` maps a CTE name to its core text function ``core(dialect)``
    for cores read by more than one consumer in ``q``. Spark inlines a
    ``WITH`` CTE once per consumer, so each core is built once and eagerly
    ``localCheckpoint``ed, and ``q`` reads it as ``SELECT * FROM {name}``.
    DuckDB materializes CTEs itself, so the oracle inlines ``core(DUCK)``.
    This is the one place that policy lives.

    Cores may depend on each other: ``shared`` is ordered, and a core
    ``core(dialect, **earlier)`` names the earlier cores it reads as
    parameters after the dialect, receiving each as query text exactly like
    ``q`` does. Spark checkpoints the cores in order, each reading the
    earlier frames; the oracle nests the earlier ``core(DUCK)`` texts.
    ``q`` too receives only the cores its signature names, so a core read
    only by later cores stays out of ``q``. Naming an unknown or later core
    raises at registration."""
    shared = shared or {}
    names = list(shared)
    reads = {
        k: _reads(name, core, names[:i]) for i, (k, core) in enumerate(shared.items())
    }
    q_reads = _reads(name, q, names)
    ref = {k: f"SELECT * FROM {{{k}}}" for k in names}
    core_text = {
        k: core(SPARK, **{e: ref[e] for e in reads[k]}) for k, core in shared.items()
    }
    text = q(SPARK, **{k: ref[k] for k in q_reads})

    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        bind_views(spark, sf_dir)
        frames: dict[str, DataFrame] = {}
        for k in names:
            frames[k] = spark.sql(
                core_text[k], **{e: frames[e] for e in reads[k]}
            ).localCheckpoint()
        return spark.sql(text, **{k: frames[k] for k in q_reads})

    duck: dict[str, str] = {}
    for k, core in shared.items():
        duck[k] = core(DUCK, **{e: duck[e] for e in reads[k]})
    oracle = q(DUCK, **{k: duck[k] for k in q_reads})
    _REGISTRY[name] = QuerySpec(name, builder, oracle, tags, doc)


def _reads(name: str, fn: Callable[..., str], known: list[str]) -> list[str]:
    """The shared cores ``fn(dialect, ...)`` reads: its parameters after the
    dialect, each of which must name one of ``known``."""
    params = list(inspect.signature(fn).parameters)[1:]
    bad = [p for p in params if p not in known]
    if bad:
        raise ValueError(
            f"{name}: {fn.__name__} reads {bad}, not among the cores before it {known}"
        )
    return params


def get(name: str) -> QuerySpec:
    _load_plan_modules()
    spec = _REGISTRY[name]
    spec.generate_inputs()
    return spec


# The grading driver verifies the FIRST DRIVER_WINDOW queries in `queries()`
# order against their DuckDB oracles each round and records the grade in a
# CORRECTNESS_r<round>.json artifact at the repository root. The order is
# derived from that record, so each grade rotates the window by itself:
# queries never graded green come first, then the green ones, oldest last
# green round first. Registration order breaks ties, and is the whole order
# when no artifact is present (e.g. an installed package).
DRIVER_WINDOW = 50
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_grades() -> dict[str, dict]:
    """The recorded driver grades: artifact file name -> its JSON."""
    files = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            files[os.path.basename(path)] = json.load(fh)
    return files


def last_green_round(files: dict[str, dict]) -> dict[str, int]:
    """Query name -> the latest round whose grade matched its oracle."""
    latest: dict[str, int] = {}
    for fname, data in files.items():
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", fname)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, rec in data.get("queries", data).items():
            if isinstance(rec, dict) and rec.get("hash_match") and not rec.get("err"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def driver_order(names: list[str], files: dict[str, dict] | None = None) -> list[str]:
    """``names`` (registration order) in driver-window order: never green
    first, then oldest last green. ``files`` overrides the on-disk grades."""
    latest = last_green_round(load_grades() if files is None else files)
    return sorted(names, key=lambda n: latest.get(n, 0))  # stable sort


def _ordered() -> list[tuple[str, QuerySpec]]:
    _load_plan_modules()
    return [(n, _REGISTRY[n]) for n in driver_order(list(_REGISTRY))]


def all_queries() -> dict[str, BuilderFn]:
    return {name: spec.builder for name, spec in _ordered()}


def all_oracles() -> dict[str, str]:
    specs = [(name, spec) for name, spec in _ordered() if spec.oracle is not None]
    for _, spec in specs:
        spec.generate_inputs()
    return {name: spec.oracle for name, spec in specs}


_LOADED = False


def _load_plan_modules() -> None:
    """Import the plan modules exactly once (they register on import)."""
    global _LOADED
    if _LOADED:
        return
    from . import relational  # noqa: F401
    from . import tpch_shapes  # noqa: F401
    from . import spark4_features  # noqa: F401
    from . import semi_structured  # noqa: F401
    from . import llm_ops  # noqa: F401
    from . import domain  # noqa: F401
    from . import advanced  # noqa: F401
    from . import multimodal_q  # noqa: F401
    from . import curation  # noqa: F401
    from . import corpus_ops  # noqa: F401
    from . import quality_ops  # noqa: F401
    from . import stream_infra  # noqa: F401
    from . import pipeline_ops  # noqa: F401
    from . import mlprep_ops  # noqa: F401
    from . import traindata_ops  # noqa: F401
    from . import stats_eval  # noqa: F401
    from . import feature_ops  # noqa: F401
    from . import mining_ops  # noqa: F401
    from . import analytics_ops  # noqa: F401
    from . import diagnostics_ops  # noqa: F401
    from . import insights_ops  # noqa: F401
    from . import forensics_ops  # noqa: F401
    from . import robustness_ops  # noqa: F401
    from . import screening_ops  # noqa: F401

    _LOADED = True
