"""Query registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 (plus the LLM-pipeline additions) registers
here as a named query: a builder ``(spark, sf_dir) -> DataFrame`` and, when
SQL-expressible, a DuckDB oracle string over the same parquet tables.
``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``.

A builder reads the fixture tables only as views (``spark.table(name)``)
of the session ``bind_views`` returns: a child of the caller's session per
sf_dir, holding them and ``tune_session``'s pins, so no build writes the
caller's catalog or conf.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pathlib
import re
import threading
from dataclasses import dataclass
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalars import DUCK, SPARK
from ..sources.tables import TABLES, register_views

BuilderFn = Callable[[SparkSession, str], DataFrame]
InputFn = Callable[[], object]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass
class _Child:
    """A build session, and the caller conf it copied at its last sync
    (checked as one conf string: ≈0.5 ms, against ``getAll``'s ≈24)."""

    session: SparkSession
    uuid: str
    conf: dict[str, str]
    conf_text: str = ""

    def sync(self, caller: SparkSession) -> None:
        text = caller._jsparkSession.conf().getAll().toString()
        if text != self.conf_text:
            conf = caller.conf.getAll
            for k in self.conf.keys() - conf.keys():
                self.session.conf.unset(k)
            for k, v in conf.items() - self.conf.items():
                self.session.conf.set(k, v)
            self.conf, self.conf_text = conf, text


# (caller's JVM sessionUUID, sf_dir) -> its child. A child is also filed
# under its own uuid, so a build it makes for that sf_dir runs in it.
_CHILDREN: dict[tuple[str, str], _Child] = {}
_LOCK = threading.Lock()


def bind_views(
    spark: SparkSession, sf_dir: str, tables: Mapping[str, DataFrame] | None = None
) -> SparkSession:
    """The session a build for ``(spark, sf_dir)`` runs in: made once, as
    ``spark.newSession()`` with ``spark``'s runtime conf, ``tune_session``'s
    pins and, without ``tables``, the parquet tables of ``sf_dir`` as views.
    ``tables`` (view name -> DataFrame created in the returned session)
    replaces views; substituted tables get an sf_dir of their own, first
    bound with ``tables={}``. A child called with its sf_dir is returned."""
    uuid = spark._jsparkSession.sessionUUID()
    with _LOCK:
        child = _CHILDREN.get((uuid, sf_dir))
        if child is None:
            s = spark.newSession()
            child = _Child(s, s._jsparkSession.sessionUUID(), s.conf.getAll)
            child.sync(spark)
            register_views(s, sf_dir, TABLES if tables is None else ())
            _CHILDREN[(uuid, sf_dir)] = _CHILDREN[(child.uuid, sf_dir)] = child
        elif child.uuid != uuid:
            child.sync(spark)
        for name, df in (tables or {}).items():
            df.createOrReplaceTempView(name)
    return child.session


@dataclass
class QuerySpec:
    name: str
    builder: BuilderFn
    oracle: str | None = None
    tags: tuple[str, ...] = ()
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
            session = bind_views(spark, sf_dir)
            spec.generate_inputs()
            return fn(session, sf_dir)

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
    Spark/DuckDB pair; the Spark builder runs in the session ``bind_views``
    returns, so its cores and frame belong to that child.

    ``shared`` maps a CTE name to its core text function ``core(dialect)``
    for cores read by more than one consumer in ``q``. Spark inlines a
    ``WITH`` CTE once per consumer, so each core is built once and eagerly
    ``localCheckpoint``ed, and ``q`` reads it as ``SELECT * FROM {name}``.
    DuckDB materializes CTEs itself, so the oracle inlines ``core(DUCK)``:
    the one place that policy lives.

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
        spark = bind_views(spark, sf_dir)
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
        raise ValueError(f"{name}: {fn.__name__} reads {bad}, "
                         f"not among the cores before it {known}")
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
    paths = sorted(pathlib.Path(_REPO).glob("CORRECTNESS_r*.json"))
    return {p.name: json.loads(p.read_text()) for p in paths}


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
    return {n: get(n).oracle for n, spec in _ordered() if spec.oracle is not None}


# The plan modules; each registers its queries on import.
_PLAN_MODULES = """
    relational tpch_shapes spark4_features semi_structured llm_ops domain
    advanced multimodal_q curation corpus_ops quality_ops stream_infra
    pipeline_ops mlprep_ops traindata_ops stats_eval feature_ops mining_ops
    analytics_ops diagnostics_ops insights_ops forensics_ops robustness_ops
    screening_ops
""".split()


@functools.cache
def _load_plan_modules() -> None:
    for m in _PLAN_MODULES:
        importlib.import_module(f".{m}", __package__)
