"""Degenerate-input robustness sweep: every registered query run against
one degenerate table surface, on both engines.

At 100 TB some slice is always empty — a day partition with no events, a
source with no documents after filtering. The round-6 divergence audit
(SCALE.md) showed ANSI Spark and DuckDB disagree violently on the edge
cases an empty input reaches (`x / count(*)` THROWS on Spark when the
count is 0, returns NULL on DuckDB; DuckDB's `sqrt`/`ln` THROW where
Spark yields NaN/NULL). This sweep classifies every query:

    ok         both engines run; same row count AND same normalized values
               (the driver's sort-columns/sort-rows exact compare, via
               tests.oracle_harness.compare — row-count-only `ok` hid the
               HITS 0.0-vs-NULL divergence; ADVICE r6)
    val-diff   both run, same row count, value-level divergence
    rows-diff  both run; row counts differ (semantic divergence)
    explained  would be val-/rows-diff, but the query carries a
               `sweep:<reason>` registry tag documenting a known,
               deliberate engine divergence (currently the ROLLUP/CUBE/
               GROUPING SETS class: on an EMPTY relation DuckDB emits the
               grand-total `()` row, Spark emits nothing — Spark's
               behavior is this engine's behavior; SCALE.md r6 sweep #1)
    spark-err  Spark throws, DuckDB runs   (ANSI landmine)
    duck-err   DuckDB throws, Spark runs   (oracle landmine)
    both-err   both throw

One mode per degenerate surface; `--help` lists each with what it found:

    python tools/empty_sweep.py                          # zero-row tables
    python tools/empty_sweep.py --mode null-values       # events.value all NULL
    python tools/empty_sweep.py --mode giant-payloads --only sim_ text_
    python tools/empty_sweep.py --mode single-row --sf sf0.01 --start 120

Each surface is written once, in SURFACES: per substituted table, one
SELECT in dialect ``d`` over the table's source relation.
``apply_surface`` renders it as the DuckDB view and as the Spark temp view
of the surface's own build session (``registry.bind_views`` under the
sf_dir ``<sf_dir>#<mode>``), so both engines read the same rows by construction
(tests/test_sweep_surfaces.py checks it for every mode).

Exit 0 iff every query is `ok` or `explained`. (The round-6 self-sourced
streaming-replay artifact class no longer exists: the replays read the
substituted `events` VIEW since round 7, so the sweeps genuinely reach
them.)
"""

from __future__ import annotations

import argparse
import os
import sys
import textwrap
import time
from dataclasses import dataclass
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from rugpull_data_pipeline_spark.functions.scalars import (  # noqa: E402
    DUCK,
    SPARK,
    explode_seq,
    idiv,
    json_get,
)
from rugpull_data_pipeline_spark.sources.tables import TABLES, register_views  # noqa: E402

# Per-engine watchdog: seconds one query may run before it is cancelled.
DEADLINE_S = 420

# One table's view under a surface: ``view(d, src, cols)`` is a SELECT in
# dialect ``d`` over the relation ``src``, whose columns are ``cols``.
View = Callable[[str, str, list], str]


@dataclass(frozen=True)
class Surface:
    reason: str
    views: dict[str, View]
    checkpoint: tuple[str, ...] = ()  # Spark views pinned by localCheckpoint


def _select(cols: list, src: str, tail: str = "", **replace: str) -> str:
    """Every column of ``src`` in table order, ``replace``'s columns
    swapped for their expressions: DuckDB's ``SELECT * REPLACE``, spelled
    out because Spark has none."""
    items = ", ".join(f"{replace[c]} AS {c}" if c in replace else c for c in cols)
    return f"SELECT {items} FROM {src}{tail}"


def _swap(table: str, **replace: str) -> dict[str, View]:
    """One table with dialect-free column replacements."""
    return {table: lambda d, src, cols: _select(cols, src, **replace)}


def _retext(text: Callable[[str], str]) -> dict[str, View]:
    """documents with a new ``text(d)`` and ``n_chars`` re-derived from it."""
    return {
        "documents": lambda d, src, cols: _select(
            cols,
            f"({_select(cols, src, text=text(d))}) t",
            n_chars="cast(length(text) as bigint)",
        )
    }


def _storm(key: str | None) -> View:
    """Every row x8 with ``key`` offset per copy, far above every sf's key
    domain (integer-exact in both engines)."""
    replace = {} if key is None else {key: f"{key} + i * 1000000000000"}
    return lambda d, src, cols: _select(
        cols, src, " " + explode_seq("i", "0", "7", d), **replace
    )


_TS = "TIMESTAMP '2024-01-01 00:00:00'"
_MIN_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}
# Pinned code points from python escapes, inlined as one UTF-8 literal in
# both dialects (DuckDB forbids bound params in CREATE VIEW); it holds no
# quote or backslash by construction. ASCII-space separated so tokenizers
# see ordinary tokens. No NULs or lone surrogates: those are not valid
# parquet/UTF-8 payloads, not an engine-divergence class.
_GAUNTLET = (
    "caf\u00e9 cafe\u0301 "  # precomposed vs combining acute
    "\U0001f9ea\U0001f600 "  # non-BMP emoji (4-byte UTF-8)
    "漢字 "  # CJK
    "Στίγμας "  # Greek, final sigma
    "слово "  # Cyrillic
    "שלום "  # RTL Hebrew
    "İstanbul ß "  # dotted-I + eszett case traps
    "１２３"  # full-width digits
)

SURFACES: dict[str, Surface] = {
    "empty": Surface(
        "every table with its real schema (incl. the event-time "
        "normalization) and zero rows (the round-6 surface: every "
        "driver-side collect()-seeded iteration crashed on it, and "
        "x / count(*) throws on ANSI Spark where DuckDB returns NULL)",
        {t: lambda d, src, cols: _select(cols, src, " WHERE 1 = 0") for t in TABLES},
    ),
    "null-values": Surface(
        "real tables but events.value all NULL (count(*) > 0 while "
        "count(value) = 0 — a different degenerate surface; found the EWMA "
        "weight-sum ANSI divide)",
        _swap("events", value="cast(NULL as double)"),
    ),
    "zero-vectors": Surface(
        "real tables but every embedding all-zero (0-norm cosine surface; "
        "found 10 unguarded cosine divisions in the similarity family)",
        {"embeddings": lambda d, src, cols: _select(cols, src, embedding=(
            "transform" if d == SPARK else "list_transform"
        ) + "(embedding, x -> cast(0.0 as float))")},
    ),
    "empty-text": Surface(
        "real tables but documents.text all '' (single-empty-token "
        "surface; found the PMI descending-sequence ANSI element_at and "
        "the 1-term Zipf-fit divide)",
        _swap("documents", text="''", n_chars="0"),
    ),
    "single-row": Surface(
        "every table cut to its min-key row (single-point statistics "
        "surface; found 7 single-class/empty-arm ANSI divides: AUC, "
        "threshold sweep, Brier skill, ridge R2, KS, Simpson rates, "
        "1-centroid kmeans least())",
        {
            t: lambda d, src, cols, k=k: _select(cols, src, f" ORDER BY {k} LIMIT 1")
            for t, k in _MIN_KEYS.items()
        },
        checkpoint=TABLES,
    ),
    "hot-key": Surface(
        "real tables but every event on ONE user_id (the maximal-skew "
        "surface: a single giant per-user window partition, one group in "
        "user-keyed aggs, one graph node fan-in; durable form of the "
        "round-6 hot-key probes)",
        _swap("events", user_id="cast(1 as bigint)"),
    ),
    "single-type": Surface(
        "real tables but every event_type 'click' (single-category "
        "surface: no transition diversity for Markov/graph edges, one "
        "stratum for samplers, one class for evals; durable form of the "
        "round-6 single-type probes)",
        _swap("events", event_type="'click'"),
    ),
    "constant-time": Surface(
        "real tables but every events.ts the SAME instant (zero time "
        "spread: every daily/hourly grid collapses to one bucket, "
        "interarrival gaps are 0, window spans are a point — the "
        "constant-TIME complement of the constant-value surfaces)",
        _swap("events", ts=_TS),
    ),
    "negative-values": Surface(
        "real tables but every events.value strictly negative "
        "(-abs(value)-1): drives every signed-division, sqrt-of-sum and "
        "ln(value) path corpus-wide — DuckDB THROWS on sqrt/ln of negatives "
        "where Spark yields NaN/NULL, the r6 divergence matrix's other half)",
        _swap("events", value="-abs(value) - 1.0"),
    ),
    "skewed-duplicates": Surface(
        "Zipf-distributed duplicate KEYS with tied timestamps AND tied "
        "values — hot-key x constant-time x constant-value combined "
        "(user_id = 1000 // (1 + event_id % 1000): key 1 carries ~half "
        "the rows, harmonic tail; one shared ts instant; one shared "
        "value). Targets order-dependent tie-breaks in top-k/rank/argmax/"
        "fold queries: with every ordering column tied, any "
        "nondeterministic winner diverges between engines (the surface "
        "class that caught the r7 price-fold emission bug)",
        {"events": lambda d, src, cols: _select(
            cols, src,
            user_id=idiv("1000", "1 + (event_id % 1000)", d),
            ts=_TS,
            value="cast(7.5 as double)",
        )},
    ),
    "giant-payloads": Surface(
        "pathological per-row PAYLOAD sizes — doc_id 42's text inflated "
        "past 1 MB (token-preserving repeat; exactly ONE giant so the "
        "length-bucketed Levenshtein block can never meet two megabyte "
        "strings), EVERY embedding repeated to 10,048 elements (uniform "
        "dim — mixed dims would probe engine zip padding, not a real "
        "corpus shape), and a 12-level JSON subtree hung next to "
        "events.props' $.k (queries hard-cast $.k, so the surface tests "
        "parser depth and row width, not a schema break). The ten prior "
        "surfaces stress keys/values/time; none stressed per-row payload "
        "size — the remaining 100 TB corpus hazard class (a giant-row OOM "
        "or a quadratic per-row array op hides at sf0.01)",
        {
            **_retext(lambda d: (
                "CASE WHEN doc_id = 42 AND length(text) > 0 THEN repeat("
                f"text || ' ', cast(1 + {idiv('1048576', 'length(text) + 1', d)}"
                " as int)) ELSE text END"
            )),
            "embeddings": lambda d, src, cols: _select(cols, src, embedding=(
                "flatten(array_repeat(embedding, 157))" if d == SPARK
                else "flatten(list_transform(range(157), x -> embedding))"
            )),
            "events": lambda d, src, cols: _select(cols, src, props=(
                "'{\"k\": ' || coalesce(" + json_get("props", "k", d)
                + ", 'null') || ', \"nest\": ' || repeat('{\"a\":', 12)"
                " || '1' || repeat('}', 12) || '}'"
            )),
        },
        checkpoint=("documents",),
    ),
    "unicode-text": Surface(
        "every documents.text prefixed with a fixed multilingual gauntlet "
        "— combining marks vs precomposed (cafe\\u0301 vs caf\\u00e9), "
        "4-byte non-BMP emoji (surrogate pairs in UTF-16 engines), CJK, "
        "Greek, Cyrillic, RTL Hebrew, Turkish dotted-I and German eszett "
        "(the classic case-mapping traps), full-width digits — the eleven "
        "prior surfaces stress keys/values/time/payload-SIZE; none "
        "stressed payload CONTENT encoding, where code-point vs byte vs "
        "grapheme length, case mapping, and regex word-class semantics can "
        "silently diverge between engines over a real multilingual 100 TB "
        "corpus",
        _retext(lambda d: f"'{_GAUNTLET} ' || text"),
        checkpoint=("documents",),
    ),
    "duplicate-storm": Surface(
        "every row of the FACT/corpus tables (lineitem, events, documents, "
        "embeddings) duplicated 8x with byte-identical CONTENT but FRESH "
        "surrogate ids (event_id/doc_id/vec_id offset per copy) — the real "
        "crawled-corpus multiplicity scenario: the same document, event, "
        "or vector arriving many times under different identities. "
        "Identity columns must stay unique because ~23 operators carry key "
        "contracts on them (dedup fixpoints, winnowing, stateful replays, "
        "blob fixtures keyed by doc_id) and a COLLIDING duplicate makes "
        "builder-vs-oracle algebra legitimately disagree — that tests the "
        "surface, not the engines. Dims keep their primary keys for the "
        "same reason (agg-then-join vs join-then-agg multiplicity, seen on "
        "the flagship builder). Targets: count-sensitive statistics with "
        "x8 multiplicities, dedup operators on exact-duplicate CONTENT (the "
        "thing they exist for), rank/top-k with >k content-identical "
        "candidates, and self-join fan-out guards (8x rows -> 64x "
        "candidate pairs; caps and DISTINCT-first pair builds must absorb "
        "it)",
        {
            "lineitem": _storm(None),
            "events": _storm("event_id"),
            "documents": _storm("doc_id"),
            "embeddings": _storm("vec_id"),
        },
    ),
}


def apply_surface(spark, con, sf_dir: str, mode: str) -> str:
    """Register surface ``mode`` of the ``sf_dir`` tables on both engines:
    DuckDB views over the parquet files, and Spark views over the real ones
    in the build session of the returned sf_dir, so builders called with
    ``spark`` and it read the substituted views."""
    from rugpull_data_pipeline_spark.plans import registry

    surface = SURFACES[mode]
    key = f"{sf_dir}#{mode}"
    surf = registry.bind_views(spark, key, {})
    register_views(surf, sf_dir)
    subs = {}
    for t in TABLES:
        src = f"read_parquet('{sf_dir}/{t}.parquet')"
        view = surface.views.get(t)
        if view is None:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")
            continue
        cols = surf.table(t).columns
        con.execute(f"CREATE OR REPLACE VIEW {t} AS {view(DUCK, src, cols)}")
        df = surf.sql(view(SPARK, t, cols))
        subs[t] = df.localCheckpoint() if t in surface.checkpoint else df
    registry.bind_views(surf, key, subs)
    return key


def _parser() -> argparse.ArgumentParser:
    modes = "\n".join(
        textwrap.fill(f"{m}: {s.reason}", 78, initial_indent="  ", subsequent_indent="    ")
        for m, s in SURFACES.items()
    )
    ap = argparse.ArgumentParser(
        description=__doc__,
        epilog="modes:\n" + modes,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("--mode", choices=list(SURFACES), default="empty",
                    help="degenerate surface (see modes below)")
    ap.add_argument("--sf", default="sf0.001",
                    help="testdata scale dir name, or a path")
    ap.add_argument("--only", nargs="*", default=None, help="name-prefix filter")
    ap.add_argument("--start", type=int, default=0)
    return ap


def main() -> int:
    args = _parser().parse_args()

    import duckdb

    import __spark_entry__ as e
    from rugpull_data_pipeline_spark.plans import registry
    from rugpull_data_pipeline_spark.session import get_spark

    sf_dir = os.path.join("/root/testdata", args.sf)
    spark = get_spark(app_name="empty-sweep")
    con = duckdb.connect()
    surf_dir = apply_surface(spark, con, sf_dir, args.mode)

    qs, osql = e.queries(), e.oracle_sql()
    names = [
        n
        for n in qs
        if args.only is None or any(n.startswith(p) for p in args.only)
    ][args.start :]

    print(f"mode {args.mode}: {len(names)} queries over {sf_dir}", flush=True)

    sys.path.insert(0, os.path.join(REPO, "tests"))
    from oracle_harness import compare as _value_compare

    # Per-engine watchdog: a query that hangs (the quadratic/inlining
    # classes the degenerate surfaces hunt) must surface as an ERROR row,
    # not block the whole sweep. DuckDB honors con.interrupt() from
    # another thread; Spark honors cancelJobGroup.
    import threading

    def _with_deadline(run, cancel, drain=None):
        # Round-9 ADVICE race fix: the timer callback checks a done flag
        # UNDER A LOCK and holds the lock THROUGH cancel(), while the
        # finally path takes the same lock before marking done — so a
        # cancel can never land after run() completed without us knowing
        # (state["fired"]), and a cancel that did land post-completion is
        # drained (stale DuckDB interrupt flag) before the next query.
        # Timeout classification uses the fired flag, never
        # exception-text substring matching.
        lock = threading.Lock()
        state = {"done": False, "fired": False}

        def _cancel():
            with lock:
                if state["done"]:
                    return
                state["fired"] = True
                try:
                    cancel()
                except Exception:  # noqa: BLE001 - watchdog must not raise
                    pass

        timer = threading.Timer(DEADLINE_S, _cancel)
        timer.start()
        try:
            result, err = run(), None
        except Exception as ex:  # noqa: BLE001
            result = None
            err = f"{type(ex).__name__}: {str(ex).splitlines()[0][:110]}"
        finally:
            with lock:
                state["done"] = True
            timer.cancel()
        if state["fired"]:
            if drain is not None:
                try:
                    drain()
                except Exception:  # noqa: BLE001 - swallowing the poison
                    pass
            err = f"TIMEOUT>{DEADLINE_S}s: " + (err or "cancelled")
            result = None
        return result, err

    tallies: dict[str, list] = {}
    for i, name in enumerate(names):
        t0 = time.time()
        group = f"sweep-{name}"
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
        s_pdf, s_err = _with_deadline(
            lambda: qs[name](spark, surf_dir).toPandas(),
            lambda: spark.sparkContext.cancelJobGroup(group),
        )
        d_pdf = d_err = None
        if name in osql:
            d_pdf, d_err = _with_deadline(
                lambda: con.execute(osql[name]).fetchdf(),
                con.interrupt,
                drain=lambda: con.execute("SELECT 1").fetchall(),
            )
        s_rows = None if s_pdf is None else len(s_pdf)
        d_rows = None if d_pdf is None else len(d_pdf)
        val_note = ""
        if s_err and d_err:
            kind = "both-err"
        elif s_err:
            kind = "spark-err"
        elif d_err:
            kind = "duck-err"
        elif name in osql and s_rows != d_rows:
            kind = "rows-diff"
        elif name in osql:
            problems = _value_compare(s_pdf, d_pdf)
            if problems:
                kind = "val-diff"
                val_note = " | ".join(problems)[:160]
            else:
                kind = "ok"
        else:
            kind = "ok"  # nosql query: rows-only check, like the driver's
        if kind in ("rows-diff", "val-diff"):
            sweep_tags = [
                t for t in registry.get(name).tags if t.startswith("sweep:")
            ]
            if sweep_tags:
                kind = "explained"
                val_note = f"[{sweep_tags[0]}] " + (val_note or f"{s_rows} vs {d_rows} rows")
        tallies.setdefault(kind, []).append(name)
        detail = s_err or d_err or val_note or f"{s_rows} rows"
        print(
            f"[{i + 1 + args.start:3d}/{len(names) + args.start}] "
            f"{kind:9s} {name} ({time.time() - t0:.1f}s) {detail}",
            flush=True,
        )

    print(f"\nEMPTY SWEEP SUMMARY (mode {args.mode})")
    for kind in ("ok", "explained", "val-diff", "rows-diff",
                 "spark-err", "duck-err", "both-err"):
        if kind in tallies:
            print(f"  {kind:9s} {len(tallies[kind])}")
            if kind != "ok":
                for n in tallies[kind]:
                    print(f"      {n}")
    return 0 if set(tallies) <= {"ok", "explained"} else 1


if __name__ == "__main__":
    sys.exit(main())
