"""Round-5 training-data pipeline operators: corpus boilerplate removal,
incremental dedup, target encoding, class rebalancing, co-occurrence
triangles, distribution-drift profiling, group-aware holdout, and exact
higher-moment statistics.

These extend the LLM-curation families (``llm_ops`` / ``corpus_ops`` /
``quality_ops``) with the remaining shapes a daily 100 TB training-data
refresh runs: CCNet-style boilerplate stripping before dedup, "what is NEW
versus the corpus we already have" incremental ingestion, and the
leakage-aware feature/split preparation that sits between curation and
training. Reference anchor: the pipeline's watchlist/dimension semantics
(``SERVER/init_redis_maps.py:62-104``, ``RECEIVER/stage2_processing.cpp``
hot-set membership) are the degenerate forms of the incremental-dedup and
group-holdout shapes here; the rest is capability uplift mandated by
BASELINE.json ("dedup, similarity search, text analysis").

Scale notes (each op, at 1000 executors / 100 TB):
- Boilerplate (CCNet): one partition-parallel explode into fixed word
  segments, one hash-agg on the 8-byte segment hash for document frequency,
  one equi-join back on that same hash — both sides shuffle-partitioned on
  ``sh``, so the join is co-partitioned with the agg that feeds it. No
  full-text comparison anywhere; segments travel as 8-byte hashes.
- Incremental dedup: the classic "new snapshot vs existing corpus"
  LEFT ANTI JOIN on content hash. Catalyst plans NOT EXISTS as an anti
  join; at scale the base side is a hash-bucketed table and AQE picks
  shuffle-hash anti join (or a bloom-filter pre-pass via
  spark.sql.optimizer.runtime.bloomFilter.enabled) — the incoming side is
  touched once.
- Target encoding / rebalance / holdout: one window or map-only pass each,
  shuffling on the encoded key only. The LOO form never materializes a
  per-row dictionary; it is algebra over two window aggregates.
- Triangles: membership is capped per co-occurrence group (≤ _GRP_CAP,
  mirrored in the oracle) BEFORE the pair build, so a hot group cannot
  detonate the quadratic edge step — the same guard convention as the LSH
  band cap (llm_ops) and the shingle df cap. The triangle join itself is
  the standard ordered-edge (a<b<c) 3-way equi-join on node ids.
- PSI drift: two hash-aggs over (type, half, bin) — a few hundred groups
  regardless of input size — then driver-free algebra on the tiny grid.
- Moments: single hash-agg of exact decimal power sums (order-independent,
  engine-identical); skew/kurtosis are post-agg algebra on four numbers
  per group.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .registry import pair


# ---------------------------------------------------------------------------
# CCNet-style boilerplate segment removal
# ---------------------------------------------------------------------------

_SEG = 4  # words per segment
_BOILER_DF = 5  # segments appearing in >= this many distinct docs are boilerplate


def _boilerplate(d: str) -> str:
    if d == SPARK:
        stext = S.arr_join(
            S.arr_slice("toks", f"(i - 1) * {_SEG} + 1", str(_SEG), d), "' '", d
        )
        nseg = f"ceil({S.arr_len('toks', d)} / {_SEG}.0)"
        lateral = f"LATERAL VIEW explode(sequence(1, cast({nseg} as int))) t_i AS i"
        tok_src = f"SELECT /*+ REPARTITION */ doc_id, {S.toks(d)} AS toks FROM documents"
        # Single-pass shape (r13, guide §2.4): Spark inlines the segs CTE
        # into BOTH consumers (the df aggregate and the join back), so the
        # two-consumer form scanned + tokenized + hashed documents TWICE.
        # Pre-aggregating to one (doc_id, sh) row with its multiplicity n,
        # then attaching df = count(*) over (partition by sh) — one row per
        # distinct doc per segment, so the window count IS the distinct-doc
        # frequency — plans the tokenize pipeline once: 2 documents scans ->
        # 1, 7 exchanges -> 5 (plans/r13/text_boilerplate_ccnet_*.txt);
        # interleaved median 1.650 -> 1.240 s at sf0.1. Skew note: the
        # window funnels df rows per hot segment into one partition, but
        # the old join funneled every OCCURRENCE of that segment, so the
        # exposure strictly shrinks.
        return f"""
    WITH segs AS (
        SELECT doc_id, i AS sidx,
            {S.portable_hash64(stext, d)} AS sh
        FROM ({tok_src}) t
        {lateral}
    ),
    g AS (
        SELECT doc_id, sh, count(*) AS n FROM segs GROUP BY doc_id, sh
    ),
    w AS (
        SELECT doc_id, n, count(*) OVER (PARTITION BY sh) AS df FROM g
    )
    SELECT doc_id,
        {S.isum('n', d)} AS n_segments,
        {S.isum(f'CASE WHEN df >= {_BOILER_DF} THEN n ELSE 0 END', d)}
            AS n_boilerplate,
        round({S.isum(f'CASE WHEN df >= {_BOILER_DF} THEN n ELSE 0 END', d)}
            / cast({S.isum('n', d)} as double), 6) AS boiler_frac
    FROM w GROUP BY doc_id ORDER BY doc_id
    """
    else:
        # Grouped zipped unnest, not arr_slice in a lateral fan-out (the
        # slice paid O(len(list)) per segment and copied the token list
        # per segment row — unbounded on the giant-payload surface's
        # 150k-token doc; r9 sweep). MATERIALIZED: segs is read by freq
        # AND the final join.
        segs = f"""segs AS MATERIALIZED (
        SELECT doc_id, cidx AS sidx, {S.portable_hash64('stext', d)} AS sh
        FROM (
            SELECT doc_id, ((pos - 1) // {_SEG}) + 1 AS cidx,
                string_agg(tok, ' ' ORDER BY pos) AS stext
            FROM (
                SELECT doc_id,
                    unnest(range(1, len(toks) + 1)) AS pos,
                    unnest(toks) AS tok
                FROM (SELECT doc_id, {S.toks(d)} AS toks FROM documents) t
            ) z
            GROUP BY doc_id, ((pos - 1) // {_SEG}) + 1
        ) g
    )"""
    return f"""
    WITH {segs},
    freq AS (
        SELECT sh, count(DISTINCT doc_id) AS df FROM segs GROUP BY sh
    )
    SELECT s.doc_id,
        count(*) AS n_segments,
        {S.isum(f'CASE WHEN f.df >= {_BOILER_DF} THEN 1 ELSE 0 END', d)}
            AS n_boilerplate,
        round({S.isum(f'CASE WHEN f.df >= {_BOILER_DF} THEN 1 ELSE 0 END', d)}
            / cast(count(*) as double), 6) AS boiler_frac
    FROM segs s JOIN freq f ON s.sh = f.sh
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """


pair(
    "text_boilerplate_ccnet",
    _boilerplate,
    tags=("text", "curation"),
    doc="CCNet-style boilerplate detection: fixed 4-word segments hashed "
    "corpus-wide; a segment present in >= 5 distinct documents is "
    "boilerplate (nav bars, headers, license blocks at web scale). Per doc: "
    "segment count, boilerplate segment count, boilerplate fraction — the "
    "removal gate a curation pipeline applies before dedup so shared "
    "chrome does not glue unrelated documents into one near-dup cluster. "
    "One explode, one (doc, hash) pre-aggregation, and an in-plan window "
    "count over the hash attaches each segment's distinct-document "
    "frequency — the corpus is tokenized once and segments travel as "
    "8-byte hashes only.",
)


# ---------------------------------------------------------------------------
# Incremental dedup: new snapshot vs existing corpus
# ---------------------------------------------------------------------------


def _incremental(d: str) -> str:
    # Base corpus = single-digit sources (src0..src9); incoming snapshot =
    # double-digit sources (src10..src19). Survivors: incoming docs whose
    # exact content hash is (a) unseen in the base corpus and (b) first
    # within the snapshot itself (keep-first by doc_id).
    return f"""
    WITH base AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE length(source) = 4
    ),
    inc AS (
        SELECT doc_id, source, md5(text) AS h
        FROM documents WHERE length(source) = 5
    ),
    firsts AS (
        SELECT doc_id, source, h,
            row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM inc
    )
    SELECT f.doc_id, f.source, f.h AS content_hash
    FROM firsts f
    WHERE f.rn = 1
      AND NOT EXISTS (SELECT 1 FROM base b WHERE b.h = f.h)
    ORDER BY f.doc_id
    """


pair(
    "dedup_incremental_newonly",
    _incremental,
    tags=("dedup", "etl"),
    doc="Incremental ingestion dedup: an incoming snapshot (sources "
    "src10..src19) is admitted only where its exact content hash is absent "
    "from the existing corpus (src0..src9) AND first within the snapshot "
    "(keep-first window on the hash). NOT EXISTS plans as a LEFT ANTI "
    "JOIN on the 16-byte hash; at 100 TB the base is a bucketed hash "
    "table and the runtime bloom filter prunes the incoming side before "
    "the shuffle — the daily-crawl shape where yesterday's corpus is the "
    "dedup reference, not a peer.",
)


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------

_TE_SMOOTH = 10  # pseudo-observations of the global mean


def _target_encode(d: str) -> str:
    # Exact decimal sums keep the fold order-independent and
    # engine-identical; LOO excludes the row's own target so the encoding
    # leaks nothing about its own label. The global mean is a 1-row
    # aggregate cross-joined in (broadcast) — NOT an OVER () window, which
    # would funnel every row through a single partition.
    wsum = (
        "cast(sum(cast(value as decimal(38,6)))"
        " OVER (PARTITION BY event_type) as double)"
    )
    return f"""
    WITH gstats AS (
        SELECT {S.davg('value', d)} AS gmean FROM events
    )
    SELECT event_id, event_type,
        round(CASE WHEN cnt > 1 THEN (s - value) / (cnt - 1) END, 6)
            AS te_loo,
        round((s - value + {_TE_SMOOTH} * gmean)
              / (cnt - 1 + {_TE_SMOOTH}), 6) AS te_smooth
    FROM (
        SELECT event_id, event_type, value,
            {wsum} AS s,
            count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events
    ) w, gstats
    ORDER BY event_id
    """


pair(
    "mlprep_target_encode_loo",
    _target_encode,
    tags=("mlprep",),
    doc="Leave-one-out target encoding of event_type against value: "
    "te_loo = (sum - own) / (n - 1) per category, te_smooth adds 10 "
    "pseudo-observations of the global mean (the m-estimate). One window "
    "shuffle on the category; sums are exact decimal so the result is "
    "order-independent across engines and partitionings. The encoding "
    "never materializes a dictionary — it is algebra over two window "
    "aggregates, so at 100 TB it is one shuffle, no driver state.",
)


# ---------------------------------------------------------------------------
# Class rebalancing (downsample to minority count)
# ---------------------------------------------------------------------------


def _rebalance(d: str) -> str:
    h = S.portable_hash64("cast(event_id as string)", d)
    return f"""
    WITH ranked AS (
        SELECT event_id, event_type,
            row_number() OVER (
                PARTITION BY event_type ORDER BY {h}, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events
    ),
    minority AS (
        SELECT min(cnt) AS mc FROM (
            SELECT event_type, max(cnt) AS cnt FROM ranked GROUP BY event_type
        ) per_type
    )
    SELECT r.event_id, r.event_type, r.rn AS sample_rank
    FROM ranked r, minority m
    WHERE r.rn <= m.mc
    ORDER BY r.event_id
    """


pair(
    "sample_class_rebalance",
    _rebalance,
    tags=("sampling", "mlprep"),
    doc="Deterministic class rebalancing: every event_type downsampled to "
    "the minority class count, rows chosen by hash order (portable 60-bit "
    "hash of event_id) so the sample is stable across runs, engines and "
    "partitionings — no rand(), no seed plumbing. One window shuffle on "
    "the class key plus a 1-row broadcast of the minority count.",
)


# ---------------------------------------------------------------------------
# Co-occurrence triangle counting
# ---------------------------------------------------------------------------

_GRP_CAP = 40  # max members per co-occurrence group admitted to the pair build


def _hour_bucket(d: str) -> str:
    if d == SPARK:
        return "date_format(ts, 'yyyy-MM-dd HH')"
    return "strftime(ts, '%Y-%m-%d %H')"


def _tri_edges(d: str) -> str:
    """Capped co-occurrence edge build: one distinct pair join."""
    return f"""
    WITH member AS (
        SELECT DISTINCT user_id, event_type, {_hour_bucket(d)} AS bucket
        FROM events
    ),
    sized AS (
        SELECT user_id, event_type, bucket,
            count(*) OVER (PARTITION BY event_type, bucket) AS gsz
        FROM member
    ),
    capped AS (
        SELECT user_id, event_type, bucket FROM sized WHERE gsz <= {_GRP_CAP}
    )
    SELECT DISTINCT a.user_id AS u, b.user_id AS v
    FROM capped a JOIN capped b
        ON a.event_type = b.event_type AND a.bucket = b.bucket
        AND a.user_id < b.user_id
    """


def _tri_orient(d: str, edges: str) -> str:
    """Degree-ordered orientation of the edge core ``edges``.

    Each edge points from the lower-(degree, id) endpoint: every triangle
    keeps exactly ONE acyclic orientation, and the wedge join's fan-out per
    node drops from deg^2 to outdeg^2, where outdeg is bounded by ~sqrt(2m)
    on skewed graphs — the standard exact hardening against hub detonation.
    ``deg`` is inlined twice; both consumers aggregate the (materialized)
    edge table, never the raw events. Multi-consumer CTEs are MATERIALIZED
    on the DuckDB side (the HITS-oracle convention)."""
    mat = "MATERIALIZED " if d == DUCK else ""
    deg = (
        "SELECT node, cast(count(*) as bigint) AS dg "
        "FROM (SELECT u AS node FROM edges "
        "      UNION ALL SELECT v AS node FROM edges) s "
        "GROUP BY node"
    )
    return f"""
    WITH edges AS {mat}({edges})
    SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                THEN e.u ELSE e.v END AS u,
           CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
                THEN e.v ELSE e.u END AS v
    FROM edges e
    JOIN ({deg}) du ON du.node = e.u
    JOIN ({deg}) dv ON dv.node = e.v
    """


def _triangles(d: str, oriented: str) -> str:
    """Per-corner triangle participation counts over the oriented edges.

    Spark: ONE wedge join; the three corners explode from an inline
    3-array straight into a partial-aggregating hash-agg — the triangle
    set streams through codegen and is never re-scanned.

    DuckDB (oracle): the dense fixture graph closes ~192M triangles, and
    unnesting 3x that through one aggregation measured 400+ s; instead
    each corner role is counted by its own GROUP BY pushed INTO the wedge
    join (3 joins over the MATERIALIZED oriented table, ~4 s each), then
    the three per-role count tables are summed — trivially the same
    multiset: every triangle contributes exactly once per corner role.

    Both the edge table and the oriented table are shared: raw CTE
    inlining re-evaluated the edge build combinatorially (90 scans / 274
    exchanges at sf0.01, ~90 s at sf0.1)."""
    wedge = (
        "FROM oriented e1 "
        "JOIN oriented e2 ON e2.u = e1.v "
        "JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v"
    )
    if d == SPARK:
        return f"""
    WITH oriented AS ({oriented}),
    tri AS (
        SELECT e1.u AS na, e1.v AS nb, e2.v AS nc
        {wedge}
    )
    SELECT user_id, count(*) AS n_triangles
    FROM (SELECT explode(array(na, nb, nc)) AS user_id FROM tri) corners
    GROUP BY user_id
    ORDER BY n_triangles DESC, user_id
    LIMIT 20
    """
    return f"""
    WITH oriented AS MATERIALIZED ({oriented}),
    corner_counts AS (
        SELECT e1.u AS user_id, count(*) AS c {wedge} GROUP BY e1.u
        UNION ALL
        SELECT e1.v AS user_id, count(*) AS c {wedge} GROUP BY e1.v
        UNION ALL
        SELECT e2.v AS user_id, count(*) AS c {wedge} GROUP BY e2.v
    )
    SELECT user_id, cast(sum(c) AS bigint) AS n_triangles
    FROM corner_counts
    GROUP BY user_id
    ORDER BY n_triangles DESC, user_id
    LIMIT 20
    """


pair(
    "graph_triangle_count",
    _triangles,
    shared={"edges": _tri_edges, "oriented": _tri_orient},
    tags=("graph",),
    doc="Triangle counting over the user co-occurrence graph (users active "
    "in the same event_type within the same hour are adjacent). Edges are "
    "DEGREE-ORDER ORIENTED before the wedge join (each edge points from "
    "its lower-(degree, id) endpoint), so every triangle is enumerated "
    "exactly once AND a hub's wedge fan-out is bounded by its OUT-degree "
    "(~sqrt(2m) on skewed graphs) instead of its full degree squared — "
    "the standard exact hardening on top of the 40-member group cap that "
    "already guards the pair build. The edge table and the oriented table "
    "are localCheckpointed once each (the kcore/LPA convention — the "
    "wedge join consumes `oriented` three times, and raw-SQL CTE inlining "
    "re-ran the whole edge build per consumer); the three corners explode "
    "from one array so the triangle set is scanned once; top-20 by "
    "TakeOrderedAndProject.",
)


# ---------------------------------------------------------------------------
# Population-stability-index drift profiling
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_PRIOR = 0.5  # Laplace smoothing per bin


def _psi_counts(d: str) -> str:
    """The (event_type, half, bin) count grid — the ONE pass over facts."""
    day = "cast(floor(" + S.epoch_s("ts", d) + " / 86400) as bigint)"
    bin_expr = "least(9, greatest(0, cast(floor(value / 10) as int)))"
    return f"""
        SELECT event_type, half, bin, count(*) AS c
        FROM (
            SELECT event_type,
                CASE WHEN {day} % 2 = 0 THEN 'A' ELSE 'B' END AS half,
                {bin_expr} AS bin
            FROM events
        ) binned GROUP BY event_type, half, bin
    """


def _psi_drift(d: str, counts: str) -> str:
    # Every operand forced to DOUBLE before the division: a bare 0.5/5.0
    # literal is DECIMAL in both engines, and Spark's and DuckDB's
    # decimal-DIVISION scale rules differ (~1e-9 in the quotient — enough
    # to cross a 6-dp rounding quantum on an unlucky term). Pure IEEE
    # double arithmetic is bit-identical across engines.
    smooth_tot = f"{_PSI_PRIOR * _PSI_BINS}"
    pa = (
        f"((cast(grid.ca as double) + {_PSI_PRIOR})"
        f" / (cast(tot.ta as double) + {smooth_tot}))"
    )
    pb = (
        f"((cast(grid.cb as double) + {_PSI_PRIOR})"
        f" / (cast(tot.tb as double) + {smooth_tot}))"
    )
    # ``counts`` is shared: inlined, grid/types/tot each re-ran the fact
    # hash-agg (4 fact scans planned - the round-11 registry-wide plan
    # audit). types derives from counts (binned has no row filter, so
    # every event type present in events is present in counts).
    return f"""
    WITH counts AS ({counts}),
    types AS (SELECT DISTINCT event_type FROM counts),
    grid AS (
        SELECT t.event_type, b.bin,
            coalesce(max(CASE WHEN c.half = 'A' THEN c.c END), 0) AS ca,
            coalesce(max(CASE WHEN c.half = 'B' THEN c.c END), 0) AS cb
        FROM types t
        CROSS JOIN (SELECT i AS bin FROM (SELECT 1 AS one) o
                    {S.explode_seq('i', '0', str(_PSI_BINS - 1), d)}) b
        LEFT JOIN counts c ON c.event_type = t.event_type AND c.bin = b.bin
        GROUP BY t.event_type, b.bin
    ),
    tot AS (
        SELECT event_type, {S.isum('ca', d)} AS ta, {S.isum('cb', d)} AS tb
        FROM grid GROUP BY event_type
    )
    SELECT grid.event_type,
        round({S.dsum(f'({pa} - {pb}) * ln({pa} / {pb})', d)}, 6) AS psi,
        max(tot.ta) AS n_even_days, max(tot.tb) AS n_odd_days
    FROM grid JOIN tot ON grid.event_type = tot.event_type
    GROUP BY grid.event_type
    ORDER BY grid.event_type
    """


pair(
    "profile_drift_psi",
    _psi_drift,
    shared={"counts": _psi_counts},
    tags=("profiling", "mlprep"),
    doc="Population Stability Index between even- and odd-day event halves, "
    "per event_type over 10 fixed value bins with Laplace-smoothed "
    "(+0.5/bin) probabilities: psi = sum (pa-pb)*ln(pa/pb). The drift "
    "monitor a training pipeline runs on every refresh to catch a "
    "distribution shift before it poisons a mixture. Two hash-aggs down "
    "to a (type x half x bin) grid of a few hundred rows — input size "
    "only affects the first agg's map side; everything after is algebra "
    "on the tiny grid. The grid is localCheckpointed so its consumers "
    "share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# Group-aware holdout split
# ---------------------------------------------------------------------------

_HOLDOUT_BUCKETS = 5  # 1/5 of users -> test


def _group_holdout(d: str) -> str:
    h = S.portable_hash64("cast(user_id as string)", d)
    return f"""
    SELECT event_id, user_id,
        cast({h} % {_HOLDOUT_BUCKETS} as int) AS user_bucket,
        CASE WHEN {h} % {_HOLDOUT_BUCKETS} = 0 THEN 'test' ELSE 'train' END
            AS split
    FROM events
    ORDER BY event_id
    """


pair(
    "sample_group_holdout",
    _group_holdout,
    tags=("sampling", "mlprep"),
    doc="Group-aware holdout: the split key is a hash of user_id, so every "
    "event of a user lands in the same fold — the leakage guard "
    "complementing sample_temporal_split (which cuts on time, this cuts "
    "on entity). Map-only, zero shuffle, stable across engines via the "
    "portable 60-bit hash; ~20% of users (not rows) become test.",
)


# ---------------------------------------------------------------------------
# Exact higher moments (skewness / kurtosis) via decimal power sums
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: MinHash LSH of the snapshot against the base corpus
# ---------------------------------------------------------------------------


_SIDE = "CASE WHEN length(source) = 4 THEN 'base' ELSE 'inc' END"


def _mhi_shingles(d: str) -> str:
    """(doc_id, side, shh): dedup_minhash_lsh's hashed shingles, each
    tagged with its document's corpus side (src0..src9 are 'base')."""
    from .llm_ops import _ngram_shingles

    shh = S.portable_hash64("sh", d)
    if d == SPARK:
        # ``side`` rides through the shingle explode (one tiny string per
        # shingle row) instead of re-scanning documents for a join back
        # onto the signature aggregate — the join cost a second fact scan
        # plus a broadcast probe per signature row (r13; guide §2.2
        # shuffle fewer bytes beats re-deriving them).
        return f"""
        SELECT doc_id, side, {shh} AS shh FROM (
            SELECT doc_id, side, explode(array_distinct(transform(
                sequence(1, size(toks) - 2),
                i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1),
                            ' ', element_at(toks, i + 2))
            ))) AS sh
            FROM (SELECT /*+ REPARTITION */ doc_id, {_SIDE} AS side,
                  {S.toks(SPARK)} AS toks FROM documents) t
            WHERE size(toks) >= 3
        ) raw
        """
    return f"""
        SELECT raw.doc_id, t.side, {shh} AS shh
        FROM ({_ngram_shingles(d)}) raw
        JOIN (SELECT doc_id, {_SIDE} AS side FROM documents) t
            ON t.doc_id = raw.doc_id
    """


def _mhi_bands_capped(d: str, sh: str) -> str:
    # The signature aggregate is NOT shared on its own — its only consumer
    # is this bands build, so the r12 sigs checkpoint was a pure extra
    # materialization job (r13 interleaved: 1.780 -> 1.468 s median with
    # it folded in here).
    from .llm_ops import _mh_bands

    return f"""
    WITH sh_hashed AS ({sh}),{_mh_bands(d, side=True)}
    SELECT doc_id, side, band, band_key FROM bands_capped
    """


def _minhash_incremental(d: str, sh: str, bc: str) -> str:
    # Same signature/banding machinery as dedup_minhash_lsh (16 portable
    # minhashes over word-3-gram shingles, 4x4 banding, bucket cap), but the
    # candidate join is CROSS-CORPUS ONLY: incoming bands (src10..src19)
    # probe base bands (src0..src9). Within-snapshot and within-base pairs
    # never form — the daily-ingest shape where yesterday's corpus is the
    # reference, re-signing nothing (at scale the base signatures are a
    # materialized table; here they derive in the same query).
    # ``sh`` and ``bc`` are shared: inlined, sigs/doc_sets and the two
    # band-probe sides re-ran the shingle explode (6 fact scans planned -
    # the round-11 registry-wide plan audit), and both probe sides re-ran
    # the posexplode + count-over-window bucket cap (round-12 pass, same
    # trade as dedup_minhash_lsh).
    from .llm_ops import _mh_jaccard

    doc_sets, jacc = _mh_jaccard(d)
    return f"""
    WITH sh_hashed AS ({sh}),
    bands_capped AS ({bc}),
    candidates AS (
        SELECT DISTINCT a.doc_id AS inc_doc, b.doc_id AS base_doc
        FROM bands_capped a
        JOIN bands_capped b ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.side = 'inc' AND b.side = 'base'
    ),
    doc_sets AS ({doc_sets})
    SELECT c.inc_doc, c.base_doc, round({jacc}, 6) AS jaccard
    FROM candidates c
    JOIN doc_sets sa ON sa.doc_id = c.inc_doc
    JOIN doc_sets sb ON sb.doc_id = c.base_doc
    WHERE {jacc} >= 0.1
    ORDER BY c.inc_doc, c.base_doc
    """


pair(
    "dedup_minhash_incremental",
    _minhash_incremental,
    shared={"sh": _mhi_shingles, "bc": _mhi_bands_capped},
    tags=("dedup", "etl"),
    doc="Cross-corpus near-dup: the incoming snapshot (src10..src19) LSH-"
    "probes the existing corpus (src0..src9) through the same 16-minhash / "
    "4x4-band machinery as dedup_minhash_lsh, but candidates form ONLY "
    "across the corpus boundary — the near-dup complement of "
    "dedup_incremental_newonly's exact-hash gate. Band buckets stay "
    "capped (>32 docs skipped) so a boilerplate cluster spanning both "
    "corpora cannot detonate the probe; at 100 TB the base-side "
    "signatures and bands are a materialized bucketed table, making the "
    "daily probe a co-partitioned equi-join against static state. The "
    "hashed shingles and signature table are localCheckpointed - the "
    "same materialization, in-query - so the explode runs once.",
)


# ---------------------------------------------------------------------------
# Partition-skew advisor (lakehouse layout ops)
# ---------------------------------------------------------------------------


def _skew_advisor(d: str) -> str:
    med = (
        "percentile(n_rows, 0.5)" if d == SPARK else "quantile_cont(n_rows, 0.5)"
    )
    return f"""
    WITH per_part AS (
        SELECT {S.fmt_month('l_shipdate', d)} AS part_month,
            count(*) AS n_rows
        FROM lineitem GROUP BY {S.fmt_month('l_shipdate', d)}
    ),
    stats AS (
        SELECT {med} AS med, {S.isum('n_rows', d)} AS total FROM per_part
    )
    SELECT part_month, n_rows,
        round(n_rows / cast(total as double), 6) AS row_share,
        round(n_rows / med, 6) AS skew_vs_median,
        cast(greatest(1, ceil(n_rows / med)) as int) AS advised_salt
    FROM per_part, stats
    ORDER BY part_month
    """


pair(
    "layout_partition_skew_advisor",
    _skew_advisor,
    tags=("layout", "profiling"),
    doc="Partition-skew advisor over the ship-month partitioning of "
    "lineitem: per-partition row counts, share of total, skew ratio "
    "against the median partition, and the salting factor "
    "(ceil(rows/median)) a writer should apply before shuffling on this "
    "key — the planning input for AQE-less engines and for choosing "
    "bucketing factors. One hash-agg over the fact table (map-side "
    "partial), then algebra on the O(partitions) summary joined to a "
    "1-row stats broadcast.",
)


# ---------------------------------------------------------------------------
# Markov stationary distribution (power iteration over the transition chain)
# ---------------------------------------------------------------------------


def _markov_p_core(d: str) -> str:
    """The row-normalized k x k transition-probability grid — the ONE
    fact lag-window pass."""
    return """
    WITH steps AS (
        SELECT user_id, event_type,
            lead(event_type) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, next_type AS dst, count(*) AS c
        FROM steps WHERE next_type IS NOT NULL GROUP BY event_type, next_type
    )
    SELECT src, dst,
        c / cast(sum(c) OVER (PARTITION BY src) as double) AS p
    FROM trans
    """


def _markov_stationary(d: str, p: str) -> str:
    # Three power iterations x' = xP over the event-type transition matrix.
    # Each iteration is a join against the tiny (k x k) probability table —
    # the same broadcast-iteration shape as graph_pagerank_power3 — and the
    # decimal-exact dsum keeps every iteration order-independent.
    def step(prev: str) -> str:
        return (
            f"SELECT p.dst AS state, {S.dsum(f'{prev}.w * p.p', d)} AS w "
            f"FROM {prev} JOIN p ON p.src = {prev}.state GROUP BY p.dst"
        )

    # The k x k probability grid is a shared core: inlined, each power
    # step (and states) re-ran the fact lag window (5 fact scans
    # planned — the round-11 registry-wide plan audit).
    return f"""
    WITH p AS ({p}),
    states AS (SELECT DISTINCT src AS state FROM p),
    x0 AS (
        SELECT state,
            1.0 / cast((SELECT count(*) FROM states) as double) AS w
        FROM states
    ),
    x1 AS ({step('x0')}),
    x2 AS ({step('x1')}),
    x3 AS ({step('x2')})
    SELECT state AS event_type, round(w, 6) AS stationary_w
    FROM x3 ORDER BY state
    """


pair(
    "events_markov_stationary",
    _markov_stationary,
    shared={"p": _markov_p_core},
    tags=("events", "graph", "iterative"),
    doc="Stationary distribution of the per-user event-type transition "
    "chain: one lag window builds the transition counts, row-normalized "
    "into P, then three power iterations x' = xP from the uniform vector. "
    "The heavy work is the single window shuffle over the fact table; the "
    "iterations are joins against the k x k probability table (broadcast "
    "at any scale, k = event-type cardinality), the same "
    "collect-nothing iteration shape as graph_pagerank_power3. Decimal "
    "dsum makes every iteration order-independent, so engines and "
    "partitionings agree exactly. The probability grid is "
    "localCheckpointed so the fact lag window runs once.",
)


# ---------------------------------------------------------------------------
# Running distinct count (first-touch flag, no growing state)
# ---------------------------------------------------------------------------


def _running_distinct(d: str) -> str:
    return f"""
    WITH flagged AS (
        SELECT event_id, user_id, ts, event_type,
            CASE WHEN row_number() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT event_id, user_id,
        cast(sum(first_seen) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
            AS distinct_types_so_far
    FROM flagged
    ORDER BY event_id
    """


pair(
    "window_running_distinct_types",
    _running_distinct,
    tags=("window", "events"),
    doc="Running distinct-count per user (how many distinct event types "
    "has this user touched so far): a first-occurrence flag via "
    "row_number over (user, type), then a plain running sum of the flag "
    "over (user, time). The naive form — size(collect_set() OVER ...) — "
    "carries a growing set through every frame and dies at scale; the "
    "flag decomposition is two bounded window shuffles with O(1) state "
    "per row, the standard trick for distinct-so-far.",
)


# ---------------------------------------------------------------------------
# Top-k category encoding ('other' rollup + count encoding)
# ---------------------------------------------------------------------------

_ONEHOT_K = 3


def _category_encode(d: str) -> str:
    return f"""
    WITH freq AS (
        SELECT event_type, count(*) AS c FROM events GROUP BY event_type
    ),
    topk AS (
        SELECT event_type FROM freq ORDER BY c DESC, event_type
        LIMIT {_ONEHOT_K}
    )
    SELECT e.event_id,
        CASE WHEN t.event_type IS NOT NULL THEN e.event_type
             ELSE 'other' END AS feature_name,
        f.c AS count_enc
    FROM events e
    JOIN freq f ON f.event_type = e.event_type
    LEFT JOIN topk t ON t.event_type = e.event_type
    ORDER BY e.event_id
    """


pair(
    "mlprep_category_encode",
    _category_encode,
    tags=("mlprep",),
    doc="Categorical feature encoding: the top-3 categories by frequency "
    "keep their identity, the tail rolls up to 'other' (bounded one-hot "
    "vocabulary), and every row carries its category's global frequency "
    "(count encoding). The top-k is an ordered LIMIT (TakeOrderedAndProject"
    " — no global window over the category table, which at web scale is "
    "high-cardinality), and both lookups are broadcast joins against "
    "aggregate tables keyed by category.",
)


# ---------------------------------------------------------------------------
# Benford first-digit fraud screen
# ---------------------------------------------------------------------------

import math as _math

_BENFORD_P = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


def _benford(d: str) -> str:
    # First significant digit WITHOUT log10-of-double (libm floor(log10(x))
    # can straddle an integer differently per engine near powers of ten):
    # values quantize to integer cents, and the leading character of the
    # integer's decimal rendering — engine-identical by construction — is
    # the digit.
    digit = (
        "cast(substring(cast(cast(round(value * 100) as bigint) as string),"
        " 1, 1) as int)"
    )
    p_case = " ".join(f"WHEN {dd} THEN {p!r}" for dd, p in _BENFORD_P.items())
    return f"""
    WITH digits AS (
        SELECT event_type, {digit} AS d1
        FROM events WHERE value > 0
    ),
    counts AS (
        SELECT event_type, d1, count(*) AS c
        FROM digits GROUP BY event_type, d1
    ),
    types AS (
        SELECT event_type, count(*) AS n FROM digits GROUP BY event_type
    ),
    grid AS (
        SELECT t.event_type, t.n, g.d1,
            coalesce(max(c.c), 0) AS obs,
            cast(CASE g.d1 {p_case} END as double)
                * cast(t.n as double) AS exp
        FROM types t
        CROSS JOIN (SELECT d1 FROM (SELECT 1 AS one) o
                    {S.explode_seq('d1', '1', '9', d)}) g
        LEFT JOIN counts c ON c.event_type = t.event_type AND c.d1 = g.d1
        GROUP BY t.event_type, t.n, g.d1
    )
    SELECT event_type, max(n) AS n_pos,
        round({S.dsum('(obs - exp) * (obs - exp) / exp', d)}, 6)
            AS chi_square,
        round(max(CASE WHEN d1 = 1 THEN obs / cast(n as double) END), 6)
            AS digit1_share
    FROM grid
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "profile_benford_screen",
    _benford,
    tags=("profiling", "quality"),
    doc="Benford's-law first-digit screen per event_type: observed leading-"
    "digit counts against the log10(1+1/d) expectation, chi-square "
    "distance and the digit-1 share (fabricated or synthetic financial "
    "values flatten the curve — the wash-trading/rugpull tell). The digit "
    "extracts from the integer-cents rendering, NOT floor(log10(x)) "
    "(libm rounding near powers of ten differs per engine); one hash-agg "
    "over the fact table, then algebra on the 9-bin-per-type grid.",
)


# ---------------------------------------------------------------------------
# Exact higher moments (skewness / kurtosis) via decimal power sums
# ---------------------------------------------------------------------------


def _moments(d: str) -> str:
    # Engine aggregate skewness()/kurtosis() differ between Spark
    # (population) and DuckDB (sample, bias-corrected) — so compute both
    # from exact decimal power sums with one shared formula instead.
    s1 = "cast(sum(cast(value as decimal(38,6))) as double)"
    s2 = "cast(sum(cast(value * value as decimal(38,6))) as double)"
    s3 = "cast(sum(cast(value * value * value as decimal(38,6))) as double)"
    s4 = "cast(sum(cast(value * value * value * value as decimal(38,6))) as double)"
    return f"""
    WITH sums AS (
        SELECT event_type, cast(count(*) as double) AS n,
            {s1} AS s1, {s2} AS s2, {s3} AS s3, {s4} AS s4
        FROM events GROUP BY event_type
    ),
    mom AS (
        SELECT event_type, n, s1 / n AS mu,
            s2 / n - (s1 / n) * (s1 / n) AS m2,
            s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * power(s1 / n, 3) AS m3,
            s4 / n - 4 * (s1 / n) * (s3 / n)
                + 6 * power(s1 / n, 2) * (s2 / n) - 3 * power(s1 / n, 4) AS m4
        FROM sums
    )
    SELECT event_type, cast(n as bigint) AS n_rows,
        round(mu, 6) AS mean_value,
        round(m2, 6) AS var_pop,
        CASE WHEN m2 > 0 THEN round(m3 / power(m2, 1.5), 6) END
            AS skewness_pop,
        CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3, 6) END
            AS excess_kurtosis
    FROM mom
    ORDER BY event_type
    """


pair(
    "profile_moments_skew_kurtosis",
    _moments,
    tags=("profiling",),
    doc="Per-type mean/variance/skewness/excess-kurtosis from exact "
    "decimal power sums (one hash-agg; order-independent, so partitioning "
    "cannot change the answer) with the population formulas applied as "
    "post-agg algebra — sidestepping the Spark-vs-DuckDB disagreement on "
    "whether skewness()/kurtosis() are population or bias-corrected "
    "sample statistics. The distribution profile a mixture designer reads "
    "next to profile_drift_psi.",
)


# ---------------------------------------------------------------------------
# Logistic regression by full-batch gradient descent (broadcast iteration)
# ---------------------------------------------------------------------------

_LR_ITERS = 3
_LR_RATE = "1.0"  # learning rate (double literal, cast at use sites)


def _lr_feats(d: str) -> str:
    # Every ratio forced through double casts: a bare 1000.0 divisor is a
    # DECIMAL literal and the engines' decimal-division scale rules differ.
    toks = S.toks(d)
    ntok = f"cast({S.arr_len('toks', d)} as double)"
    ndis = f"cast({S.arr_len(S.arr_distinct('toks', d), d)} as double)"
    return f"""
    SELECT doc_id,
        CASE WHEN lang = 'en' THEN cast(1 as double)
             ELSE cast(0 as double) END AS y,
        cast(n_chars as double) / cast(1000 as double) AS x1,
        {ntok} / cast(100 as double) AS x2,
        {ndis} / greatest({ntok}, cast(1 as double)) AS x3
    FROM (SELECT doc_id, lang, n_chars, {toks} AS toks FROM documents) t
    """


def _lr_z(w: list[str]) -> str:
    return (
        f"(cast({w[0]} as double) + cast({w[1]} as double) * x1"
        f" + cast({w[2]} as double) * x2 + cast({w[3]} as double) * x3)"
    )


def _lr_grad_cols(d: str) -> list[str]:
    """The 4 gradient columns over rows carrying the prediction ``p``."""
    xs = ["cast(1 as double)", "x1", "x2", "x3"]
    return [
        f"{S.dsum(f'(y - p) * {x}', d)} / cast(count(*) as double) AS g{j}"
        for j, x in enumerate(xs)
    ]


def _lr_wv(d: str, table: str) -> str:
    """The weights of the 1-row table ``table`` as ONE struct-valued scalar
    subquery, so each round reads its predecessor once and the inlined
    rounds nest linearly (a subquery per weight multiplied the plan by 4
    at every round)."""
    if d == SPARK:
        fields = ", ".join(f"'w{j}', w{j}" for j in range(4))
        return f"(SELECT named_struct({fields}) FROM {table})"
    fields = ", ".join(f"w{j} := w{j}" for j in range(4))
    return f"(SELECT struct_pack({fields}) FROM {table})"


def _lr_round(d: str, prev: str | None) -> str:
    """One full-batch gradient-descent round over ``feats``: the exact
    decimal gradient, then the 6-dp (half-up) update of the weights in the
    previous round's 1-row table ``prev`` (None: all zero)."""
    if prev is None:
        rows = "SELECT y, x1, x2, x3 FROM feats"
        z = _lr_z(["0"] * 4)
        carry = ""
        upd = [f"round(cast({_LR_RATE} as double) * g{j}, 6)" for j in range(4)]
    else:
        rows = f"SELECT y, x1, x2, x3, {_lr_wv(d, prev)} AS wv FROM feats"
        z = _lr_z([f"wv.w{j}" for j in range(4)])
        carry = "".join(f", max(wv.w{j}) AS pw{j}" for j in range(4))
        upd = [
            f"round(coalesce(pw{j} + 0, 0) + cast({_LR_RATE} as double) * g{j}, 6)"
            for j in range(4)
        ]
    p = f"cast(1 as double) / (cast(1 as double) + exp(-{z}))"
    return f"""
        SELECT {", ".join(f"{u} AS w{j}" for j, u in enumerate(upd))} FROM (
            SELECT {", ".join(_lr_grad_cols(d))}{carry}
            FROM (SELECT *, {p} AS p FROM ({rows}) r) t
        ) g"""


def _lr_fit(d: str, feats: str) -> str:
    # The rounds unrolled as chained 1-row CTEs; the final accuracy reads
    # the last round's weights. HAVING keeps an empty feature table a
    # 0-row answer (no fit). DuckDB materializes the feature table, which
    # every round reads.
    mat = "MATERIALIZED " if d == DUCK else ""
    rounds = ",\n".join(
        f"wr{k} AS ({_lr_round(d, f'wr{k - 1}' if k > 1 else None)})"
        for k in range(1, _LR_ITERS + 1)
    )
    zf = _lr_z([f"wv.w{j}" for j in range(4)])
    hit = f"CASE WHEN ({zf} > 0) = (y = 1) THEN 1 ELSE 0 END"
    return f"""
    WITH feats AS {mat}({feats}),
    {rounds}
    SELECT {", ".join(f"max(wv.w{j}) AS w{j}" for j in range(4))},
        round({S.isum(hit, d)} / cast(count(*) as double), 6) AS train_accuracy,
        cast(count(*) as bigint) AS n_rows
    FROM (SELECT y, x1, x2, x3, {_lr_wv(d, f"wr{_LR_ITERS}")} AS wv FROM feats) t
    HAVING count(*) > 0
    """


pair(
    "mlprep_logreg_gd3",
    _lr_fit,
    shared={"feats": _lr_feats},
    tags=("mlprep", "iterative"),
    doc="Logistic regression (is-English from 3 document stats) trained by "
    "3 rounds of FULL-BATCH gradient descent — the model-in-the-pipeline "
    "quality-classifier shape (FineWeb/CCNet train exactly such gates): "
    "each round is ONE map-side-combinable aggregation of per-row "
    "gradient contributions (exact decimal sums) into a 1-row weight "
    "table, which the next round reads as one scalar subquery. The "
    "feature table is localCheckpointed; the rounds are chained CTEs, and "
    "nothing reaches the driver. Weights quantize to 6 dp (SQL half-up) "
    "so both engines fold identically; the final accuracy tests z > 0, "
    "not sigmoid > 0.5, keeping the decision boundary exp()-free and "
    "exact.",
)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (time-to-convert with right-censoring)
# ---------------------------------------------------------------------------


def _km_first_view(d: str) -> str:
    return f"""
        SELECT user_id, min({S.epoch_s("ts", d)}) AS v
        FROM events WHERE event_type = 'view' GROUP BY user_id
    """


def _km_survival(d: str, fv: str) -> str:
    # The KM product folds as exp(cumulative-sum(ln)), with each ln step
    # quantized to 9 dp and summed as exact decimal so the cumulative fold
    # is order- and engine-independent. d == n (everyone at risk converts)
    # would be ln(0): a finite -99 sentinel keeps the decimal sum total and
    # exp() rounds it to survival 0. The at-risk window runs over the
    # MINUTE-BUCKETED aggregate — bounded by calendar minutes, not input
    # rows, so the single-partition window is O(time-range) at any scale.
    ep = S.epoch_s("ts", d)
    # The first-view table is a shared core: inlined, fp and subj each
    # re-ran its fact hash-agg (4 fact scans planned - the round-11
    # registry-wide plan audit; the fp and mx passes are genuinely
    # distinct filters, same class as the funnel).
    return f"""
    WITH fv AS ({fv}),
    fp AS (
        SELECT e.user_id, min({ep}) AS p
        FROM events e JOIN fv ON fv.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND {ep} >= fv.v
        GROUP BY e.user_id
    ),
    mx AS (SELECT max({ep}) AS m FROM events),
    subj AS (
        SELECT fv.user_id,
            CASE WHEN fp.p IS NOT NULL THEN 1 ELSE 0 END AS ev,
            cast(floor(CASE WHEN fp.p IS NOT NULL THEN fp.p - fv.v
                            ELSE mx.m - fv.v END / 60.0) as bigint) AS t
        FROM fv LEFT JOIN fp ON fp.user_id = fv.user_id, mx
    ),
    agg AS (
        SELECT t, {S.isum('ev', d)} AS d_ev, count(*) AS c
        FROM subj GROUP BY t
    ),
    risk AS (
        SELECT t, d_ev,
            cast(sum(c) OVER (ORDER BY t DESC) as bigint) AS n_risk
        FROM agg
    ),
    steps AS (
        SELECT t, d_ev, n_risk,
            CASE WHEN d_ev < n_risk THEN
                round(ln(cast(1 as double)
                    - cast(d_ev as double) / cast(n_risk as double)), 9)
                ELSE cast(-99 as double) END AS l
        FROM risk
    ),
    km AS (
        SELECT t, d_ev, n_risk,
            cast(sum(cast(l as decimal(38,9))) OVER (ORDER BY t) as double)
                AS cl
        FROM steps
    )
    SELECT t AS t_minutes, n_risk AS n_at_risk, d_ev AS n_events,
        round(exp(cl), 6) AS km_survival
    FROM km WHERE d_ev > 0
    ORDER BY t_minutes
    """


pair(
    "events_survival_km",
    _km_survival,
    shared={"fv": _km_first_view},
    tags=("events", "mlprep"),
    doc="Kaplan-Meier survival of view→purchase conversion with honest "
    "right-censoring (users who never purchase are censored at the "
    "observation horizon, shrinking the at-risk set without counting as "
    "events — what events_time_to_convert's converter-only latencies "
    "cannot express). Minute-bucketed event times; at-risk via one "
    "descending cumulative count over the bucket aggregate (bounded by "
    "calendar minutes, not input rows); the KM product folds as "
    "exp(decimal-exact cumsum of 9-dp-quantized ln terms), with a finite "
    "sentinel for the d = n boundary so survival hits exactly 0. The "
    "first-view table is localCheckpointed so fp/subj share it.",
)


# ---------------------------------------------------------------------------
# Dataset card — the per-slice datasheet a corpus release ships with
# ---------------------------------------------------------------------------


def _dataset_card(d: str) -> str:
    toks = S.toks(d)
    return f"""
    WITH per_doc AS (
        SELECT lang, source, n_chars,
            {S.arr_len(toks, d)} AS n_toks,
            {S.arr_len(S.arr_distinct(toks, d), d)} AS n_voc,
            md5(text) AS th
        FROM documents
    )
    SELECT lang, source,
        cast(count(*) as bigint) AS n_docs,
        {S.isum('n_chars', d)} AS n_chars_total,
        {S.isum('n_toks', d)} AS n_tokens_total,
        cast(count(DISTINCT th) as bigint) AS n_unique_texts,
        round(cast(count(*) - count(DISTINCT th) as double)
            / cast(count(*) as double), 6) AS exact_dup_rate,
        round(cast({S.isum('n_toks', d)} as double)
            / cast(count(*) as double), 6) AS avg_doc_tokens,
        round(cast({S.isum('n_voc', d)} as double)
            / cast({S.isum('n_toks', d)} as double), 6) AS type_token_ratio
    FROM per_doc
    GROUP BY lang, source
    ORDER BY lang, source
    """


pair(
    "traindata_dataset_card",
    _dataset_card,
    tags=("text", "profiling", "etl"),
    doc="Dataset card (datasheet) per (lang, source) release slice: doc/"
    "char/token volumes, exact-duplicate rate via distinct content "
    "hashes, average document length, and the corpus-level type-token "
    "ratio — the summary table every dataset release ships and every "
    "mixture-weight decision reads. One partition-parallel projection "
    "computing per-doc stats (tokens, vocab, md5), then a single "
    "hash-agg over the (lang, source) grid; texts never shuffle — only "
    "16-byte hashes and counts move.",
)


# ---------------------------------------------------------------------------
# DSIR-style importance selection (hashed n-gram log-ratio scoring)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 128
_DSIR_TOPK = 20


def _dsir_hashed(d: str) -> str:
    """(doc_id, lang, bkt): one row per token occurrence, hashed to its
    feature bucket — the persisted hashed-ngram table the DSIR paper's
    estimator is built from."""
    unnest = "explode" if d == SPARK else "unnest"
    b = f"{S.portable_hash64('tok', d)} % {_DSIR_BUCKETS}"
    return (
        f"SELECT doc_id, lang, {b} AS bkt FROM (SELECT doc_id, lang,"
        f" {unnest}({S.toks(d)}) AS tok FROM documents) occ"
    )


def _dsir_selection(d: str, hashed: str) -> str:
    # ``hashed`` is shared: inlined, tgt/src/tots and the per-doc fold each
    # re-ran the token explode (5 fact scans planned — the round-11
    # registry-wide plan audit).
    if d == SPARK:
        # Folded bucket stats (r13, guide §2.2): the oracle's tgt/src/tots/
        # distinct-bkt CTEs are four separate full passes over the
        # token-bucket table; one conditional-sum groupBy(bkt) yields all of
        # them (ct=0 rows reproduce the oracle's coalesce(tgt.c, 0) LEFT
        # JOIN exactly, and sum(ct)/sum(cs) over the 128-row grid ARE the
        # totals). Checkpoint reads 5 -> 2; at 100 TB the hashed table is
        # the persisted DSIR estimator input, so three saved passes are
        # three saved table scans. Interleaved median 1.405 -> 1.348 s at
        # sf0.1, byte-identical top-k.
        weights = f"""
    g AS (
        SELECT bkt,
            cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) as bigint) AS ct,
            cast(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) as bigint) AS cs
        FROM hashed GROUP BY bkt
    ),
    tots AS (
        SELECT cast(sum(ct) as bigint) AS nt, cast(sum(cs) as bigint) AS ns
        FROM g
    ),
    w AS (
        SELECT g.bkt,
            round(ln(cast(g.ct + 1 as double)
                     / cast(tots.nt + {_DSIR_BUCKETS} as double))
                - ln(cast(g.cs + 1 as double)
                     / cast(tots.ns + {_DSIR_BUCKETS} as double)), 9) AS lw
        FROM g CROSS JOIN tots
    )"""
    else:
        weights = f"""
    tgt AS (
        SELECT bkt, cast(count(*) as bigint) AS c FROM hashed
        WHERE lang = 'en' GROUP BY bkt
    ),
    src AS (
        SELECT bkt, cast(count(*) as bigint) AS c FROM hashed
        WHERE lang <> 'en' GROUP BY bkt
    ),
    tots AS (
        SELECT cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) as bigint)
                AS nt,
            cast(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) as bigint)
                AS ns
        FROM hashed
    ),
    w AS (
        -- add-1 smoothed log importance ratio per hash bucket, quantized
        -- to 9 dp so the per-doc fold is an exact decimal sum. The bucket
        -- table is at most {_DSIR_BUCKETS} rows — a broadcast.
        SELECT b.bkt,
            round(ln(cast(coalesce(tgt.c, 0) + 1 as double)
                     / cast(tots.nt + {_DSIR_BUCKETS} as double))
                - ln(cast(coalesce(src.c, 0) + 1 as double)
                     / cast(tots.ns + {_DSIR_BUCKETS} as double)), 9) AS lw
        FROM (SELECT DISTINCT bkt FROM hashed) b
        LEFT JOIN tgt ON tgt.bkt = b.bkt
        LEFT JOIN src ON src.bkt = b.bkt
        CROSS JOIN tots
    )"""
    return f"""
    WITH hashed AS ({hashed}),{weights},
    scored AS (
        SELECT h.doc_id, max(h.lang) AS lang,
            {S.dsum('w.lw', d)} AS importance
        FROM hashed h JOIN w ON w.bkt = h.bkt
        WHERE h.lang <> 'en'
        GROUP BY h.doc_id
    )
    SELECT doc_id, lang, round(importance, 6) AS importance
    FROM scored
    ORDER BY importance DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """


pair(
    "sample_dsir_selection",
    _dsir_selection,
    shared={"hashed": _dsir_hashed},
    tags=("sampling", "text", "mlprep"),
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): hashed token features "
    f"({_DSIR_BUCKETS} buckets via the portable 60-bit hash), add-1 "
    "smoothed target-vs-raw log-probability ratios per bucket, each "
    "candidate (non-target) document scored by the exact decimal sum of "
    "its tokens' 9-dp-quantized bucket weights, top-k selected with a "
    "deterministic tie-break. The bucket weight table is broadcast-"
    "sized, the scoring join is a hash join on the bucket id, and the "
    "top-k is an ordered LIMIT (TakeOrderedAndProject) — the raw corpus "
    "is touched once however large it is. The token-bucket table is "
    "localCheckpointed so the explode runs once.",
)
