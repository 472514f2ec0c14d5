"""Round-4 pipeline operators: sliding-window document chunking, tolerance
as-of (nearest-event) joins, small-file compaction planning, and the combined
IVF+PQ (IVFADC) approximate-nearest-neighbor query.

Capability uplift mandated by BASELINE.json ("dedup, similarity search,
multimodal columns, text analysis") plus lakehouse-maintenance surface; no
reference counterpart — the reference pipeline stops at per-block extraction
(RECEIVER/stage2_processing.cpp:149-434) and never chunks, packs, or indexes
its corpus.

Scale notes:
- Chunking is a map-only fan-out (explode over a per-row integer sequence):
  zero joins, zero aggregate shuffles — it scales with scan bandwidth, and
  the REPARTITION hint spreads the fan-out when the input arrives in few
  splits (same rationale as llm_ops' shingle generator).
- The tolerance as-of join buckets both sides on floor(epoch/tol) and
  explodes the probe side to its 3 neighbor buckets — candidates meet in an
  EQUI-join on (user, bucket), never a range/nested-loop join, and the exact
  |Δt| ≤ tol predicate plus an argmin window run on the tiny candidate set.
  Same family as join_range_time_window (plans/advanced.py), but returning
  THE nearest match per probe row — the feature-engineering as-of form.
- Compaction planning is a metadata problem: the "file list" is orders of
  magnitude smaller than the data, and the greedy first-fit binning is one
  window cumsum PARTITIONED BY the table partition (day) — every partition
  plans in parallel, nothing global.
- IVFADC: the coarse quantizer routes each query to one inverted list via a
  broadcast centroid probe; candidates are fetched by EQUI-join on the list
  id; the fine distance needs only the 4-byte PQ codes plus a 32-row
  codebook lookup (broadcast hash join on (code, subspace)) — the plan that
  keeps billion-vector search RAM-resident. All distances in exact fixed-
  point integers so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .registry import pair, register


# ---------------------------------------------------------------------------
# Sliding-window document chunking (training-sequence preparation)
# ---------------------------------------------------------------------------

_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # tokens between chunk starts (8-token overlap)


def _chunk_sliding(d: str) -> str:
    tk = S.split_ws("text", d)
    if d == SPARK:
        hint = "/*+ REPARTITION */ "
        n1 = S.idiv(f"{S.arr_len('tk', d)} - 1", str(_STRIDE), d)
        lateral = S.explode_seq("i", "0", n1, d)
        ck = S.arr_slice("tk", f"i * {_STRIDE} + 1", str(_CHUNK), d)
        return f"""
    WITH toks AS (
        SELECT {hint}doc_id, {tk} AS tk FROM documents
    ),
    chunks AS (
        SELECT doc_id, i AS chunk_id, {ck} AS ck
        FROM toks {lateral}
    )
    SELECT doc_id, cast(chunk_id as int) AS chunk_id,
        cast({S.arr_len('ck', d)} as int) AS chunk_len,
        {S.portable_hash64(S.arr_join('ck', "' '", d), d)} AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_id
    """
    # lead()-composed chunks over a (pos, tok) unnest: the lateral
    # arr_slice form replicated the FULL token list per chunk row —
    # O(tokens^2 / stride) on the giant-payload surface (420 s+ on the
    # 1 MiB doc; r10 sweep). concat_ws SKIPS the NULL leads past each
    # doc's end, reproducing the short tail chunk the slice form emits;
    # chunk_len is least(CHUNK, n - pos + 1) by the same truncation.
    leads = ", ".join(
        ["tok"] + [f"lead(tok, {j}) OVER w" for j in range(1, _CHUNK)]
    )
    return f"""
    WITH grams AS MATERIALIZED (
        SELECT doc_id, pos, n, concat_ws(' ', {leads}) AS ck
        FROM (
            SELECT doc_id, len(tk) AS n,
                unnest(range(1, len(tk) + 1)) AS pos,
                unnest(tk) AS tok
            FROM (SELECT doc_id, {tk} AS tk FROM documents) t
        ) z
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT doc_id,
        cast((pos - 1) // {_STRIDE} as int) AS chunk_id,
        cast(least({_CHUNK}, n - pos + 1) as int) AS chunk_len,
        {S.portable_hash64('ck', d)} AS chunk_hash
    FROM grams
    WHERE (pos - 1) % {_STRIDE} = 0
    ORDER BY doc_id, chunk_id
    """


pair(
    "text_chunk_sliding",
    _chunk_sliding,
    tags=("text",),
    doc="Sliding-window chunking: each document's token stream is cut into "
    f"{_CHUNK}-token chunks every {_STRIDE} tokens ({_CHUNK - _STRIDE}-token "
    "overlap) — the sequence-preparation step in front of every training "
    "run. Map-only explode over a per-row index sequence: no joins, no agg "
    "shuffle; scales with scan bandwidth. Chunk identity is the portable "
    "60-bit content hash, so downstream chunk-level dedup composes directly.",
)


# ---------------------------------------------------------------------------
# Tolerance as-of join (nearest event within ±tol, per key)
# ---------------------------------------------------------------------------

_TOL_S = 900  # seconds


def _asof_tolerance(d: str) -> str:
    e = S.epoch_s("ts", d)
    b = S.idiv("e", str(_TOL_S), d)
    lateral = S.explode_seq("off", "-1", "1", d)
    return f"""
    WITH l AS (
        SELECT user_id, event_id, {e} AS e FROM events
        WHERE event_type = 'click'
    ),
    r AS (
        SELECT user_id, event_id, {e} AS e FROM events
        WHERE event_type = 'purchase'
    ),
    lb AS (
        SELECT user_id, event_id, e, {b} + off AS b FROM l {lateral}
    ),
    rb AS (SELECT user_id, event_id, e, {b} AS b FROM r),
    cand AS (
        SELECT lb.user_id, lb.event_id AS click_id,
            rb.event_id AS purchase_id, abs(lb.e - rb.e) AS dt_s
        FROM lb JOIN rb
            ON lb.user_id = rb.user_id AND lb.b = rb.b
        WHERE abs(lb.e - rb.e) <= {_TOL_S}
    )
    SELECT user_id, click_id, purchase_id, cast(dt_s as bigint) AS dt_s
    FROM (
        SELECT user_id, click_id, purchase_id, dt_s,
            row_number() OVER (
                PARTITION BY click_id ORDER BY dt_s, purchase_id
            ) AS rn
        FROM cand
    ) x
    WHERE rn = 1
    ORDER BY click_id
    """


pair(
    "join_asof_tolerance",
    _asof_tolerance,
    tags=("join", "temporal"),
    doc="Tolerance as-of join: every click matched to its NEAREST purchase "
    f"by the same user within ±{_TOL_S} s (ties broken on event id) — the "
    "as-of form feature stores run. Both sides bucket on floor(epoch/tol); "
    "the probe side explodes to its 3 neighbor buckets so every candidate "
    "pair meets in an EQUI-join on (user_id, bucket) — never a range or "
    "nested-loop join — and a per-probe argmin window picks the winner. A "
    "purchase owns exactly one bucket, so no candidate duplicates exist by "
    "construction.",
)


# ---------------------------------------------------------------------------
# Small-file compaction planner (lakehouse maintenance)
# ---------------------------------------------------------------------------

_TARGET_BYTES = 4096  # target compacted file size (fixture-scaled)
_ROW_BYTES = 64  # estimated bytes per row


def _compaction_plan(d: str) -> str:
    day = S.fmt_date("ts", d)
    bin_ = S.idiv("cum - bytes", str(_TARGET_BYTES), d)
    slot = S.idiv("hour(ts)", "3", d)
    return f"""
    WITH files AS (
        SELECT {day} AS day, {slot} AS slot,
            cast(count(*) * {_ROW_BYTES} as bigint) AS bytes
        FROM events
        GROUP BY {day}, {slot}
    ),
    packed AS (
        SELECT day, slot, bytes,
            sum(bytes) OVER (
                PARTITION BY day ORDER BY slot
                ROWS UNBOUNDED PRECEDING
            ) AS cum
        FROM files
    )
    SELECT day, cast({bin_} as int) AS bin,
        cast(count(*) as int) AS n_files,
        {S.isum('bytes', d)} AS bin_bytes,
        cast(min(slot) as int) AS first_slot,
        cast(max(slot) as int) AS last_slot
    FROM packed
    GROUP BY day, cast({bin_} as int)
    ORDER BY day, bin
    """


pair(
    "layout_compaction_plan",
    _compaction_plan,
    tags=("layout",),
    doc="Small-file compaction planner (the OPTIMIZE planning step): "
    "per-partition file statistics (here one 'file' per 3-hour write slot, "
    "size estimated from row counts) are greedily first-fit binned into "
    f"~{_TARGET_BYTES}-byte target files via a window cumsum PARTITIONED BY "
    "the table partition — every partition plans independently and in "
    "parallel, and the input is file METADATA, orders of magnitude smaller "
    "than the data, so the plan step costs nothing at 100 TB.",
)


# ---------------------------------------------------------------------------
# VACUUM / retention delete-list planner (lakehouse maintenance)
# ---------------------------------------------------------------------------

_RETENTION_S = 14 * 86400  # retention horizon: 14 days behind the newest file
_TOMBSTONE_BYTES = 2400  # retained files smaller than this are compaction
# leftovers (superseded originals) and get tombstoned


def _vacuum_plan(d: str) -> str:
    day = S.fmt_date("ts", d)
    slot = S.idiv("hour(ts)", "3", d)
    e = S.epoch_s("ts", d)
    return f"""
    WITH files AS (
        SELECT {day} AS day, {slot} AS slot,
            cast(count(*) * {_ROW_BYTES} as bigint) AS bytes,
            max({e}) AS newest_es
        FROM events
        GROUP BY {day}, {slot}
    ),
    flagged AS (
        -- The retention horizon is a global scalar over the METADATA-scale
        -- files table (a few hundred rows even at 100 TB of data), so an
        -- unpartitioned window max is the cheap shape — a scalar-subquery
        -- cross join would plan a BroadcastNestedLoopJoin for nothing.
        SELECT day, slot, bytes,
            CASE WHEN newest_es <
                     max(newest_es) OVER () - {_RETENTION_S} THEN 'expired'
                 WHEN bytes < {_TOMBSTONE_BYTES} THEN 'superseded'
            END AS reason
        FROM files
    )
    SELECT day, reason,
        cast(count(*) as int) AS n_files,
        {S.isum('bytes', d)} AS reclaim_bytes,
        cast(min(slot) as int) AS first_slot,
        cast(max(slot) as int) AS last_slot
    FROM flagged
    WHERE reason IS NOT NULL
    GROUP BY day, reason
    ORDER BY day, reason
    """


pair(
    "layout_vacuum_plan",
    _vacuum_plan,
    tags=("layout",),
    doc="VACUUM / retention delete-list planner — the maintenance twin of "
    "layout_compaction_plan (that one plans OPTIMIZE's merges; this one "
    "plans the deletes): per file (one per 3-hour write slot), 'expired' "
    f"when its newest row is older than the {_RETENTION_S // 86400}-day "
    "retention horizon behind the table's newest file, 'superseded' when "
    f"a retained file is under {_TOMBSTONE_BYTES} bytes (a compaction "
    "leftover), aggregated to per-(partition, reason) counts and "
    "reclaimable bytes. The horizon is a global window max over the file "
    "METADATA (orders of magnitude smaller than the data), so like its "
    "twin the plan step is metadata-scale at 100 TB; integer epoch "
    "arithmetic end-to-end keeps the boundary engine-identical.",
)


# ---------------------------------------------------------------------------
# IVF + PQ combined ANN query (IVFADC)
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_DSUB = 16  # dims per subspace (64-dim fixture embeddings)
_PQ_K = 8  # codebook entries per subspace
_TOPK = 10


def _emb_dims(d: str, where: str = "") -> str:
    # Same per-element expansion as llm_ops._emb_dims (double-valued; used
    # only for the coarse-quantizer probe, which mirrors sim_cosine_ivf).
    if d == SPARK:
        return (
            "SELECT vec_id, label, pos + 1 AS dim, cast(col as double) AS v "
            "FROM (SELECT /*+ REPARTITION */ vec_id, label, embedding "
            f"FROM embeddings {where}) e "
            "LATERAL VIEW posexplode(embedding) t AS pos, col"
        )
    return (
        "SELECT vec_id, label, i AS dim, embedding[i]::DOUBLE AS v "
        f"FROM embeddings {where}, unnest(range(1, len(embedding) + 1)) AS t(i)"
    )


def _ivfpq_subvectors(d: str) -> str:
    """(vec_id, label, s, pv): each vector's _PQ_M fixed-point subvectors."""
    iv = S.int_vec("embedding", d)
    if d == SPARK:
        sub = f"slice(v, s * {_PQ_DSUB} + 1, {_PQ_DSUB})"
        lateral = f"LATERAL VIEW explode(sequence(0, {_PQ_M - 1})) t AS s"
    else:
        sub = f"v[s * {_PQ_DSUB} + 1 : (s + 1) * {_PQ_DSUB}]"
        lateral = f", unnest(range(0, {_PQ_M})) t(s)"
    return (
        f"SELECT vec_id, label, s, {sub} AS pv"
        f" FROM (SELECT vec_id, label, {iv} AS v FROM embeddings) iv {lateral}"
    )


def _ivfpq_topk(d: str, pv: str) -> str:
    # ``pv`` (the subvector table, the index artifact a real IVFADC build
    # persists) is shared: inlined, its consumers re-ran the vector
    # quantization per reference (6 fact scans planned — the round-11
    # registry-wide plan audit). The 32-row codebook (_PQ_K x _PQ_M)
    # derives from it by filter; the coarse centroids have a single
    # consumer (the coarse-routing join), so neither is shared (r13:
    # checkpointing them cost two materialization jobs and bought nothing;
    # interleaved median 1.421 -> 0.982 s at sf0.1, byte-identical output).
    if d == SPARK:
        l2_pc = (
            "aggregate(zip_with(p.pv, c.cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
        l2_qc = (
            "aggregate(zip_with(q.qv, c.cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
    else:
        l2_pc = (
            "cast(list_sum(list_transform(list_zip(p.pv, c.cv), "
            "e -> (e[1] - e[2]) * (e[1] - e[2]))) as bigint)"
        )
        l2_qc = (
            "cast(list_sum(list_transform(list_zip(q.qv, c.cv), "
            "e -> (e[1] - e[2]) * (e[1] - e[2]))) as bigint)"
        )
    return f"""
    WITH pv AS ({pv}),
    cb AS (
        SELECT vec_id AS cid, s, pv AS cv FROM pv
        WHERE vec_id BETWEEN 1 AND {_PQ_K}
    ),
    code_d AS (
        SELECT p.vec_id, p.label, p.s, c.cid, {l2_pc} AS d2
        FROM pv p JOIN cb c ON p.s = c.s
    ),
    codes AS (
        SELECT vec_id, label, s, cid FROM (
            SELECT vec_id, label, s, cid,
                row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
            FROM code_d
        ) x WHERE rn = 1
    ),
    centroids AS (
        SELECT label, dim,
            cast(sum(cast(v as decimal(38,9))) as double) / count(*) AS c
        FROM ({_emb_dims(d)}) emb_dims GROUP BY label, dim
    ),
    q_dims AS (
        SELECT vec_id AS query_id, dim, v
        FROM ({_emb_dims(d)}) e WHERE vec_id < 5
    ),
    coarse AS (
        SELECT q.query_id, ct.label,
            cast(sum(cast((q.v - ct.c) * (q.v - ct.c)
                as decimal(38,12))) as double) AS d2
        FROM q_dims q JOIN centroids ct ON q.dim = ct.dim
        GROUP BY q.query_id, ct.label
    ),
    assigned AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                row_number() OVER (
                    PARTITION BY query_id ORDER BY d2, label) AS rn
            FROM coarse
        ) t WHERE rn = 1
    ),
    qsub AS (
        SELECT p.vec_id AS query_id, p.s, p.pv AS qv
        FROM pv p WHERE p.vec_id < 5
    ),
    adist AS (
        SELECT a.query_id, k.vec_id, k.label,
            {S.isum('sub_d2', d)} AS ad2
        FROM assigned a
        JOIN codes k ON k.label = a.label AND k.vec_id <> a.query_id
        JOIN (
            SELECT q.query_id, c.cid, c.s, {l2_qc} AS sub_d2
            FROM qsub q JOIN cb c ON q.s = c.s
        ) qc ON qc.query_id = a.query_id
            AND qc.cid = k.cid AND qc.s = k.s
        GROUP BY a.query_id, k.vec_id, k.label
    )
    SELECT query_id, vec_id, label, ad2, cast(rnk as int) AS rnk
    FROM (
        SELECT query_id, vec_id, label, ad2,
            row_number() OVER (
                PARTITION BY query_id ORDER BY ad2, vec_id) AS rnk
        FROM adist
    ) r
    WHERE rnk <= {_TOPK}
    ORDER BY query_id, rnk
    """


pair(
    "sim_ivfpq_topk",
    _ivfpq_topk,
    shared={"pv": _ivfpq_subvectors},
    tags=("similarity",),
    doc="IVFADC — the combined IVF + PQ billion-scale ANN query (Jégou et "
    "al. 2011): the coarse quantizer (label-mean centroids, broadcast) "
    "routes each query to ONE inverted list; candidates arrive by equi-join "
    "on the list id; the fine ranking needs only each candidate's "
    f"{_PQ_M}-byte PQ code plus the {_PQ_M}x{_PQ_K}-entry codebook — the "
    "asymmetric distance (exact query subvectors vs quantized candidates) "
    "is computed per (query, code, subspace) once via a broadcast hash join "
    "on (cid, s), then summed. Exact fixed-point integer math end-to-end, "
    "so Spark and the DuckDB oracle agree bit-for-bit. At 100 TB the codes "
    "table is the RAM-resident index (64x smaller than the vectors), "
    "partitioned by list id; vectors are never touched at query time. "
    "The subvector table, codebook, and centroids are localCheckpointed "
    "— the three persisted index artifacts — so the quantization runs "
    "once, not per consumer.",
)


# ---------------------------------------------------------------------------
# Chunk-level decontamination (train/eval overlap at chunk granularity)
# ---------------------------------------------------------------------------

_DC_CHUNK = 8  # tokens per decontamination chunk
_DC_STRIDE = 4
_EVAL_MAX_DOC = 25  # doc_id < 25 plays the held-out eval set


def _chunk_decontaminate(d: str) -> str:
    # Asymmetric strides: training chunks sample on the stride-4 grid (cheap
    # — corpus-sized), but the eval side indexes EVERY 8-token window
    # (stride 1 — eval sets are small). With a stride-4 grid on BOTH sides a
    # shared span whose grid phases differ mod 4 would never collide, no
    # matter how long; stride-1 eval windows close that blindspot: any
    # verbatim span of >= chunk + train_stride - 1 tokens is guaranteed to
    # contain a train-grid chunk, and every such window exists on the eval
    # side.
    tk = S.split_ws("text", d)
    h = S.portable_hash64(S.arr_join("ck", "' '", d), d)
    if d == SPARK:
        hint = "/*+ REPARTITION */ "
        n_tr = S.idiv(f"{S.arr_len('tk', d)} - 1", str(_DC_STRIDE), d)
        lat_tr = S.explode_seq("i", "0", n_tr, d)
        ck_tr = S.arr_slice("tk", f"i * {_DC_STRIDE} + 1", str(_DC_CHUNK), d)
        lat_ev = S.explode_seq("i", "0", f"{S.arr_len('tk', d)} - 1", d)
        ck_ev = S.arr_slice("tk", "i + 1", str(_DC_CHUNK), d)
        srcs = f"""
    WITH toks AS (
        SELECT {hint}doc_id, {tk} AS tk FROM documents
    ),
    chunks AS (
        SELECT doc_id, {h} AS ck_hash
        FROM (SELECT doc_id, {ck_tr} AS ck FROM toks {lat_tr}) c
        WHERE doc_id >= {_EVAL_MAX_DOC}
    ),
    ev AS (
        SELECT DISTINCT {h} AS ck_hash
        FROM (SELECT {ck_ev} AS ck FROM toks {lat_ev}
              WHERE doc_id < {_EVAL_MAX_DOC}) e
        WHERE {S.arr_len('ck', d)} = {_DC_CHUNK}
    )"""
    else:
        # lead()-composed chunks over a zipped (pos, tok) unnest (the
        # lateral arr_slice form was O(len(list)) per chunk and copied
        # the token list per chunk row — unbounded on the giant-payload
        # surface; r9 sweep). concat_ws SKIPS the NULL leads past each
        # doc's end, reproducing the short TAIL chunks the train grid
        # hashes; the eval side keeps only full windows via pos <= n-7.
        leads = ", ".join(
            ["tok"] + [f"lead(tok, {j}) OVER w" for j in range(1, _DC_CHUNK)]
        )
        hc = S.portable_hash64("ck", d)
        srcs = f"""
    WITH grams AS MATERIALIZED (
        SELECT doc_id, pos, n, concat_ws(' ', {leads}) AS ck
        FROM (
            SELECT doc_id, len(tk) AS n,
                unnest(range(1, len(tk) + 1)) AS pos,
                unnest(tk) AS tok
            FROM (SELECT doc_id, {tk} AS tk FROM documents) t
        ) z
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    chunks AS (
        SELECT doc_id, {hc} AS ck_hash
        FROM grams
        WHERE doc_id >= {_EVAL_MAX_DOC} AND (pos - 1) % {_DC_STRIDE} = 0
    ),
    ev AS (
        SELECT DISTINCT {hc} AS ck_hash
        FROM grams
        WHERE doc_id < {_EVAL_MAX_DOC} AND pos <= n - {_DC_CHUNK - 1}
    )"""
    return f"""{srcs}
    SELECT doc_id,
        cast(count(*) as bigint) AS n_chunks,
        {S.isum('hit', d)} AS n_contaminated,
        round(cast({S.isum('hit', d)} as double)
            / cast(count(*) as double), 6) AS contamination_ratio
    FROM (
        SELECT doc_id,
            CASE WHEN ck_hash IN (SELECT ck_hash FROM ev)
                 THEN 1 ELSE 0 END AS hit
        FROM chunks
    ) flagged
    GROUP BY doc_id
    HAVING {S.isum('hit', d)} > 0
    ORDER BY doc_id
    """


pair(
    "dedup_chunk_decontaminate",
    _chunk_decontaminate,
    tags=("dedup", "text"),
    doc="Chunk-level decontamination: training documents are scored by how "
    f"many of their {_DC_CHUNK}-token chunks (stride-{_DC_STRIDE} grid) "
    "hash-collide with ANY 8-token window of the held-out eval set (eval "
    "indexes at stride 1 — the asymmetry guarantees every verbatim span of "
    f">= {_DC_CHUNK + _DC_STRIDE - 1} tokens is caught regardless of grid "
    "phase, where symmetric grids silently miss phase-shifted spans). The "
    "finer-grained sibling of doc-level n-gram contamination, catching "
    "verbatim eval passages embedded inside otherwise-clean documents. "
    "Eval is small, so its DISTINCT stride-1 window-hash set stays "
    "broadcastable; only 60-bit hashes shuffle, never text.",
)


# ---------------------------------------------------------------------------
# Event-transition matrix (user-journey analytics)
# ---------------------------------------------------------------------------


def _transition_matrix(d: str) -> str:
    return """
    WITH seq AS (
        SELECT user_id, event_type,
            lag(event_type) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
            ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
        cast(count(*) as bigint) AS n,
        round(cast(count(*) as double) / cast(sum(count(*)) OVER (
            PARTITION BY prev_type) as double), 6) AS p
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """


pair(
    "events_transition_matrix",
    _transition_matrix,
    tags=("events", "window"),
    doc="First-order event-transition matrix (user-journey Markov model): "
    "per-user event sequences (lag window ordered by event time) reduce to "
    "(prev, next) transition counts and row-normalized probabilities. One "
    "shuffle on user_id for the window, one hash aggregation keyed by the "
    "5x5 transition space, and the normalizing sum is a window over the "
    "already-tiny aggregated matrix — the per-user sequencing is "
    "embarrassingly parallel at any user count.",
)


# ---------------------------------------------------------------------------
# Interval-overlap join (range join via bucket decomposition)
# ---------------------------------------------------------------------------

_IV_BUCKET = 3600  # seconds
_L_LEN = 7200  # signup window length
_R_LEN = 3600  # error window length


def _interval_overlap(d: str) -> str:
    e = S.epoch_s("ts", d)
    lat_l = S.explode_seq(
        "i", S.idiv("a", str(_IV_BUCKET), d), S.idiv("b", str(_IV_BUCKET), d), d
    )
    lat_r = S.explode_seq(
        "j", S.idiv("a", str(_IV_BUCKET), d), S.idiv("b", str(_IV_BUCKET), d), d
    )
    return f"""
    WITH l AS (
        SELECT user_id, event_id, e AS a, e + {_L_LEN} AS b
        FROM (SELECT user_id, event_id, {e} AS e FROM events
              WHERE event_type = 'signup') s
    ),
    r AS (
        SELECT user_id, event_id, e AS a, e + {_R_LEN} AS b
        FROM (SELECT user_id, event_id, {e} AS e FROM events
              WHERE event_type = 'error') s
    ),
    lb AS (SELECT user_id, event_id, a, b, i FROM l {lat_l}),
    rb AS (SELECT user_id, event_id, a, b, j FROM r {lat_r}),
    pairs AS (
        SELECT DISTINCT lb.user_id, lb.event_id AS signup_id,
            rb.event_id AS error_id,
            least(lb.b, rb.b) - greatest(lb.a, rb.a) AS overlap_s
        FROM lb JOIN rb
            ON lb.user_id = rb.user_id AND lb.i = rb.j
        WHERE lb.a < rb.b AND rb.a < lb.b
    )
    SELECT user_id, signup_id, error_id, cast(overlap_s as bigint) AS overlap_s
    FROM pairs
    ORDER BY signup_id, error_id
    """


pair(
    "join_interval_overlap",
    _interval_overlap,
    tags=("join", "temporal"),
    doc="Interval-overlap join (the range-join shape Spark has no native "
    "operator for): 2-hour signup windows vs 1-hour error windows of the "
    "same user pair up iff the intervals overlap. Both sides explode to "
    f"the {_IV_BUCKET}-second buckets they span, candidates meet in an "
    "EQUI-join on (user_id, bucket) — fan-out is interval_length/bucket "
    "rows per interval, bounded and tunable — then the exact overlap "
    "predicate filters and DISTINCT collapses pairs that met in multiple "
    "shared buckets. The all-to-all range comparison never materializes.",
)


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) over irregular samples
# ---------------------------------------------------------------------------


def _twap_irregular(d: str) -> str:
    e = S.epoch_s("ts", d)
    return f"""
    WITH samples AS (
        SELECT event_type, value, {e} AS t,
            lead({e}) OVER (
                PARTITION BY event_type ORDER BY ts, event_id
            ) AS t_next
        FROM events
    ),
    held AS (
        SELECT event_type, value, t_next - t AS held_s
        FROM samples WHERE t_next IS NOT NULL
    )
    SELECT event_type,
        cast(count(*) as bigint) AS n_intervals,
        {S.isum('held_s', d)} AS span_s,
        round(cast(sum(cast(value * held_s as decimal(38,6))) as double)
            / cast(sum(held_s) as double), 6) AS twap
    FROM held
    WHERE held_s > 0
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "window_twap_irregular",
    _twap_irregular,
    tags=("window", "temporal"),
    doc="Time-weighted average over IRREGULARLY-sampled series (the price "
    "form the reference's poller produces — SERVER/priceAPIfiller.py "
    "samples each pair round-robin at uneven effective intervals): each "
    "sample is held until the next one arrives (lead window), and the mean "
    "weights each value by its holding time — the estimator that is "
    "unbiased under irregular sampling where a plain avg() over-weights "
    "bursts. One window shuffle on the series key, then a hash aggregation "
    "with decimal-exact weighted sums (order-independent at any "
    "parallelism). Zero-length holds are dropped, not zero-weighted, so "
    "duplicate-timestamp samples cannot divide by zero.",
)


# ---------------------------------------------------------------------------
# Importance-weighted sampling (quality-score-driven data selection)
# ---------------------------------------------------------------------------


def _importance_sample(d: str) -> str:
    toks = S.split_ws("text", d)
    n = S.arr_len(toks, d)
    nd = S.arr_len(S.arr_distinct(toks, d), d)
    h = S.portable_hash64("cast(doc_id as string)", d, seed="'imp-sample'")
    return f"""
    WITH scored AS (
        SELECT doc_id, lang,
            cast({nd} as double) / cast({n} as double) AS q,
            {h} % 1000000 AS u
        FROM documents
        WHERE {n} > 0
    )
    SELECT doc_id, lang,
        round(q, 6) AS quality,
        cast(u as bigint) AS draw
    FROM scored
    WHERE u < cast(floor(q * q * 1000000) as bigint)
    ORDER BY doc_id
    """


pair(
    "sample_importance_weighted",
    _importance_sample,
    tags=("text", "sample"),
    doc="Importance-weighted data selection: each document's keep "
    "probability is q^2 where q is its lexical-diversity quality score "
    "(distinct/total tokens) — higher-quality documents survive "
    "preferentially, the DataComp/DsDm-style quality-weighted selection "
    "step between scoring and training. The draw is the seeded portable "
    "hash of the doc id against an integer threshold: deterministic, "
    "reproducible at any parallelism, zero shuffles (map-only decision), "
    "and exactly mirrored by the oracle because the comparison is pure "
    "integer math.",
)


# ---------------------------------------------------------------------------
# Robust outliers via median absolute deviation (MAD)
# ---------------------------------------------------------------------------


def _mad_med_core(d: str) -> str:
    """The per-type exact median — one grouped percentile pass."""
    med = "percentile(value, 0.5)" if d == SPARK else "quantile_cont(value, 0.5)"
    return f"SELECT event_type, {med} AS m FROM events GROUP BY event_type"


def _mad_outliers(d: str, med: str) -> str:
    # The per-type median is a shared core: inlined, the dev CTE's two
    # consumers re-ran the median pass too (4 fact scans planned — the
    # round-11 registry-wide plan audit). The remaining two fact scans
    # are the genuinely distinct deviation passes (MAD of |x - med|,
    # then the flag count) — column-pruned re-reads beat materializing a
    # fact-sized deviation table.
    mad = "percentile(ad, 0.5)" if d == SPARK else "quantile_cont(ad, 0.5)"
    return f"""
    WITH med AS ({med}),
    dev AS (
        SELECT e.event_type, abs(e.value - m.m) AS ad, m.m
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, {mad} AS mad_v FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
        round(max(d.m), 6) AS med,
        round(max(md.mad_v), 6) AS mad,
        {S.isum('CASE WHEN d.ad > 3 * 1.4826 * md.mad_v THEN 1 ELSE 0 END', d)}
            AS n_outliers,
        cast(count(*) as bigint) AS n
    FROM dev d JOIN mad md ON d.event_type = md.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """


pair(
    "agg_mad_outliers",
    _mad_outliers,
    shared={"med": _mad_med_core},
    tags=("agg", "quality"),
    doc="Robust outlier detection via median absolute deviation: per-group "
    "exact median, then the median of absolute deviations, flagging values "
    "beyond 3 x 1.4826 x MAD (the normal-consistency scaling) — the "
    "breakdown-resistant sibling of the z-score filter, immune to the "
    "outliers it hunts. Two grouped exact-percentile aggregations plus two "
    "broadcast joins of the tiny per-group statistics back onto the "
    "stream; medians use the same engine-identical linear interpolation "
    "the percentile family already proved. The per-type median is "
    "localCheckpointed so the two deviation passes don't re-run it.",
)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # k-gram hashes per winnowing window


def _winnow_cte(d: str) -> str:
    """Shared winnowing CTE chain: toks -> rolling k-gram hashes -> window
    minima (fp) with the per-doc gram count for the boundary filter.

    DuckDB branch: lead()-composed k-grams over a zipped (pos, tok)
    unnest, MATERIALIZED — the lateral arr_slice form paid O(len(list))
    per gram AND copied the token list per gram row, unbounded on the
    giant-payload surface's 150k-token doc (r9 sweep)."""
    gh = S.portable_hash64("g", d)
    if d == SPARK:
        tk = S.split_ws("text", d)
        n_grams = f"{S.arr_len('tk', d)} - {_WIN_K - 1}"
        lateral = S.explode_seq("p", "1", n_grams, d)
        gram = S.arr_join(S.arr_slice("tk", "p", str(_WIN_K), d), "' '", d)
        grams = f"""grams AS (
        SELECT doc_id, p, {gh} AS gh
        FROM (SELECT doc_id, p, {gram} AS g
              FROM (SELECT /*+ REPARTITION */ doc_id, {tk} AS tk
                    FROM documents
                    WHERE {S.arr_len(tk, d)} >= {_WIN_K + _WIN_W - 1}) toks
              {lateral}) raw
    )"""
    else:
        tk = S.split_ws("text", DUCK)
        gram = " || ' ' || ".join(
            ["tok"] + [f"lead(tok, {j}) OVER w" for j in range(1, _WIN_K)]
        )
        grams = f"""grams AS MATERIALIZED (
        SELECT doc_id, p, gh FROM (
            SELECT doc_id, pos AS p, n, {gh} AS gh FROM (
                SELECT doc_id, pos, n, {gram} AS g
                FROM (
                    SELECT doc_id, len(tk) AS n,
                        unnest(range(1, len(tk) + 1)) AS pos,
                        unnest(tk) AS tok
                    FROM (SELECT doc_id, {tk} AS tk FROM documents
                          WHERE len({tk}) >= {_WIN_K + _WIN_W - 1}) toks
                ) z
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ) gr
        ) gg WHERE p <= n - {_WIN_K - 1}
    )"""
    return f"""{grams},
    winmin AS (
        SELECT doc_id, p,
            min(gh) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING
            ) AS fp,
            count(*) OVER (PARTITION BY doc_id) AS n_g
        FROM grams
    )"""


def _winnow_fingerprint(d: str) -> str:
    return f"""
    WITH {_winnow_cte(d)}
    SELECT doc_id, fp,
        cast(count(*) as bigint) AS n_windows
    FROM winmin
    WHERE p <= n_g - {_WIN_W - 1}
    GROUP BY doc_id, fp
    ORDER BY doc_id, fp
    """


pair(
    "text_winnow_fingerprint",
    _winnow_fingerprint,
    tags=("text", "dedup"),
    doc="Winnowing fingerprints (Schleimer et al. 2003, the MOSS "
    f"algorithm): rolling {_WIN_K}-token k-gram hashes, keeping the MINIMUM "
    f"hash of every window of {_WIN_W} consecutive k-grams — guarantees at "
    "least one shared fingerprint for any shared run of "
    f"{_WIN_K + _WIN_W - 1}+ tokens while storing only ~2/(w+1) of the "
    "hashes, the storage/recall trade local-similarity detection is built "
    "on. One map-only gram fan-out, one window pass partitioned by doc — "
    "per-document state only, no joins; the fingerprint table then feeds "
    "the same inverted-index join as every other dedup key.",
)


# ---------------------------------------------------------------------------
# PMI collocations (phrase mining)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


def _pmi_uni_core(d: str) -> str:
    """Unigram counts — ONE explode pass over documents."""
    tk = S.split_ws("text", d)
    if d == DUCK:
        return f"""
    SELECT tok AS w, count(*) AS c FROM (
        SELECT unnest(tk) AS tok
        FROM (SELECT doc_id, {tk} AS tk FROM documents) t
    ) z GROUP BY tok
    """
    lat_all = S.explode_seq("p", "1", S.arr_len("tk", d), d)
    return f"""
    SELECT element_at(tk, p) AS w, count(*) AS c
    FROM (SELECT /*+ REPARTITION */ doc_id, {tk} AS tk FROM documents) toks
    {lat_all}
    GROUP BY element_at(tk, p)
    """


def _pmi_bigall_core(d: str) -> str:
    """All-bigram counts — ONE explode pass over documents."""
    tk = S.split_ws("text", d)
    if d == DUCK:
        # Zipped (pos, tok) unnest + lead() bigrams: the lateral tk[p]
        # form copied the token list per output row — unbounded on the
        # giant-payload surface's 150k-token doc (r9 sweep). Tokens are
        # never NULL, so lead IS NULL exactly marks each doc's last
        # position.
        return f"""
    SELECT a, b, count(*) AS c FROM (
        SELECT tok AS a, lead(tok, 1) OVER (
            PARTITION BY doc_id ORDER BY pos) AS b
        FROM (
            SELECT doc_id,
                unnest(range(1, len(tk) + 1)) AS pos,
                unnest(tk) AS tok
            FROM (SELECT doc_id, {tk} AS tk FROM documents) t
        ) z
    ) bg WHERE b IS NOT NULL GROUP BY a, b
    """
    # Single-token docs have no bigrams; Spark's sequence(1, n-1)
    # DESCENDS when n < 2 (same pitfall as the Kneser-Ney bigram build)
    # and ANSI element_at then throws on the out-of-bounds index — filter
    # them before the explode, as DuckDB's empty range() does implicitly.
    lat_big = S.explode_seq("p", "1", f"{S.arr_len('tk', d)} - 1", d)
    return f"""
    SELECT element_at(tk, p) AS a, element_at(tk, p + 1) AS b,
        count(*) AS c
    FROM (
        SELECT doc_id, tk FROM (
            SELECT /*+ REPARTITION */ doc_id, {tk} AS tk FROM documents
        ) toks WHERE {S.arr_len('tk', d)} >= 2
    ) toks2 {lat_big}
    GROUP BY element_at(tk, p), element_at(tk, p + 1)
    """


def _pmi_collocations(d: str, uni: str, big_all: str) -> str:
    # The two count tables are shared cores: inlined, the scalar total
    # subqueries re-ran the explodes (6 fact scans planned — the round-11
    # registry-wide plan audit). DuckDB MATERIALIZEs them for the same
    # reason (r9).
    mat = "MATERIALIZED " if d == DUCK else ""
    return f"""
    WITH uni AS {mat}({uni}),
    big_all AS {mat}({big_all}),
    big AS (
        SELECT a, b, c FROM big_all WHERE c >= {_PMI_MIN_COUNT}
    ),
    tot AS (
        SELECT cast(sum(c) as bigint) AS n_uni FROM uni
    ),
    tot_b AS (
        SELECT cast(sum(c) as bigint) AS n_big FROM big_all
    )
    SELECT a, b, cast(big.c as bigint) AS n_ab,
        round(cast(big.c as double) * (SELECT n_uni FROM tot)
              * (SELECT n_uni FROM tot)
              / ((SELECT n_big FROM tot_b)
                 * cast(ua.c as double) * cast(ub.c as double)), 6)
            AS pmi_ratio
    FROM big
    JOIN uni ua ON ua.w = big.a
    JOIN uni ub ON ub.w = big.b
    ORDER BY pmi_ratio DESC, a, b
    LIMIT {_PMI_TOPK}
    """


pair(
    "text_pmi_collocations",
    _pmi_collocations,
    shared={"uni": _pmi_uni_core, "big_all": _pmi_bigall_core},
    tags=("text",),
    doc="PMI collocation mining (word2phrase-style phrase detection): "
    "adjacent-pair counts vs unigram counts, scored by the PMI RATIO "
    "p(ab)/(p(a)p(b)) rather than its log — the ranking is identical "
    "(log is monotone) and the ratio is one double division of exact "
    "integer counts, so both engines agree bit-for-bit where libm log "
    "implementations may differ in the last ulp. Two explode + hash-agg "
    "passes (map-side combined), corpus totals as scalar subqueries, "
    "unigram stats joined back onto the surviving (count >= "
    f"{_PMI_MIN_COUNT}) bigrams — broadcastable at any realistic "
    "vocabulary. Both count tables are localCheckpointed (the Spark "
    "twin of the DuckDB MATERIALIZED CTEs) so each explode runs once.",
)


def _winnow_pairs(d: str) -> str:
    # fps self-joins: materialize it on DuckDB so the winmin window pass
    # runs once, not once per join side (plain CTEs inline; r9 sweep).
    mat = "MATERIALIZED " if d == DUCK else ""
    return f"""
    WITH {_winnow_cte(d)},
    fps AS {mat}(
        SELECT DISTINCT doc_id, fp FROM winmin
        WHERE p <= n_g - {_WIN_W - 1}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        cast(count(*) as bigint) AS n_shared
    FROM fps a
    JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    ORDER BY doc_a, doc_b
    """


pair(
    "dedup_winnow_pairs",
    _winnow_pairs,
    tags=("dedup", "text"),
    doc="Local-similarity pair detection over winnowing fingerprints (the "
    "MOSS match step): documents sharing >= 2 selected fingerprints pair "
    "up through an inverted-index EQUI-join on the fingerprint value — "
    "the same bucketed join pattern as every other dedup key, but keyed "
    "on winnowed minima, so it detects shared PASSAGES (6+-token runs) "
    "rather than whole-document similarity, at ~2/(w+1) of the full "
    "k-gram index size. Composes directly with text_winnow_fingerprint's "
    "per-doc fingerprint table at 100 TB: materialize once, join many.",
)


# ---------------------------------------------------------------------------
# Event path trigrams (second-order journey mining)
# ---------------------------------------------------------------------------


def _path_trigrams(d: str) -> str:
    return """
    WITH seq AS (
        SELECT user_id, event_type,
            lag(event_type, 1) OVER w AS p1,
            lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 AS step1, p1 AS step2, event_type AS step3,
        cast(count(*) as bigint) AS n
    FROM seq
    WHERE p2 IS NOT NULL
    GROUP BY p2, p1, event_type
    ORDER BY n DESC, step1, step2, step3
    LIMIT 25
    """


pair(
    "events_path_trigrams",
    _path_trigrams,
    tags=("events", "window"),
    doc="Top user-journey 3-step paths (second-order sequence mining, the "
    "Markov-order-2 complement of events_transition_matrix): two lag "
    "windows over the same per-user ordering produce each event's "
    "2-step history in ONE window pass — the sort is shared, not "
    "repeated — then a hash aggregation over the at-most |types|^3 path "
    "space and an ordered limit. One shuffle on user_id, one on the tiny "
    "path key.",
)


# ---------------------------------------------------------------------------
# Maximum drawdown per series (quant risk metric)
# ---------------------------------------------------------------------------


def _max_drawdown(d: str) -> str:
    return f"""
    WITH runmax AS (
        SELECT event_type, event_id, value,
            max(value) OVER (
                PARTITION BY event_type ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING
            ) AS peak
        FROM events
    ),
    dd AS (
        SELECT event_type, event_id, peak,
            round(peak - value, 6) AS drawdown
        FROM runmax
    )
    SELECT event_type,
        round(max(drawdown), 6) AS max_drawdown,
        {S.isum('CASE WHEN drawdown > 0 THEN 1 ELSE 0 END', d)}
            AS n_underwater
    FROM dd
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "window_max_drawdown",
    _max_drawdown,
    tags=("window", "domain"),
    doc="Maximum drawdown per series — THE rugpull signature in price "
    "space: distance below the running peak (one ordered window pass, "
    "running max), aggregated to the worst drawdown and time-underwater "
    "count per series. The reference flags a 10% single-step change "
    "(SERVER/ingest_prices.py:43-55); drawdown catches the slow-rug that "
    "never trips a single-step threshold. One shuffle on the series key.",
)


# ---------------------------------------------------------------------------
# EWMA with exactly-representable weights (alpha = 1/2)
# ---------------------------------------------------------------------------

_EWMA_DEPTH = 8


def _ewma_halflife(d: str) -> str:
    # alpha = 1/2 => weight of lag k is 2^-k, EXACT in binary floating
    # point, and each product value * 2^-k is one IEEE multiply — so the
    # weighted sum is bit-identical across engines without decimal casts.
    num = " + ".join(
        f"coalesce(lag(value, {k}) OVER w * {2.0 ** -k!r}, 0.0)"
        for k in range(_EWMA_DEPTH)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {k}) OVER w IS NOT NULL "
        f"THEN {2.0 ** -k!r} ELSE 0.0 END)"
        for k in range(_EWMA_DEPTH)
    )
    return f"""
    WITH sm AS (
        -- nullif: a row whose whole 8-lag window is NULL values has a
        -- 0 weight sum — ANSI Spark THROWS on the division where DuckDB
        -- returns NULL; both engines emit NULL ewma with the guard.
        SELECT event_type, event_id, value,
            ({num}) / nullif(({den}), 0.0) AS ewma
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
        cast(count(*) as bigint) AS n,
        round(cast(sum(cast(ewma as decimal(38,6))) as double), 6)
            AS sum_ewma,
        round(max(ewma), 6) AS max_ewma
    FROM sm
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "window_ewma_halflife",
    _ewma_halflife,
    tags=("window",),
    doc=f"Exponentially-weighted moving average (depth {_EWMA_DEPTH}, "
    "alpha = 1/2): the classic smoother for noisy price feeds, written so "
    "every weight 2^-k is EXACTLY representable in binary floating point — "
    "the weighted sum is bit-identical across engines with no decimal "
    "rescue, the trick being that halving is the one exponential decay "
    "IEEE arithmetic computes exactly. All lags share ONE window pass "
    "(one sort, one shuffle on the series key); ragged series starts "
    "renormalize by the available weight mass instead of zero-filling.",
)


# ---------------------------------------------------------------------------
# Referential-integrity audit (FK orphan + coverage report)
# ---------------------------------------------------------------------------


def _fk_integrity(d: str) -> str:
    def rel(name, child, ckey, parent, pkey):
        return f"""
    SELECT '{name}' AS fk,
        cast(count(*) as bigint) AS n_child,
        {S.isum(f'CASE WHEN p.{pkey} IS NULL THEN 1 ELSE 0 END', d)}
            AS n_orphans,
        cast(count(DISTINCT CASE WHEN p.{pkey} IS NOT NULL
            THEN c.{ckey} END) as bigint) AS n_parents_referenced
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pkey} FROM {parent}) p
        ON c.{ckey} = p.{pkey}
    """

    parts = " UNION ALL ".join(
        [
            rel("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            rel("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
            rel("events->customer", "events", "user_id", "customer", "c_custkey"),
            rel("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ]
    )
    return f"SELECT * FROM ({parts}) rels ORDER BY fk"


pair(
    "profile_fk_integrity",
    _fk_integrity,
    tags=("profile", "quality"),
    doc="Referential-integrity audit over four FK relationships: orphan "
    "count (child keys with no parent) plus parent-coverage cardinality "
    "per edge — the constraint validation every warehouse load gate runs, "
    "since Spark/parquet enforce no FKs. Each edge is one LEFT join "
    "against the DISTINCT-compressed parent key set (broadcastable for "
    "dimension parents; for fact-fact edges the join shuffles on the key "
    "like any equi-join) and the four audits run as one unioned job — "
    "shared scan scheduling, one pass per table pair.",
)


# ---------------------------------------------------------------------------
# Cross-series correlation (exact co-moment Pearson)
# ---------------------------------------------------------------------------


def _series_correlation(d: str) -> str:
    day = S.fmt_date("ts", d)
    # Pearson from raw co-moments with DECIMAL-exact sums: numerator and
    # the two variance terms are exact integers-scaled decimals, so the
    # single final sqrt+divide in double is bit-identical across engines —
    # the built-in corr() aggregates accumulate in engine-specific order
    # and are NOT hash-comparable.
    sx = "cast(sum(cast(x as decimal(38,9))) as double)"
    sy = "cast(sum(cast(y as decimal(38,9))) as double)"
    sxy = "cast(sum(cast(x * y as decimal(38,9))) as double)"
    sxx = "cast(sum(cast(x * x as decimal(38,9))) as double)"
    syy = "cast(sum(cast(y * y as decimal(38,9))) as double)"
    return f"""
    WITH hourly AS (
        SELECT {day} AS day, hour(ts) AS hr, event_type,
            cast(sum(cast(value as decimal(38,9))) as double)
                / cast(count(*) as double) AS v
        FROM events
        GROUP BY {day}, hour(ts), event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
            a.v AS x, b.v AS y
        FROM hourly a
        JOIN hourly b ON a.day = b.day AND a.hr = b.hr
            AND a.event_type < b.event_type
    )
    SELECT type_a, type_b,
        cast(count(*) as bigint) AS n_buckets,
        round((cast(count(*) as double) * {sxy} - {sx} * {sy})
            / nullif(sqrt(
                greatest(cast(count(*) as double) * {sxx} - {sx} * {sx},
                    cast(0 as double))
                * greatest(cast(count(*) as double) * {syy} - {sy} * {sy},
                    cast(0 as double))),
                cast(0 as double)), 6)
            AS pearson_r
    FROM pairs
    GROUP BY type_a, type_b
    HAVING count(*) >= 24
    ORDER BY type_a, type_b
    """


pair(
    "agg_series_correlation",
    _series_correlation,
    tags=("agg", "domain"),
    doc="Cross-series co-movement: Pearson correlation between every pair "
    "of event-type value series on aligned (day, hour) buckets — the "
    "pair-correlation screen rugpull detection runs across token prices. "
    "Computed from raw co-moments with DECIMAL-exact sums so the single "
    "final sqrt/divide is bit-identical across engines (built-in corr() "
    "accumulates in engine-specific order and cannot hash-match). One "
    "bucket aggregation, one equi self-join on the bucket key, one "
    "co-moment aggregation over the tiny pair space.",
)


# ---------------------------------------------------------------------------
# Zone-map file-skipping simulator (manifest pruning audit)
# ---------------------------------------------------------------------------

_I64_LO = -(2**62)
_I64_HI = 2**62


def _manifest_prune(d: str) -> str:
    day = S.fmt_date("ts", d)
    slot = S.idiv("hour(ts)", "3", d)
    cents = "cast(floor(value * cast(100 as double)) as bigint)"
    return f"""
    WITH files AS (
        SELECT {day} AS day, {slot} AS slot,
            cast(count(*) * {_ROW_BYTES} as bigint) AS bytes,
            min({cents}) AS vmin, max({cents}) AS vmax,
            min(user_id) AS umin, max(user_id) AS umax
        FROM events WHERE value IS NOT NULL
        GROUP BY {day}, {slot}
    ),
    probes AS (
        -- (probe, value-range, user-range); NULL bound = unbounded.
        SELECT 'top_value_band' AS probe,
            cast(900 as bigint) AS lo_v, cast(NULL as bigint) AS hi_v,
            cast(NULL as bigint) AS lo_u, cast(NULL as bigint) AS hi_u
        UNION ALL SELECT 'value_range_1_2', 100, 200, NULL, NULL
        UNION ALL SELECT 'user_point_42', NULL, NULL, 42, 42
        UNION ALL SELECT 'user_low_high_value', 500, NULL, 0, 99
    ),
    evaluated AS (
        SELECT p.probe, f.bytes,
            CASE WHEN coalesce(p.hi_v, {_I64_HI}) < f.vmin
                  OR coalesce(p.lo_v, {_I64_LO}) > f.vmax
                  OR coalesce(p.hi_u, {_I64_HI}) < f.umin
                  OR coalesce(p.lo_u, {_I64_LO}) > f.umax
                 THEN 1 ELSE 0 END AS skippable
        FROM files f CROSS JOIN probes p
    )
    SELECT probe,
        cast(count(*) as bigint) AS n_files,
        {S.isum('skippable', d)} AS n_skipped,
        round(cast({S.isum('skippable', d)} as double)
            / cast(count(*) as double), 6) AS skip_ratio,
        {S.isum('bytes * (1 - skippable)', d)} AS bytes_scanned,
        {S.isum('bytes * skippable', d)} AS bytes_skipped
    FROM evaluated
    GROUP BY probe
    ORDER BY probe
    """


pair(
    "layout_manifest_prune",
    _manifest_prune,
    tags=("layout", "profiling"),
    doc="Zone-map file-skipping audit — the manifest-pruning step a "
    "lakehouse scan planner performs, run as a query over file METADATA: "
    "per file (one per 3-hour write slot) keep (min,max) zone maps for "
    "the value and user_id columns, then evaluate four representative "
    "probe predicates (band, range, point, conjunction) purely against "
    "the zone maps and report the skip ratio and bytes saved. The file "
    "stats table is orders of magnitude smaller than the data, the probe "
    "table is 4 literal rows, so the audit costs one metadata cross "
    "join — and the skip ratios tell you whether the CURRENT sort/"
    "partition layout actually prunes the workload's predicates (the "
    "decision input for layout_zorder_stats / layout_compaction_plan).",
)


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (farthest-point traversal, k=4)
# ---------------------------------------------------------------------------


def _kcenter_coreset(d: str) -> str:
    iv = S.int_vec("embedding", d)
    if d == SPARK:
        l2 = (
            "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
    else:
        l2 = (
            "cast(list_sum(list_transform(list_zip({a}, {b}), "
            "e -> (e[1] - e[2]) * (e[1] - e[2]))) as bigint)"
        )

    def dist(a: str, b: str) -> str:
        return l2.format(a=a, b=b)

    # Each round: pick the point FARTHEST from the selected set (classic
    # Gonzalez farthest-point traversal, 2-approx for the k-center cost),
    # then fold its distance into the running min. Every cross join below
    # is against a ONE-ROW relation (the newest center) — a broadcast —
    # and every argmax is an ordered LIMIT 1 (TakeOrderedAndProject).
    steps = []
    steps.append(f"iv AS (SELECT vec_id, {iv} AS v FROM embeddings)")
    steps.append(
        "c1 AS (SELECT vec_id AS cid, v AS cv FROM iv "
        "ORDER BY vec_id LIMIT 1)"
    )
    steps.append(
        f"d1 AS (SELECT iv.vec_id, iv.v, {dist('iv.v', 'c1.cv')} AS dist "
        "FROM iv CROSS JOIN c1)"
    )
    for i in range(2, 5):
        p = i - 1
        steps.append(
            f"c{i} AS (SELECT vec_id AS cid, v AS cv FROM d{p} "
            f"ORDER BY dist DESC, vec_id LIMIT 1)"
        )
        steps.append(
            f"d{i} AS (SELECT d{p}.vec_id, d{p}.v, "
            f"least(d{p}.dist, {dist(f'd{p}.v', f'c{i}.cv')}) AS dist "
            f"FROM d{p} CROSS JOIN c{i})"
        )
    selects = "\n    UNION ALL ".join(
        f"SELECT {i} AS center_rank, c{i}.cid AS vec_id, "
        f"(SELECT max(dist) FROM d{i}) AS coverage_radius_sq FROM c{i}"
        for i in range(1, 5)
    )
    return "WITH " + ",\n    ".join(steps) + f"""
    SELECT center_rank, vec_id, coverage_radius_sq
    FROM ({selects}) sel
    ORDER BY center_rank
    """


@register(
    "sample_kcenter_coreset",
    oracle=_kcenter_coreset(DUCK),
    tags=("sampling", "similarity", "mlprep", "iterative"),
    doc="Greedy k-center coreset selection over the embedding table "
    "(Gonzalez farthest-point traversal, k=4, 2-approximation): seed on "
    "the smallest vec_id, then repeatedly take the point farthest from "
    "the selected set — the diversity-maximizing data-selection pass "
    "active-learning and coreset pipelines run before labeling/training. "
    "Output is each chosen center plus the squared coverage radius after "
    "adding it (the k-center objective, monotonically shrinking). "
    "Vectors are micro-unit integer-quantized so every distance is an "
    "exact bigint (argmax ties impossible to flip across engines). The "
    "builder follows the kmeans/pagerank broadcast-iteration contract: "
    "the quantized table is localCheckpointed ONCE, each round embeds "
    "the newest 64-int center as a LITERAL array (map-side fold, no "
    "join at all), the argmax is an ordered LIMIT 1 and the radius a "
    "1-row agg — only k vectors plus k scalars ever reach the driver, "
    "k strictly linear passes at any N. (A pure-CTE form re-evaluated "
    "the traversal chain combinatorially — 45 scans at k=4.)",
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = spark.table("embeddings").selectExpr(
        "vec_id", f"{S.int_vec('embedding', SPARK)} AS v"
    )
    # eager=False: every consumer is a SEQUENTIAL driver action (seed
    # ordered-limit, k argmax rounds, final agg), so the first action
    # materializes+persists the quantized table and the rest reuse it —
    # same guaranteed-once semantics as the eager form minus one driver
    # round-trip job. Interleaved A/B at sf0.1: 1.86 -> 1.64 s median.
    # (Checkpoints whose consumers are CONCURRENT stages of one action —
    # the minhash probe sides, the LSH bucket consumers — stay eager:
    # lazy materialization there can race and duplicate the build.)
    iv = iv.localCheckpoint(eager=False)

    def lit_vec(vals):
        # ONE array-literal node (see corpus_ops.kmeans_lloyd_fit): the
        # per-element F.array(*[F.lit ...]) form froze Catalyst at the
        # giant-payload surface's 10,048 dims (r9 sweep).
        return F.lit([int(x) for x in vals])

    def d2(col, center):
        return F.aggregate(
            F.zip_with(col, lit_vec(center), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )

    seeds = iv.orderBy("vec_id").limit(1).collect()
    if not seeds:
        # empty corpus slice: an empty coreset, not a driver-side crash
        return spark.createDataFrame(
            [], "center_rank int, vec_id long, coverage_radius_sq long"
        )
    seed = seeds[0]
    out = []
    cur = iv.select("vec_id", "v", d2(F.col("v"), seed.v).alias("dist"))
    prev_id = int(seed.vec_id)
    for rank in range(2, 5):
        # ONE ordered-limit-1 job yields BOTH numbers the round needs: the
        # farthest row IS the next center, and its dist IS the previous
        # round's coverage radius (max over the same frame, ties broken the
        # same way). The earlier shape paid 3 jobs per round (argmax +
        # re-checkpoint + 1-row max agg); the per-round checkpoints are gone
        # too — the least(d2(...)) chain is at most 4 deep over the ONE
        # checkpointed quantized table, so re-evaluation per action is a
        # single in-memory scan, cheaper than 3 extra checkpoint jobs.
        far = cur.orderBy(F.desc("dist"), "vec_id").limit(1).collect()[0]
        out.append((rank - 1, prev_id, int(far.dist)))
        prev_id = int(far.vec_id)
        cur = cur.select(
            "vec_id",
            "v",
            F.least(F.col("dist"), d2(F.col("v"), far.v)).alias("dist"),
        )
    out.append((4, prev_id, int(cur.agg(F.max("dist")).collect()[0][0])))
    return spark.createDataFrame(
        out, "center_rank int, vec_id long, coverage_radius_sq long"
    ).orderBy("center_rank")
