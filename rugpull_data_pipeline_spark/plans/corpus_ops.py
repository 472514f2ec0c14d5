"""Round-2 corpus / pipeline operators: substring-span dedup, benchmark
contamination detection, n-gram LM quality scoring, paragraph-level dedup,
CDC MERGE application, fixed-bin histograms, and Z-order layout keys.

These extend the LLM-training-data operator families (``llm_ops`` /
``curation``) with the remaining shapes a 100 TB curation pipeline runs
daily. Reference anchor: the pipeline's dimension upserts
(``SERVER/init_redis_maps.py:62-104``) are the degenerate form of the CDC
merge implemented here; everything else is capability uplift mandated by
BASELINE.json ("dedup, similarity search, multimodal columns, text
analysis").

Scale notes:
- Substring-span dedup is the suffix-array dedup of Lee et al. 2022
  ("Deduplicating Training Data Makes Language Models Better") re-expressed
  as a rolling-window hash join: windows are generated partition-parallel
  (REPARTITION before the explode), the duplicate test is one hash-groupBy,
  and the per-doc rollup joins on the 8-byte window hash — never a cross
  join, never full-text comparison.
- Contamination check broadcasts the eval-set n-gram table (small by
  construction) against the training corpus — the train side never shuffles.
- The unigram-LM scorer is two hash aggregations plus one inverted-index
  join on the token; the model (vocab counts) is corpus-wide state that
  Spark materializes as a shuffle, not driver state.
- CDC merge is the MERGE INTO shape: one window argmax over the changelog
  (shuffle on key), one full outer join against the snapshot — both sides
  partitioned by the merge key, so at scale this is a co-partitioned join.
- Z-order keys are pure per-row bit arithmetic (no shuffle at all); the
  payoff is at write time — range-partition + sort by zval clusters both
  dimensions into every file, so min/max row-group stats prune scans on
  EITHER predicate column (tested in tests/test_zorder_layout.py).
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .registry import pair, register


# ---------------------------------------------------------------------------
# Substring-span dedup (suffix-array dedup, Spark-first)
# ---------------------------------------------------------------------------

_WIN = 8  # tokens per window
_STRIDE = 2  # window stride


def _windows(d: str) -> str:
    """CTE text: (doc_id, pos, wh) rolling 8-token windows, stride 2.

    REPARTITION before the explode for the same reason as llm_ops'
    shingle generator: the window fan-out must run partition-parallel,
    and the shuffle moves compact documents, not exploded windows.
    """
    if d == SPARK:
        win = S.gram_concat("toks", "i", _WIN, d)  # element access, no per-i slice alloc (r13)
        # CASE guard: sequence(1, negative) throws, so short docs must map
        # to an empty array BEFORE explode, not be filtered after it.
        seq = (
            f"CASE WHEN size(toks) >= {_WIN} "
            f"THEN sequence(1, size(toks) - {_WIN - 1}, {_STRIDE}) "
            f"ELSE array() END"
        )
        return f"""
        SELECT doc_id, i AS pos, {S.portable_hash64(win, d)} AS wh
        FROM (SELECT /*+ REPARTITION */ doc_id, {S.toks(d)} AS toks
              FROM documents) t
        LATERAL VIEW explode({seq}) w AS i
        """
    # lead()-composed windows over a zipped (pos, tok) unnest: the earlier
    # element-access form still CARRIED the full toks list through the
    # lateral fan-out, which copies a 150k-element list per window row —
    # effectively unbounded on the giant-payload surface (this was the
    # r9 sweep's second hang here, after the original O(len) list-slice
    # form). One window-function pass is O(tokens) total and keeps only
    # (doc_id, pos, tok) scalars in flight.
    win = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {j}) OVER w" for j in range(1, _WIN)]
    )
    return f"""
    SELECT doc_id, pos, wh FROM (
        SELECT doc_id, pos, n, {S.portable_hash64(win, d)} AS wh
        FROM (
            SELECT doc_id, len(toks) AS n,
                unnest(range(1, len(toks) + 1)) AS pos,
                unnest(toks) AS tok
            FROM (SELECT doc_id, {S.toks(d)} AS toks FROM documents) t
        ) tok_rows
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) z
    WHERE n >= {_WIN} AND pos <= n - {_WIN - 1}
        AND (pos - 1) % {_STRIDE} = 0
    """


def _dedup_substring(d: str) -> str:
    return f"""
    WITH wins AS ({_windows(d)}),
    dup AS (
        SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) > 1
    )
    SELECT w.doc_id,
        count(*) AS n_windows,
        count(dup.wh) AS n_dup_windows,
        round(cast(count(dup.wh) as double) / count(*), 6) AS dup_ratio
    FROM wins w LEFT JOIN dup ON w.wh = dup.wh
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """


pair(
    "dedup_substring_spans",
    _dedup_substring,
    tags=("dedup", "text"),
    doc="Exact duplicated-substring detection (suffix-array dedup analogue, "
    "Lee et al. 2022): rolling 8-token window hashes, stride 2; a window is "
    "duplicated iff its hash occurs in >1 document. Per-doc duplicated-span "
    "ratio. All joins are on the 60-bit window hash.",
)


# ---------------------------------------------------------------------------
# Benchmark-contamination check
# ---------------------------------------------------------------------------


def _grams(d: str) -> str:
    """(doc_id, source, gh) distinct word-5-gram hashes per doc."""
    gram_sp = S.gram_concat("toks", "i", 5)  # element access, no per-i slice alloc (r13)
    gram_dk = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]"
    if d == SPARK:
        seq = "CASE WHEN size(toks) >= 5 THEN sequence(1, size(toks) - 4) ELSE array() END"
        return f"""
        SELECT doc_id, source, gh FROM (
            SELECT doc_id, source, explode(array_distinct(transform(
                {seq},
                i -> {S.portable_hash64(gram_sp, d)}
            ))) AS gh
            FROM (SELECT /*+ REPARTITION */ doc_id, source, {S.toks(d)} AS toks
                  FROM documents) t
        ) g
        """
    return f"""
    SELECT doc_id, source, gh FROM (
        SELECT doc_id, source,
            unnest(list_distinct(list_transform(
                range(1, len(toks) - 3),
                i -> {S.portable_hash64(gram_dk, d)}
            ))) AS gh
        FROM (SELECT doc_id, source, {S.toks(d)} AS toks FROM documents) t
        WHERE len(toks) >= 5
    ) g
    """


def _contamination(d: str) -> str:
    # src0 plays the held-out benchmark; everything else is training data.
    return f"""
    WITH grams AS ({_grams(d)}),
    eval_g AS (
        SELECT DISTINCT gh FROM grams WHERE source = 'src0'
    )
    SELECT g.doc_id,
        count(*) AS n_grams,
        count(e.gh) AS n_hits,
        round(cast(count(e.gh) as double) / count(*), 6) AS contamination,
        cast(count(e.gh) * 10 >= count(*) as int) AS is_contaminated
    FROM grams g LEFT JOIN eval_g e ON g.gh = e.gh
    WHERE g.source <> 'src0'
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """


pair(
    "text_contamination_ngram",
    _contamination,
    tags=("text", "dedup"),
    doc="Benchmark-contamination detection: fraction of each training doc's "
    "distinct 5-gram hashes that appear in the held-out eval set (source "
    "src0). Eval gram table is broadcast-sized; the train side never "
    "shuffles. Flag at >=10% overlap.",
)


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (CCNet-style)
# ---------------------------------------------------------------------------


def _lm_tokens(d: str) -> str:
    return (
        f"SELECT doc_id, explode({S.toks(d)}) AS tok FROM documents"
        if d == SPARK
        else f"SELECT doc_id, unnest({S.toks(d)}) AS tok FROM documents"
    )


def _lm_vocab(d: str) -> str:
    """The vocab count table — the shared core of text_ngram_lm_score."""
    return f"SELECT tok, count(*) AS c FROM ({_lm_tokens(d)}) t GROUP BY tok"


def _lm_score(d: str, cnt: str) -> str:
    # The vocab count table is a shared core: inlined, the two
    # scalar-total subqueries and the doc join each re-ran the token
    # explode (6 fact scans planned — the round-11 registry-wide plan
    # audit). The per-doc scoring pass keeps its own single explode.
    # Add-one smoothed unigram logprob. Each term is pre-rounded to 7
    # decimals BEFORE dsum's decimal(38,6) quantization: a 1-ulp ln()
    # difference between libms then collapses to the same double except
    # within an ulp of the 1e-7 grid — per DISTINCT token value, not per
    # occurrence (a shared token's term flipping on the decimal boundary
    # shifted every doc containing it and cost one sf0.1 row before this).
    # The corpus totals attach as uncorrelated SCALAR SUBQUERIES — Spark
    # plans these as reused ScalarSubquery literals (no join node at all),
    # the exact broadcast-constant semantics of in-process totals.
    lp = (
        "round(ln((cnt.c + 1.0) / "
        "((SELECT n FROM tot) + (SELECT v FROM tot))), 7)"
    )
    return f"""
    WITH tok AS ({_lm_tokens(d)}),
    cnt AS ({cnt}),
    tot AS (
        SELECT cast(sum(c) as double) AS n, cast(count(*) as double) AS v
        FROM cnt
    )
    SELECT t.doc_id,
        count(*) AS n_tokens,
        -- round-6 computed in EXACT integer micro-nats: the decimal term
        -- sum divided by count can land EXACTLY on a x.xxxxxx5 tie (it did
        -- on this fixture: -259.000438/76 = 3.4079005), and the engines
        -- break double-rounding ties differently. floor((2S + n)/(2n)) is
        -- half-up over exact integers — tie-proof in both engines.
        cast({S.idiv(
            f"2 * cast(-sum(cast(({lp}) as decimal(38,6))) * 1000000 as bigint)"
            " + count(*)",
            "2 * count(*)", d)} as double) / 1000000 AS avg_nll
    FROM tok t
    JOIN cnt ON t.tok = cnt.tok
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """


pair(
    "text_ngram_lm_score",
    _lm_score,
    shared={"cnt": _lm_vocab},
    tags=("text",),
    doc="CCNet-style quality signal: add-one-smoothed unigram LM fit on the "
    "corpus itself, per-doc mean negative log-likelihood. Two hash aggs + "
    "one token-key join; the LM is distributed state, never driver state. "
    "The vocab count table is localCheckpointed so the LM-build explode "
    "runs once (the scoring pass keeps its own).",
)


# ---------------------------------------------------------------------------
# Paragraph-level dedup (chunk keep-first + reconstruction)
# ---------------------------------------------------------------------------

_CHUNK = 16  # tokens per paragraph-chunk


def _chunks(d: str) -> str:
    if d == SPARK:
        ctext = f"concat_ws(' ', slice(toks, (i - 1) * {_CHUNK} + 1, {_CHUNK}))"
        return f"""
        SELECT doc_id, i AS cidx, {ctext} AS ctext,
            {S.portable_hash64(ctext, d)} AS ch
        FROM (SELECT /*+ REPARTITION */ doc_id, {S.toks(d)} AS toks
              FROM documents) t
        LATERAL VIEW explode(
            sequence(1, cast(ceil(size(toks) / {_CHUNK}.0) as int))) c AS i
        """
    # Grouped zipped unnest, not list slices in a lateral fan-out: the
    # slice form paid O(len(list)) per chunk AND carried the full token
    # list through the fan-out — unbounded on the giant-payload surface's
    # 150k-token doc (r9 sweep). One (pos, tok) pass + GROUP BY chunk
    # index is O(tokens), and string_agg ORDER BY pos reproduces
    # array_to_string byte-for-byte.
    return f"""
    SELECT doc_id, cidx, ctext, {S.portable_hash64('ctext', d)} AS ch
    FROM (
        SELECT doc_id, ((pos - 1) // {_CHUNK}) + 1 AS cidx,
            string_agg(tok, ' ' ORDER BY pos) AS ctext
        FROM (
            SELECT doc_id,
                unnest(range(1, len(toks) + 1)) AS pos,
                unnest(toks) AS tok
            FROM (SELECT doc_id, {S.toks(d)} AS toks FROM documents) t
        ) z
        GROUP BY doc_id, ((pos - 1) // {_CHUNK}) + 1
    ) g
    """


def _para_dedup(d: str) -> str:
    # Keep-first is row_number() over (doc_id, cidx) within each chunk-hash
    # partition: a true lexicographic tuple order (no arithmetic composite
    # key to overflow at any chunk count), and it replaces the former
    # groupBy+self-join with a single window shuffle on ch.
    if d == SPARK:
        kept_text = (
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN rn = 1 THEN struct(cidx, ctext) END)), "
            "x -> x.ctext), ' ')"
        )
    else:
        kept_text = (
            "coalesce(string_agg(CASE WHEN rn = 1 "
            "THEN ctext END, ' ' ORDER BY cidx), '')"
        )
    return f"""
    WITH chunks AS ({_chunks(d)}),
    ranked AS (
        SELECT doc_id, cidx, ctext,
            row_number() OVER (
                PARTITION BY ch ORDER BY doc_id, cidx) AS rn
        FROM chunks
    )
    SELECT doc_id,
        count(*) AS n_chunks,
        {S.isum('CASE WHEN rn = 1 THEN 1 ELSE 0 END', d)} AS n_kept,
        {kept_text} AS kept_text
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """


pair(
    "text_paragraph_dedup",
    _para_dedup,
    tags=("text", "dedup"),
    doc="Paragraph-granularity exact dedup: fixed 16-token chunks, global "
    "keep-first on chunk hash (corpus-wide first occurrence wins, ordered "
    "by the true (doc_id, cidx) tuple), then per-doc reconstruction of the "
    "surviving text in original order. Keep-first is one window shuffle on "
    "the chunk hash; reconstruction is a sorted collect within the doc "
    "group.",
)


# ---------------------------------------------------------------------------
# CDC / MERGE INTO application
# ---------------------------------------------------------------------------


def _cdc_merge(d: str) -> str:
    # events is the changelog: key = user_id, op = delete on 'error' else
    # upsert with the event's value; customer rows with key in [50, 199]
    # are the snapshot (so inserts, updates, deletes AND untouched snapshot
    # rows all occur). Last op per key wins (ts DESC, event_id tiebreak).
    return f"""
    WITH log AS (
        SELECT user_id AS key, ts, event_id,
            CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
            cast(value as double) AS val
        FROM events
    ),
    last_op AS (
        SELECT key, op, val FROM (
            SELECT key, op, val,
                row_number() OVER (
                    PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
            FROM log
        ) x WHERE rn = 1
    ),
    snap AS (
        SELECT c_custkey AS key, cast(c_acctbal as double) AS bal
        FROM customer WHERE c_custkey BETWEEN 50 AND 199
    )
    SELECT key, round(val, 6) AS final_value, origin FROM (
        SELECT coalesce(l.key, s.key) AS key,
            CASE WHEN l.key IS NOT NULL THEN l.val ELSE s.bal END AS val,
            CASE WHEN l.key IS NULL THEN 'unchanged'
                 WHEN s.key IS NULL THEN 'insert'
                 ELSE 'update' END AS origin,
            l.op AS op
        FROM snap s FULL JOIN last_op l ON s.key = l.key
    ) m
    WHERE op IS NULL OR op <> 'D'
    ORDER BY key
    """


pair(
    "cdc_merge_apply",
    _cdc_merge,
    tags=("etl",),
    doc="MERGE INTO / CDC apply: events as a keyed changelog (error = "
    "delete, else upsert), window-argmax for last-op-per-key, full outer "
    "join against the snapshot, delete filter. The relational form of the "
    "reference's Redis dimension upserts (SERVER/init_redis_maps.py:62-104)"
    " with delete support. Both sides hash-partition on the merge key.",
)


# ---------------------------------------------------------------------------
# Fixed-bin histogram
# ---------------------------------------------------------------------------


def _hist(d: str) -> str:
    bucket = (
        "least(greatest(cast(floor(l_extendedprice / 5000) as int), 0), 19)"
    )
    return f"""
    SELECT {bucket} AS bucket,
        count(*) AS n_rows,
        round({S.dsum('l_extendedprice', d)}, 2) AS sum_price
    FROM lineitem
    GROUP BY {bucket}
    ORDER BY bucket
    """


pair(
    "agg_histogram_fixed_bins",
    _hist,
    tags=("agg",),
    doc="Fixed-bin histogram (width_bucket shape) over l_extendedprice: "
    "20 x 5000-wide bins, clamped tails. One hash agg on the bin id; "
    "map-side partial aggregation bounds shuffle rows at n_bins per task.",
)


# ---------------------------------------------------------------------------
# Z-order layout key
# ---------------------------------------------------------------------------


def _zval(a: str, b: str, d: str, bits: int = 8) -> str:
    """Bit-interleaved Morton code of two small ints (a even bits, b odd)."""
    terms = []
    for i in range(bits):
        bit_a = f"({S.shift_right(a, str(i), d)} % 2)"
        bit_b = f"({S.shift_right(b, str(i), d)} % 2)"
        terms.append(S.shift_left(bit_a, str(2 * i), d))
        terms.append(S.shift_left(bit_b, str(2 * i + 1), d))
    return "(" + " + ".join(terms) + ")"


def _zorder(d: str) -> str:
    za = "cast(l_partkey % 256 as bigint)"
    zb = "cast(l_suppkey % 256 as bigint)"
    z = _zval(za, zb, d)
    return f"""
    SELECT {S.idiv(z, '1024', d)} AS z_bucket,
        count(*) AS n_rows,
        min(l_partkey % 256) AS min_a, max(l_partkey % 256) AS max_a,
        min(l_suppkey % 256) AS min_b, max(l_suppkey % 256) AS max_b
    FROM lineitem
    GROUP BY {S.idiv(z, '1024', d)}
    ORDER BY z_bucket
    """


pair(
    "layout_zorder_stats",
    _zorder,
    tags=("layout",),
    doc="Z-order (Morton) clustering key over (l_partkey, l_suppkey) mod "
    "256: per z-bucket min/max of BOTH dimensions stays narrow, which is "
    "exactly why writing files range-partitioned by zval lets parquet "
    "row-group stats prune on either predicate column. Pure per-row bit "
    "arithmetic — no shuffle in the key itself.",
)


# ---------------------------------------------------------------------------
# Event analytics: funnel + retention cohorts + deterministic sampling
# ---------------------------------------------------------------------------

def _funnel_v(d: str) -> str:
    return """
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
"""


def _funnel_c(d: str, v: str) -> str:
    return f"""
    WITH v AS ({v})
    SELECT e.user_id, min(e.ts) AS t2 FROM events e
    JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
    WHERE e.event_type = 'click' GROUP BY e.user_id
"""


def _funnel(d: str, v: str, c: str) -> str:
    # The first two stage tables are shared: inlined, each later stage (and
    # each count) re-derived every earlier stage (6 fact scans planned —
    # the round-11 registry-wide plan audit; the three per-stage filters
    # themselves are inherent).
    return f"""
WITH v AS ({v}),
c AS ({c}),
p AS (
    SELECT e.user_id, min(e.ts) AS t3 FROM events e
    JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'stage1_view' AS stage, count(*) AS n_users FROM v
UNION ALL SELECT 'stage2_click', count(*) FROM c
UNION ALL SELECT 'stage3_purchase', count(*) FROM p
ORDER BY stage
"""


pair(
    "events_funnel_stages",
    _funnel,
    shared={"v": _funnel_v, "c": _funnel_c},
    tags=("analytics",),
    doc="Ordered funnel (view -> click -> purchase): each stage requires an "
    "event strictly after the user's previous-stage entry. Three hash aggs "
    "on user_id + two co-partitioned joins — the user_id partitioning is "
    "reused across every stage, so at scale this is one shuffle then "
    "narrow. ANSI text shared verbatim by both engines. The first two "
    "stage tables are localCheckpointed so later stages and the counts "
    "don't re-derive them.",
)


def _retention(d: str) -> str:
    wk = "date_trunc('week', ts)"
    off = S.idiv(
        f"({S.epoch_s('a.wk', d)} - {S.epoch_s('c.c0', d)})", "604800", d
    )
    return f"""
    WITH active AS (
        SELECT DISTINCT user_id, {wk} AS wk FROM events
    ),
    cohort AS (
        SELECT user_id, min(wk) AS c0 FROM active GROUP BY user_id
    )
    SELECT {S.fmt_date('c.c0', d)} AS cohort_week,
        cast({off} as int) AS week_offset,
        count(*) AS n_active
    FROM active a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY {S.fmt_date('c.c0', d)}, cast({off} as int)
    ORDER BY cohort_week, week_offset
    """


pair(
    "events_retention_cohorts",
    _retention,
    tags=("analytics",),
    doc="Weekly retention cohorts: users bucketed by first-active week, "
    "active-user counts per week offset. distinct + two aggs, all "
    "partitioned on user_id; the cohort dim never leaves the cluster.",
)


def _sample_per_key(d: str) -> str:
    h = S.portable_hash64("cast(doc_id as string)", d, seed="'sample-v1'")
    return f"""
    SELECT source, doc_id, n_chars FROM (
        SELECT source, doc_id, n_chars,
            row_number() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
        FROM documents
    ) x WHERE rn <= 5
    ORDER BY source, doc_id
    """


pair(
    "sample_reservoir_per_key",
    _sample_per_key,
    tags=("sampling",),
    doc="Deterministic fixed-size per-key sample (reservoir-sampling "
    "semantics, reproducible): keep the 5 docs per source with the "
    "smallest keyed hash. One window per partition key; at scale a "
    "partial top-k per partition bounds the shuffle to k rows per key "
    "per task.",
)


# ---------------------------------------------------------------------------
# Product quantization (PQ) encoding
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_DSUB = 16  # dims per subspace (64-dim fixture embeddings)
_PQ_K = 8  # codebook entries per subspace


def _pq_encode(d: str) -> str:
    # The codebook is pre-split per subspace and the probe side pre-sliced,
    # so the distance computation is an EQUI-join on the subspace id `s`
    # (BroadcastHashJoin, 32-row build side) — not a nested-loop cross join.
    # Fan-out is still exactly k codes per (vector, subspace), but via hash
    # lookup, and the pattern stays a hash join at any corpus size.
    iv = S.int_vec("embedding", d)
    if d == SPARK:
        sub = f"slice(v, s * {_PQ_DSUB} + 1, {_PQ_DSUB})"
        l2 = (
            "aggregate(zip_with(p.pv, c.cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
        pv_cte = (
            f"SELECT vec_id, s, {sub} AS pv FROM iv "
            f"LATERAL VIEW explode(sequence(0, {_PQ_M - 1})) t AS s"
        )
        cb_cte = (
            f"SELECT vec_id AS cid, s, {sub} AS cv FROM iv "
            f"LATERAL VIEW explode(sequence(0, {_PQ_M - 1})) t AS s "
            f"WHERE vec_id BETWEEN 1 AND {_PQ_K}"
        )
    else:
        sub = f"v[s * {_PQ_DSUB} + 1 : (s + 1) * {_PQ_DSUB}]"
        l2 = (
            "cast(list_sum(list_transform(list_zip(p.pv, c.cv), "
            "e -> (e[1] - e[2]) * (e[1] - e[2]))) as bigint)"
        )
        pv_cte = (
            f"SELECT vec_id, s, {sub} AS pv "
            f"FROM iv, unnest(range(0, {_PQ_M})) t(s)"
        )
        cb_cte = (
            f"SELECT vec_id AS cid, s, {sub} AS cv "
            f"FROM iv, unnest(range(0, {_PQ_M})) t(s) "
            f"WHERE vec_id BETWEEN 1 AND {_PQ_K}"
        )
    codes = ", ".join(
        f"max(CASE WHEN s = {s} THEN cid END) AS code_{s}" for s in range(_PQ_M)
    )
    return f"""
    WITH iv AS (SELECT vec_id, {iv} AS v FROM embeddings),
    pv AS ({pv_cte}),
    cb AS ({cb_cte}),
    dists AS (
        SELECT p.vec_id, p.s, c.cid, {l2} AS d2
        FROM pv p JOIN cb c ON p.s = c.s
    ),
    best AS (
        SELECT vec_id, s, cid, d2 FROM (
            SELECT vec_id, s, cid, d2,
                row_number() OVER (
                    PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
            FROM dists
        ) x WHERE rn = 1
    )
    SELECT vec_id, {codes},
        {S.isum('d2', d)} AS distortion
    FROM best
    GROUP BY vec_id
    ORDER BY vec_id
    """


pair(
    "sim_pq_encode",
    _pq_encode,
    tags=("similarity",),
    doc="Product-quantization encoding: 64-dim embedding split into 4 x "
    "16-dim subspaces, each assigned to the nearest of 8 codebook entries "
    "(deterministic codebook = vectors 1..8; exact fixed-point integer L2, "
    "tie-break on code id). Output is a 4-byte code + total distortion — "
    "the 64x compression that makes billion-vector ANN RAM-resident. The "
    "per-subspace codebook broadcasts and the distance step is an equi-join "
    "on the subspace id (BroadcastHashJoin, never a nested loop).",
)


# ---------------------------------------------------------------------------
# K-means (Lloyd's algorithm), iterated on the cluster — rows-only
# ---------------------------------------------------------------------------


def _kmeans_oracle(k: int = 8, iters: int = 4) -> str:
    """Lloyd's algorithm UNROLLED as SQL: the iteration count is fixed, so
    each round is one assignment CTE (argmin over k centroids) + one
    means CTE (decimal-exact sum -> double -> divide, bit-identical to the
    Spark builder's update) + a coalesce against the previous round for
    empty clusters. Determinism audit (numbers at the fixture scales):
    argmin margins >= 7e-6 relative and inertia sits >= 7e-6 from any 4dp
    rounding boundary, while cross-engine float-order noise is <= ~1e-12 —
    no flip is possible."""
    # AS MATERIALIZED on every re-referenced CTE: DuckDB inlines plain
    # CTEs, and the unrolled round chain references xv 9 times and each
    # c{r} twice — inlining re-expands the whole prefix per reference
    # (exponential in rounds), which detonated at the giant-payload
    # surface's 10,048 dims (r9 sweep). Materialization makes each round
    # compute once, restoring the intended O(rounds * n * k * d).
    parts = [
        "WITH xv AS MATERIALIZED (",
        "    SELECT vec_id, i - 1 AS d, cast(embedding[i] as double) AS x",
        "    FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)",
        "),",
        "c0 AS MATERIALIZED (",
        f"    SELECT vec_id AS cid, d, x AS m FROM xv WHERE vec_id < {k}),",
    ]
    for r in range(1, iters + 1):
        parts += [
            f"d{r} AS (",
            "    SELECT xv.vec_id, c.cid,",
            "        sum((xv.x - c.m) * (xv.x - c.m)) AS d2",
            f"    FROM xv JOIN c{r - 1} c ON xv.d = c.d",
            "    GROUP BY xv.vec_id, c.cid",
            "),",
            f"a{r} AS (",
            "    SELECT vec_id, cid FROM (",
            "        SELECT vec_id, cid,",
            "            row_number() OVER (",
            "                PARTITION BY vec_id ORDER BY d2, cid) AS rn",
            f"        FROM d{r}",
            "    ) q WHERE rn = 1",
            "),",
            f"n{r} AS (",
            "    SELECT a.cid, xv.d,",
            "        cast(sum(cast(xv.x as decimal(38,9))) as double)",
            "            / count(*) AS m",
            f"    FROM a{r} a JOIN xv ON xv.vec_id = a.vec_id",
            "    GROUP BY a.cid, xv.d",
            "),",
            f"c{r} AS MATERIALIZED (",
            "    SELECT p.cid, p.d, coalesce(n.m, p.m) AS m",
            f"    FROM c{r - 1} p LEFT JOIN n{r} n",
            "        ON n.cid = p.cid AND n.d = p.d",
            "),",
        ]
        r_final = r
    parts += [
        "dF AS (",
        "    SELECT xv.vec_id, c.cid,",
        "        sum((xv.x - c.m) * (xv.x - c.m)) AS d2",
        f"    FROM xv JOIN c{r_final} c ON xv.d = c.d",
        "    GROUP BY xv.vec_id, c.cid",
        "),",
        "aF AS (",
        "    SELECT vec_id, cid, d2 FROM (",
        "        SELECT vec_id, cid, d2,",
        "            row_number() OVER (",
        "                PARTITION BY vec_id ORDER BY d2, cid) AS rn",
        "        FROM dF",
        "    ) q WHERE rn = 1",
        ")",
        "SELECT cast(cid as int) AS cluster,",
        "    cast(count(*) as bigint) AS n_points,",
        "    round(cast(sum(cast(d2 as decimal(38,9))) as double), 4)",
        "        AS inertia",
        "FROM aF GROUP BY cid ORDER BY cluster",
    ]
    return "\n".join(parts)


@register(
    "kmeans_lloyd_fit",
    oracle=_kmeans_oracle(),
    tags=("similarity", "stateful"),
    doc="K-means (k=8, 4 Lloyd iterations) over the embeddings, "
    "deterministic init (vectors 0..7). Each round: broadcast the k x 64 "
    "centroid table, map-side nearest-centroid assignment (posexplode + "
    "conditional agg), one shuffle to re-average. Only the k x 64 centroid "
    "matrix ever reaches the driver — the assignment never does. Centroid "
    "updates sum via decimal(38,9), so they are shuffle-order-independent "
    "and bit-identical across engines. The iteration count is fixed, so "
    "the oracle is Lloyd's algorithm UNROLLED as SQL (4 assignment+update "
    "rounds); additionally verified to 1e-6 against a NumPy replica in "
    "tests/test_corpus_ops.py.",
)
def kmeans_lloyd_fit(spark, sf_dir):
    from pyspark.sql import functions as F

    k, iters = 8, 4
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # Deterministic init: the first k vectors by vec_id (0..k-1).
    cents = [
        (int(r["vec_id"]), list(r["v"]))
        for r in emb.filter(F.col("vec_id") < k).collect()
    ]
    centroids = [v for _, v in sorted(cents)]
    if not centroids:
        # empty corpus slice: no clusters, not a driver-side crash
        return spark.createDataFrame(
            [], "cluster int, n_points bigint, inertia double"
        )

    def assign(df, centroids):
        # Centroids travel as a BROADCAST TABLE, not as plan literals: the
        # earlier literal-per-centroid form embedded k x d constants into
        # the expression tree, which blew past codegen limits into
        # interpreted fallback at the giant-payload surface's 10,048 dims
        # (~45 s per iteration; r9 sweep). The broadcast nested-loop join
        # against the k-row table is the shape a real cluster wants anyway
        # — centroids are data, not plan. Argmin via min(struct(d2, cid,
        # v)): all candidates for a vector sit in one partition (NLJ
        # preserves the probe side), so the partial agg collapses k rows
        # to 1 map-side and the struct min's (d2, cid) lexicographic order
        # reproduces the old least() tie-break exactly.
        spark_ = df.sparkSession
        cent_df = spark_.createDataFrame(
            [(cid, [float(x) for x in cv]) for cid, cv in enumerate(centroids)],
            "cid int, cv array<double>",
        )
        d2 = F.aggregate(
            F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        return (
            df.crossJoin(F.broadcast(cent_df))
            .withColumn("d2c", d2)
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        F.col("d2c").alias("d2"),
                        F.col("cid").alias("cid"),
                        F.col("v").alias("v"),
                    )
                ).alias("b")
            )
            .select(
                "vec_id",
                F.col("b.v").alias("v"),
                F.col("b.cid").alias("cluster"),
                F.col("b.d2").alias("d2"),
            )
        )

    for _ in range(iters):
        assigned = assign(emb, centroids)
        means = (
            assigned.select(
                "cluster", F.posexplode("v").alias("dim", "x")
            )
            .groupBy("cluster", "dim")
            # Decimal-summed mean: exact addition makes the update
            # independent of shuffle arrival order (F.avg over raw doubles
            # is not), so near-tie assignments cannot flip between runs.
            # Shape is exact-decimal-sum -> double -> IEEE divide, which any
            # engine reproduces bit-for-bit (the oracle relies on this).
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(38,9)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("dm")
            )
            .select("cluster", F.col("dm.m").alias("cv"))
            .collect()
        )
        new_centroids = list(centroids)
        for r in means:
            new_centroids[r["cluster"]] = list(r["cv"])
        centroids = new_centroids

    final = assign(emb, centroids)
    return (
        final.groupBy("cluster")
        .agg(
            F.count("*").alias("n_points"),
            F.round(
                F.sum(F.col("d2").cast("decimal(38,9)")).cast("double"), 4
            ).alias("inertia"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM scoring (the unigram scorer's upgrade)
# ---------------------------------------------------------------------------


def _bigrams(d: str) -> str:
    # Bigrams by position; Spark's sequence(1, n-1) DESCENDS when n < 2, so
    # short docs are filtered before the explode in both dialects.
    if d == SPARK:
        return (
            "SELECT doc_id, element_at(w, i) AS w1, element_at(w, i + 1) AS w2 "
            "FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) b "
            "LATERAL VIEW explode(sequence(1, size(w) - 1)) t AS i "
            "WHERE size(w) >= 2"
        )
    else:
        # lead()-composed bigrams over a zipped (pos, tok) unnest: the
        # lateral w[i] form carried the full token list through the
        # fan-out (a 150k-element copy per bigram row) — unbounded on the
        # giant-payload surface (r9 sweep). Tokens are never NULL, so
        # lead IS NULL exactly marks each doc's last position.
        return (
            "SELECT doc_id, tok AS w1, lead(tok, 1) OVER ("
            "PARTITION BY doc_id ORDER BY pos) AS w2 "
            "FROM (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, "
            "unnest(w) AS tok "
            "FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) b) z "
            "QUALIFY w2 IS NOT NULL"
        )


def _bigram_counts(d: str) -> str:
    """The bigram count table — the shared core of text_bigram_kneser_ney."""
    return (
        "SELECT w1, w2, cast(count(*) as bigint) AS c12"
        f" FROM ({_bigrams(d)}) bg GROUP BY w1, w2"
    )


def _bigram_kn(d: str, cb: str) -> str:
    # The bigram count table is a shared core (the Spark twin of the
    # DuckDB MATERIALIZED cb): inlined, the three stat aggregates each
    # re-ran the bigram explode (5 fact scans planned — the round-11
    # registry-wide plan audit). The per-doc scoring pass keeps its own
    # single explode.
    # Interpolated KN with absolute discount D = 0.75 (exact in binary):
    #   P(w2|w1) = (c12 - D)/c1 + D * N1p_w1 / c1 * (N1f_w2 / T)
    # Every count is an exact bigint; the whole P is one deterministic
    # double expression; ln(P) pre-rounded to 7 dp per DISTINCT bigram
    # (the unigram scorer's convention), then the per-doc fold is the
    # exact micro-nat half-up division.
    lp = (
        "round(ln((cast(c12 as double) - 0.75) / cast(c1 as double)"
        " + 0.75 * cast(n1p as double) / cast(c1 as double)"
        " * (cast(n1f as double) / cast(tt as double))), 7)"
    )
    mat = "MATERIALIZED " if d == DUCK else ""
    return f"""
    WITH split_bg AS {mat}({_bigrams(d)}),
    cb AS {mat}({cb}),
    left_stats AS (
        SELECT w1, {S.isum('c12', d)} AS c1,
            cast(count(*) as bigint) AS n1p
        FROM cb GROUP BY w1
    ),
    right_stats AS (
        SELECT w2, cast(count(*) as bigint) AS n1f FROM cb GROUP BY w2
    ),
    tot AS (SELECT cast(count(*) as bigint) AS tt FROM cb),
    terms AS (
        SELECT cb.w1, cb.w2, {lp} AS lp
        FROM cb
        JOIN left_stats ls ON ls.w1 = cb.w1
        JOIN right_stats rs ON rs.w2 = cb.w2
        CROSS JOIN tot
    )
    SELECT s.doc_id,
        cast(count(*) as bigint) AS n_bigrams,
        cast({S.idiv(
            "2 * cast(-sum(cast((t.lp) as decimal(38,6))) * 1000000 as bigint)"
            " + count(*)",
            "2 * count(*)", d)} as double) / 1000000 AS avg_nll_kn
    FROM split_bg s
    JOIN terms t ON t.w1 = s.w1 AND t.w2 = s.w2
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """


pair(
    "text_bigram_kneser_ney",
    _bigram_kn,
    shared={"cb": _bigram_counts},
    tags=("text", "quality"),
    doc="Interpolated Kneser-Ney bigram LM scoring (D=0.75), the standard "
    "upgrade of text_ngram_lm_score's add-one unigram: the discounted "
    "bigram estimate backs off to the CONTINUATION probability "
    "N1+(.w2)/|bigram types| — the 'San Francisco' correction that "
    "add-one cannot express. All counts are single hash-aggs on the "
    "bigram grid; each distinct bigram's ln(P) is one deterministic "
    "double expression pre-rounded to 7 dp, the per-doc fold is the "
    "exact micro-nat half-up division (tie-proof across engines), and "
    "the scoring join is hash-partitioned on the bigram — the LM is "
    "distributed state, never driver state. The bigram count table is "
    "localCheckpointed (the Spark twin of the DuckDB MATERIALIZED cb) "
    "so the LM-build explode runs once.",
)
