"""LLM-training-data pipeline operators (SURVEY.md §7.1 M5, BASELINE.json
mandate): deduplication, similarity search, text analysis over the
``documents`` / ``embeddings`` fixtures.

Scale notes (the point of these designs):
- Exact dedup is a hash-groupBy — one shuffle on the hash, partial agg first.
- MinHash-LSH turns O(n²) near-dup into band-bucket equi-joins: candidate
  pairs are only generated inside a bucket, which is the shuffle key. At
  100 TB the bucket join replaces any cross join; signatures are 16×8 bytes
  per doc regardless of doc size.
- SimHash reduces a doc to one 60-bit int; near-dup = low Hamming distance.
- N-gram Jaccard joins on shared shingles (inverted-index join), never a
  cross join; a document-frequency cap (df ≤ 50) drops stop-shingles before
  the join so no single shingle can fan out quadratically at web scale.
- Cosine top-k: brute force is the correctness baseline; the LSH/IVF variant
  is the scale path (bucket first, rank inside bucket).

Every numeric output goes through the decimal-sum / rounding discipline in
``functions.scalars`` so DuckDB oracles hash-match bit-for-bit.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .registry import pair, register


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"


def _token_count(d: str) -> str:
    toks = S.toks(d)
    return f"""
    SELECT doc_id,
        {S.arr_len(toks, d)} AS n_tokens,
        {S.arr_len(S.arr_distinct(toks, d), d)} AS n_distinct_tokens,
        length(text) AS n_chars_txt
    FROM documents
    ORDER BY doc_id
    """


pair(
    "text_token_count",
    _token_count,
    tags=("text",),
    doc="Whitespace tokenization + distinct-token counts (token budget "
    "accounting for training corpora).",
)


def _quality(d: str) -> str:
    toks = S.toks(d)
    stop_filter = f"filter({toks}, t -> t IN {_STOPWORDS})" if d == SPARK else (
        f"list_filter({toks}, t -> t IN {_STOPWORDS})"
    )
    return f"""
    SELECT doc_id,
        {S.arr_len(toks, d)} AS n_tokens,
        round(cast(length(text) as double) / {S.arr_len(toks, d)}, 6) AS avg_token_len,
        round(cast({S.arr_len(stop_filter, d)} as double) / {S.arr_len(toks, d)}, 6) AS stopword_ratio,
        round(cast({S.arr_len(S.arr_distinct(toks, d), d)} as double) / {S.arr_len(toks, d)}, 6) AS distinct_ratio
    FROM documents
    ORDER BY doc_id
    """


pair(
    "text_quality_score",
    _quality,
    tags=("text",),
    doc="Quality scoring: token-length / stopword / repetition ratios "
    "(Gopher-style quality filters, all JVM-side expressions).",
)


def _lang_id(d: str) -> str:
    toks = S.toks(d)
    # Deterministic n-gram-free marker heuristic: score membership of marker
    # word sets; classify by the dominant set (engine-portable CASE cascade).
    en = "('the', 'a', 'fast', 'slow', 'small')"
    sql_m = "('table', 'scan', 'merge', 'join', 'query')"
    stream_m = "('stream', 'batch', 'window', 'row', 'value')"

    def cnt(markers: str) -> str:
        if d == SPARK:
            return f"size(filter({toks}, t -> t IN {markers}))"
        return f"len(list_filter({toks}, t -> t IN {markers}))"

    return f"""
    WITH scored AS (
        SELECT doc_id, lang,
            {cnt(en)} AS sc_common,
            {cnt(sql_m)} AS sc_sql,
            {cnt(stream_m)} AS sc_stream
        FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
        CASE
            WHEN sc_sql >= sc_stream AND sc_sql >= sc_common THEN 'sqlish'
            WHEN sc_stream >= sc_common THEN 'streamish'
            ELSE 'common'
        END AS predicted_class,
        sc_common, sc_sql, sc_stream
    FROM scored
    ORDER BY doc_id
    """


pair(
    "text_lang_id_heuristic",
    _lang_id,
    tags=("text",),
    doc="Language/domain ID via marker-token scoring (n-gram heuristic "
    "family); pure built-in array ops, no UDF.",
)


def _fingerprint(d: str) -> str:
    toks = S.toks(d)
    # Portable lowercase: U+0130 (Turkish dotted capital I) is the one code
    # point whose lowercase MAPPING differs between the engines — Java/Spark
    # applies the full Unicode mapping ('i' + U+0307 combining dot), DuckDB's
    # utf8proc applies the simple mapping (bare 'i'). Pre-folding it to 'i'
    # on BOTH sides pins one deterministic canon (caught by the r9
    # unicode-text sweep; every other lower() mapping agrees).
    lowered = "lower(replace(text, 'İ', 'i'))"
    canon = S.arr_join(S.arr_sort(S.arr_distinct(f"{S.split_ws(lowered, d)}", d), d), "' '", d)
    return f"""
    SELECT doc_id,
        md5({canon}) AS fingerprint,
        {S.portable_hash64("text", d)} AS raw_hash
    FROM documents
    ORDER BY doc_id
    """


def _token_bpe(d: str) -> str:
    # Greedy "BPE-ish" sub-word chunking: letter runs split into ≤4-char
    # pieces, digit runs kept whole, punctuation one token each. Greedy
    # quantifiers behave identically in Java regex (Spark) and RE2 (DuckDB)
    # for this alternation.
    pat = "'[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 ]'"
    if d == SPARK:
        bpe = f"regexp_extract_all(text, {pat}, 0)"
    else:
        bpe = f"regexp_extract_all(text, {pat})"
    ws = S.split_ws("text", d)
    return f"""
    SELECT doc_id,
        {S.arr_len(ws, d)} AS n_ws_tokens,
        {S.arr_len(bpe, d)} AS n_bpe_tokens,
        round(cast({S.arr_len(bpe, d)} as double)
              / {S.arr_len(ws, d)}, 6) AS bpe_per_word
    FROM documents
    ORDER BY doc_id
    """


pair(
    "text_token_bpe_regex",
    _token_bpe,
    tags=("text",),
    doc="Sub-word token counting via a BPE-ish greedy regex "
    "(regexp_extract_all): the cheap token-budget estimator that runs "
    "JVM-side with no tokenizer library.",
)


pair(
    "text_fingerprint",
    _fingerprint,
    tags=("text", "dedup"),
    doc="Broder canonical fingerprint: sorted distinct lowercase tokens → md5 "
    "(order/punct-insensitive doc identity).",
)


def _vocab_topk(d: str) -> str:
    toks = _word_tokens_all(d)
    return f"""
    WITH tok AS ({toks}),
    vocab AS (
        SELECT tok, count(*) AS coll_freq,
            cast(count(DISTINCT doc_id) as bigint) AS doc_freq
        FROM tok GROUP BY tok
    )
    SELECT tok, coll_freq, doc_freq
    FROM vocab
    ORDER BY coll_freq DESC, tok
    LIMIT 100
    """


def _tfidf_topterms(d: str) -> str:
    # Score = tf × (N / df): multiplication and division are correctly
    # rounded in IEEE-754, so both engines produce bit-identical doubles
    # from identical integer inputs — unlike ln(), whose libm varies. The
    # classic log-idf would risk ulp-level rank flips across engines.
    toks = _word_tokens_all(d)
    return f"""
    WITH tok AS ({toks}),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, cast(count(DISTINCT doc_id) as bigint) AS df FROM tok GROUP BY tok
    ),
    scored AS (
        SELECT tf.doc_id, tf.tok,
            cast(tf.tf as double)
                * (cast((SELECT count(*) FROM documents) as double)
                   / cast(df.df as double)) AS score
        FROM tf JOIN df ON tf.tok = df.tok
    )
    SELECT doc_id, tok, round(score, 6) AS score, rnk
    FROM (
        SELECT doc_id, tok, score,
            row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, tok
            ) AS rnk
        FROM scored
    ) r
    WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """


def _word_tokens_all(d: str) -> str:
    """CTE text: (doc_id, tok) — one row per token occurrence (with repeats)."""
    if d == SPARK:
        return f"SELECT doc_id, explode({S.toks(d)}) AS tok FROM documents"
    return f"SELECT doc_id, unnest({S.toks(d)}) AS tok FROM documents"


pair(
    "text_vocab_topk",
    _vocab_topk,
    tags=("text",),
    doc="Corpus vocabulary: collection + document frequency per token, "
    "top-100 (tokenizer-vocab construction; one shuffle on the token).",
)

pair(
    "text_tfidf_topterms",
    _tfidf_topterms,
    tags=("text",),
    doc="Per-document top-3 terms by tf×(N/df) salience. Rational idf "
    "instead of log-idf keeps the score bit-identical across engines "
    "(mult/div are correctly rounded; libm ln is not).",
)


def _train_val_split(d: str) -> str:
    # Deterministic hash-bucket splitting: the reproducible alternative to
    # rand()-sampling for train/val carve-outs — the same doc lands in the
    # same split on every run, every engine, every cluster size.
    h = S.portable_hash64("concat('split:', cast(doc_id as string))", d)
    return f"""
    WITH assigned AS (
        SELECT doc_id, length(text) AS n_chars_txt,
            CASE WHEN {h} % 100 < 90 THEN 'train'
                 WHEN {h} % 100 < 95 THEN 'val'
                 ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, count(*) AS n_docs,
        {S.isum('n_chars_txt', d)} AS n_chars_total,
        min(doc_id) AS first_doc
    FROM assigned
    GROUP BY split
    ORDER BY split
    """


pair(
    "text_train_val_split",
    _train_val_split,
    tags=("text", "sampling"),
    doc="Deterministic 90/5/5 train/val/test split via hash buckets — "
    "reproducible sampling (no rand()), stable under reshuffling and "
    "engine-portable.",
)


def _corpus_curation(d: str) -> str:
    # The end-to-end curation composite: quality gates (length, stopword
    # ratio, repetition) → exact-dup keep-list (min doc_id per content hash)
    # → surviving corpus stats per source. Each stage is a shuffle-planar
    # DataFrame op; nothing touches the driver.
    toks = S.toks(d)
    stop_filter = f"filter({toks}, t -> t IN {_STOPWORDS})" if d == SPARK else (
        f"list_filter({toks}, t -> t IN {_STOPWORDS})"
    )
    return f"""
    WITH scored AS (
        SELECT doc_id, source, text,
            {S.arr_len(toks, d)} AS n_tokens,
            cast({S.arr_len(stop_filter, d)} as double)
                / {S.arr_len(toks, d)} AS stop_ratio,
            cast({S.arr_len(S.arr_distinct(toks, d), d)} as double)
                / {S.arr_len(toks, d)} AS distinct_ratio
        FROM documents
    ),
    quality AS (
        SELECT * FROM scored
        WHERE n_tokens >= 20
          AND stop_ratio <= 0.5
          AND distinct_ratio >= 0.2
    ),
    keepers AS (
        SELECT min(doc_id) AS doc_id
        FROM quality
        GROUP BY md5(text)
    )
    SELECT q.source,
        count(*) AS n_docs,
        {S.isum('q.n_tokens', d)} AS n_tokens_total,
        round(min(q.distinct_ratio), 6) AS min_distinct_ratio
    FROM quality q
    JOIN keepers k ON k.doc_id = q.doc_id
    GROUP BY q.source
    ORDER BY q.source
    """


pair(
    "text_corpus_curation",
    _corpus_curation,
    tags=("text", "dedup"),
    doc="End-to-end curation composite: quality gates → exact-dup "
    "keep-list → per-source corpus stats. The 'prepare training data' "
    "pipeline as one shuffle-planar query.",
)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def _dedup_exact(d: str) -> str:
    return """
    SELECT md5(text) AS text_hash,
        min(doc_id) AS keep_doc_id,
        count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY text_hash
    """


pair(
    "dedup_exact_docs",
    _dedup_exact,
    tags=("dedup",),
    doc="Exact dedup: hash-groupBy on content hash, keep min doc_id. One "
    "shuffle on the 128-bit hash; no full-text comparison.",
)


def _ngram_shingles(d: str) -> str:
    """CTE text: (doc_id, sh) distinct word-3-gram shingles per doc.

    The REPARTITION hint spreads documents across the cluster BEFORE the
    shingle explosion: a single small parquet file scans as one partition,
    which would serialize the ~50× explode and every downstream hash. The
    shuffle moves only the compact input rows, never the exploded set — the
    same reason the reference chunks transactions across threads before
    parsing (RECEIVER/stage2_processing.cpp:303-318).
    """
    if d == SPARK:
        return f"""
        SELECT doc_id, explode(array_distinct(transform(
            sequence(1, size(toks) - 2),
            -- element access, not slice(toks, i, 3): the slice allocates a
            -- 3-element array per position; concat over element_at builds
            -- the same string with zero per-position allocation (r13,
            -- isolated shingle stage 0.606 -> 0.512 s median at sf0.1; the
            -- DuckDB twin below has used element access since round 9)
            i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1),
                        ' ', element_at(toks, i + 2))
        ))) AS sh
        FROM (SELECT /*+ REPARTITION */ doc_id, {S.toks(d)} AS toks FROM documents) t
        WHERE size(toks) >= 3
        """
    return f"""
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, len(toks) - 1),
        -- element access, not toks[i:i+k] slicing: DuckDB list slices cost
        -- O(len(list)) each, turning per-token windows O(tokens^2) per row
        -- (hung on the giant-payload sweep's 150k-token doc; round 9)
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
    ))) AS sh
    FROM (SELECT doc_id, {S.toks(d)} AS toks FROM documents) t
    WHERE len(toks) >= 3
    """


_JACCARD_DF_CAP = 50  # drop shingles present in more than this many docs


def _dedup_ngram_jaccard(d: str) -> str:
    # The inverted-index self-join runs on the 60-bit shingle hash, not the
    # shingle string: the shuffle moves 8-byte keys instead of ~20-byte
    # strings, and the join compares integers. Same result (both engines use
    # the same hash; a 60-bit collision over ~1M distinct shingles has
    # probability ~1e-7 and would have to collide identically in both).
    #
    # Stop-shingle frequency cap: a shingle appearing in k docs contributes
    # k^2/2 candidate pairs, so one hot shingle ("in the the") detonates the
    # self-join at web scale. Shingles with document frequency > cap are
    # dropped from BOTH the intersection and the union (Jaccard over the
    # capped sets) — one count-over-window on the shingle hash, no extra
    # join. Per-doc shingles are already distinct, so count(*) = doc freq.
    shh = S.portable_hash64("sh", d)
    return f"""
    WITH hashed AS (
        SELECT doc_id, {shh} AS shh FROM ({_ngram_shingles(d)}) raw
    ),
    shingles AS (
        SELECT doc_id, shh FROM (
            SELECT doc_id, shh,
                count(*) OVER (PARTITION BY shh) AS df
            FROM hashed
        ) f WHERE df <= {_JACCARD_DF_CAP}
    ),
    doc_sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM shingles a
        JOIN shingles b ON a.shh = b.shh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
        round(cast(n_inter as double)
              / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM pair_inter
    JOIN doc_sizes sa ON sa.doc_id = doc_a
    JOIN doc_sizes sb ON sb.doc_id = doc_b
    WHERE cast(n_inter as double) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_ngram_jaccard",
    oracle=_dedup_ngram_jaccard(DUCK),
    tags=("dedup",),
    doc="Near-dup via word-3-gram Jaccard: inverted-index join on shared "
    "shingles (shuffle key = shingle), never a cross join. Shingles with "
    f"document frequency > {_JACCARD_DF_CAP} are dropped before the "
    "self-join (one count-over-window), killing the k^2 hot-shingle pair "
    "blow-up. The capped shingle table is materialized ONCE "
    "(localCheckpoint) carrying each doc's capped set size, so the pair "
    "aggregation emits n_a/n_b itself — no size joins against the pair "
    "table; at scale this is the persisted inverted-index table, not "
    "three recomputations of the explode.",
)
def dedup_ngram_jaccard(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Stop-shingle cap before the self-join — see _dedup_ngram_jaccard.
    # Round-12 note: an inverted-index rewrite (two-phase hot filter +
    # per-shingle sorted doc lists + in-row combination explode) was built,
    # oracle-verified and interleaved-benchmarked — it shuffles the shingle
    # table once instead of three times, but the nested array slicing of the
    # in-row pair generator cost ~2x the self-join's wall at bench scale
    # (median 4.9 s vs 3.9 s interleaved), so the measured shape stays.
    # r13: the capped per-doc set size rides IN the checkpointed table
    # (one window by doc_id in the build) so the pair aggregation carries
    # n_a/n_b itself — both doc_sizes joins against the pair table (the
    # query's biggest intermediate) and the separate size aggregate are
    # gone. Interleaved median 1.603 -> 1.448 s at sf0.1, identical pairs.
    sh = (
        spark.sql(
            f"SELECT doc_id, {S.portable_hash64('sh', SPARK)} AS shh "
            f"FROM ({_ngram_shingles(SPARK)}) raw"
        )
        .withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shh"))
        )
        .where(F.col("df") <= _JACCARD_DF_CAP)
        .drop("df")
        .withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
        .localCheckpoint()
    )

    a, b = sh.alias("a"), sh.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.shh") == F.col("b.shh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.max(F.col("a.n_sh")).alias("n_a"),
            F.max(F.col("b.n_sh")).alias("n_b"),
        )
    )
    jacc = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        pair_inter.where(jacc >= 0.2)
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def _dedup_cluster(d: str, pairs: str) -> str:
    # Keep-one-per-cluster: near-dup pairs (Jaccard ≥ 0.2) are edges; the
    # cluster label is the min doc_id reachable in ≤2 hops — label
    # propagation unrolled twice. Full connected components iterates this
    # same join to a fixed point (each round is one shuffle on doc_id);
    # two rounds already collapse the chains the pair generator emits and
    # keep the query a fixed-depth plan both engines can hash-compare.
    # ``pairs`` is the pair table: the Spark builder passes its checkpoint
    # of dedup_ngram_jaccard (a DataFrame-API core), the oracle the SQL
    # text. Inlined, the edges/l1/l2 fan-out re-derived the whole shingle
    # pipeline (26 fact scans planned — the round-11 registry-wide plan
    # audit).
    return f"""
    WITH pairs AS ({pairs}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    l1 AS (
        SELECT d.doc_id,
            least(d.doc_id, coalesce(min(e.dst), d.doc_id)) AS label
        FROM documents d LEFT JOIN edges e ON e.src = d.doc_id
        GROUP BY d.doc_id
    ),
    l2 AS (
        SELECT a.doc_id,
            least(a.label, coalesce(min(b.label), a.label)) AS label
        FROM l1 a
        LEFT JOIN edges e ON e.src = a.doc_id
        LEFT JOIN l1 b ON b.doc_id = e.dst
        GROUP BY a.doc_id, a.label
    )
    SELECT label AS cluster_id,
        cast(count(*) as bigint) AS n_members,
        min(doc_id) AS keep_doc_id
    FROM l2
    GROUP BY label
    HAVING count(*) > 1
    ORDER BY cluster_id
    """


@register(
    "dedup_cluster_neardup",
    oracle=_dedup_cluster(
        DUCK, _dedup_ngram_jaccard(DUCK).replace("ORDER BY doc_a, doc_b", "")
    ),
    tags=("dedup",),
    doc="Near-dup clustering: 2-hop min-label propagation over the Jaccard "
    "pair graph, emitting one keeper per multi-member cluster. Fixed-depth "
    "unrolling of the connected-components iteration (each extra hop is one "
    "more shuffle round at scale). The pair table is localCheckpointed "
    "(reusing dedup_ngram_jaccard's builder) so the shingle pipeline "
    "runs once instead of per edges/l1/l2 consumer.",
)
def dedup_cluster_neardup(spark, sf_dir):
    pairs = dedup_ngram_jaccard(spark, sf_dir).localCheckpoint()
    return spark.sql(
        _dedup_cluster(SPARK, "SELECT doc_a, doc_b, jaccard FROM {pairs}"),
        pairs=pairs,
    )


def _word_tokens(d: str) -> str:
    """CTE text: (doc_id, tok) distinct word per doc."""
    if d == SPARK:
        return f"SELECT doc_id, explode(array_distinct({S.toks(d)})) AS tok FROM documents"
    return f"SELECT doc_id, unnest(list_distinct({S.toks(d)})) AS tok FROM documents"


_N_HASHES = 16
_BAND_SIZE = 4  # 4 bands × 4 rows


# Universal-hash constants for the 16 minhash functions: h_j(x) = (a_j·m +
# b_j) mod P with m = base_hash mod P. P < 2^30 and a_j < 2^31 keep the
# product under 2^61 — no bigint overflow in either engine (Spark 4 ANSI mode
# would raise on wraparound). Constants are fixed (seeded PRNG at import) so
# both dialects and every run agree.
_MINHASH_P = 1_000_000_007


def _minhash_constants(n: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MINHASH_P), rng.randrange(0, _MINHASH_P))
        for _ in range(n)
    ]


_MINHASH_AB = _minhash_constants(_N_HASHES)


# A band bucket holding k docs contributes k^2/2 candidate pairs, so one
# giant boilerplate cluster detonates the band join exactly like a hot
# shingle detonates the Jaccard inverted index (same guard as
# _JACCARD_DF_CAP). Buckets above the cap are trivial dup clusters —
# every member matches every other — and are handled by representative
# election (dedup_cluster_neardup / dedup_cc_fixpoint), not pairwise
# verification. Measured on a clone-heavy 32k-doc stress corpus (every doc
# x64): 23.2 s -> 3.4 s with results identical at production densities.
_LSH_BUCKET_CAP = 32


def _mh_sh_hashed(d: str) -> str:
    """(doc_id, shh): each doc's distinct word-3-gram shingles as one
    60-bit portable hash — the shared core of the MinHash family."""
    # MinHash over word-3-gram shingles (unigrams are degenerate on a small
    # vocabulary: every doc contains nearly the whole vocab, so every pair
    # collides in every band and LSH degrades to a cross join).
    return (
        f"SELECT doc_id, {S.portable_hash64('sh', d)} AS shh "
        f"FROM ({_ngram_shingles(d)}) raw"
    )


def _mh_sigs(side: bool = False) -> str:
    """The per-doc 16-minhash signature (doc_id, h0..h15) over a
    ``sh_hashed(doc_id, shh)`` CTE; ``side`` carries
    dedup_minhash_incremental's corpus side.

    One pass, no row explosion: a single 60-bit base hash per shingle, 16
    universal-hash variants as arithmetic expressions, and the 16 minimums
    as conditional aggregates of ONE groupBy(doc_id). The earlier shape
    (CROSS JOIN with a 16-row index sequence) shuffled 16× the shingle
    count and computed 16 md5s per shingle — at 100 TB that explosion is
    the bottleneck; this shape's only wide op is the one hash-agg."""
    keep = "side, " if side else ""
    min_cols = ",\n            ".join(
        f"min(({a} * m + {b}) % {_MINHASH_P}) AS h{j}"
        for j, (a, b) in enumerate(_MINHASH_AB)
    )
    return f"""
        SELECT doc_id, {"max(side) AS side, " if side else ""}
            {min_cols}
        FROM (SELECT doc_id, {keep}shh % {_MINHASH_P} AS m FROM sh_hashed) t
        GROUP BY doc_id
    """


def _mh_band_ctes(d: str, side: bool = False) -> str:
    """CTE text ``bands, bands_capped`` over a ``sigs`` CTE: 4 md5 band
    keys per doc, buckets over the size cap dropped."""
    keep = "side, " if side else ""
    band_keys = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"h{_BAND_SIZE * band + r}" for r in range(_BAND_SIZE))
        + "))"
        for band in range(_N_HASHES // _BAND_SIZE)
    )
    if d == SPARK:
        bands = f"""
        SELECT doc_id, {keep}band, band_key
        FROM sigs
        LATERAL VIEW posexplode(array({band_keys})) AS band, band_key
        """
    else:
        bands = f"""
        SELECT doc_id, {keep}i AS band, [{band_keys}][i + 1] AS band_key
        FROM sigs, unnest(range(0, {_N_HASHES // _BAND_SIZE})) t(i)
        """
    return f"""
    bands AS (
        {bands}
    ),
    bands_capped AS (
        SELECT doc_id, {keep}band, band_key FROM (
            SELECT doc_id, {keep}band, band_key,
                count(*) OVER (PARTITION BY band, band_key) AS bsz
            FROM bands
        ) f WHERE bsz <= {_LSH_BUCKET_CAP}
    )"""


def _mh_bands(d: str, side: bool = False) -> str:
    """CTE text ``sigs, bands, bands_capped`` over a ``sh_hashed(doc_id,
    shh)`` CTE (``_mh_sigs``, then ``_mh_band_ctes``)."""
    return f"""
    sigs AS ({_mh_sigs(side).rstrip()}
    ),{_mh_band_ctes(d, side)}"""


def _mh_jaccard(d: str) -> tuple[str, str]:
    """(doc_sets query over the ``sh_hashed`` CTE, exact Jaccard of two of
    its rows aliased ``sa``/``sb``)."""
    if d == SPARK:
        doc_sets = (
            "SELECT doc_id, collect_set(shh) AS shs FROM sh_hashed GROUP BY doc_id"
        )
        n_inter = "size(array_intersect(sa.shs, sb.shs))"
        n_a, n_b = "size(sa.shs)", "size(sb.shs)"
    else:
        doc_sets = (
            "SELECT doc_id, list(DISTINCT shh) AS shs FROM sh_hashed GROUP BY doc_id"
        )
        n_inter = "len(list_intersect(sa.shs, sb.shs))"
        n_a, n_b = "len(sa.shs)", "len(sb.shs)"
    return doc_sets, f"cast({n_inter} as double) / ({n_a} + {n_b} - {n_inter})"


def _mh_bands_capped(d: str, sh: str) -> str:
    return f"""
    WITH sh_hashed AS ({sh}),{_mh_bands(d)}
    SELECT doc_id, band, band_key FROM bands_capped
    """


def _mh_doc_sets(d: str, sh: str) -> str:
    return f"WITH sh_hashed AS ({sh}) {_mh_jaccard(d)[0]}"


def _dedup_minhash_lsh(d: str, bc: str, ds: str) -> str:
    # The hashed shingles (read by the bands and the doc sets), the capped
    # band table (both self-join sides) and the doc sets (both probes) are
    # shared: the inlined WITH-chain planned the full explode+md5 pipeline
    # four times (Spark inlines CTEs per consumer).
    jacc = _mh_jaccard(d)[1]
    return f"""
    WITH bands_capped AS ({bc}),
    doc_sets AS ({ds}),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_capped a
        JOIN bands_capped b ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, round({jacc}, 6) AS jaccard
    FROM candidates c
    JOIN doc_sets sa ON sa.doc_id = c.doc_a
    JOIN doc_sets sb ON sb.doc_id = c.doc_b
    WHERE {jacc} >= 0.1
    ORDER BY c.doc_a, c.doc_b
    """


pair(
    "dedup_minhash_lsh",
    _dedup_minhash_lsh,
    shared={"sh": _mh_sh_hashed, "bc": _mh_bands_capped, "ds": _mh_doc_sets},
    tags=("dedup",),
    doc="MinHash (16 portable hash fns) + LSH banding (4×4): candidate pairs "
    "only inside band buckets, then exact-Jaccard verification. The band "
    "bucket is the shuffle key — no cross join at any scale. The hashed "
    "shingle table, the capped band table and the per-doc shingle sets are "
    "localCheckpointed: the inlined WITH-chain planned the full "
    "explode+md5 pipeline FOUR times (both self-join sides + both doc_sets "
    "probes — Spark inlines CTEs per consumer); now documents is scanned "
    "once (round-11 checkpoint contract, same trade as "
    "dedup_minhash_incremental).",
)


def _dedup_simhash(d: str) -> str:
    # One aggregation pass: 60 conditional vote sums per doc (no 60× row
    # explosion — a cross join with the bit range would shuffle 60× the
    # shingle count; conditional aggs combine map-side instead).
    h = S.portable_hash64("sh", d)
    votes = ",\n            ".join(
        f"sum(case when ({S.shift_right('h', str(b), d)} & 1) = 1 then 1 else -1 end) AS v{b}"
        for b in range(60)
    )
    recombine = " + ".join(
        f"(case when v{b} > 0 then cast({1 << b} as bigint) else cast(0 as bigint) end)"
        for b in range(60)
    )
    return f"""
    WITH tokens AS ({_ngram_shingles(d)}),
    tok_hashes AS (
        SELECT doc_id, {h} AS h FROM tokens
    ),
    bit_votes AS (
        SELECT doc_id,
            {votes}
        FROM tok_hashes
        GROUP BY doc_id
    )
    SELECT doc_id, cast({recombine} as bigint) AS simhash
    FROM bit_votes
    ORDER BY doc_id
    """


pair(
    "dedup_simhash_signature",
    _dedup_simhash,
    tags=("dedup",),
    doc="SimHash: 60-bit weighted-bit-vote signature over shingle hashes; "
    "one int per document regardless of size.",
)


def _dedup_simhash_pairs(d: str) -> str:
    ham = S.bitcount(S.bit_xor2("a.simhash", "b.simhash", d), d)
    return f"""
    WITH sigs AS (
        {_dedup_simhash(d).replace("ORDER BY doc_id", "")}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        cast({ham} as integer) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE {ham} <= 12
    ORDER BY doc_a, doc_b
    """


pair(
    "dedup_simhash_neardup",
    _dedup_simhash_pairs,
    tags=("dedup",),
    doc="SimHash near-dup pairs by Hamming distance ≤ 12. (Correctness form "
    "is all-pairs; the scale path blocks on 4 rotated 15-bit prefixes so "
    "each block is an equi-join key.)",
)


def _dedup_simhash_blocked(d: str) -> str:
    # Pigeonhole blocking: any two 60-bit signatures within Hamming distance
    # 3 agree EXACTLY on at least one of 4 disjoint 15-bit blocks, so the
    # (block_idx, block_value) equi-join finds every qualifying pair without
    # an all-pairs comparison. The block key is the shuffle key — this is
    # the form of dedup_simhash_neardup that survives 100 TB.
    blk = f"({S.shift_right('simhash', '15 * b', d)} & 32767)"
    ham = S.bitcount(S.bit_xor2("ca.sim_a", "ca.sim_b", d), d)
    if d == SPARK:
        blocks = f"""
        SELECT doc_id, simhash, b, {blk} AS blk
        FROM sigs LATERAL VIEW explode(sequence(0, 3)) t AS b
        """
    else:
        blocks = f"""
        SELECT doc_id, simhash, b, {blk} AS blk
        FROM sigs, unnest(range(0, 4)) t(b)
        """
    return f"""
    WITH sigs AS (
        {_dedup_simhash(d).replace("ORDER BY doc_id", "")}
    ),
    blocks AS (
        {blocks}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
            b.doc_id AS doc_b, b.simhash AS sim_b
        FROM blocks a
        JOIN blocks b ON a.b = b.b AND a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, cast({ham} as integer) AS hamming
    FROM cand ca
    WHERE {ham} <= 3
    ORDER BY doc_a, doc_b
    """


pair(
    "dedup_simhash_blocked",
    _dedup_simhash_blocked,
    tags=("dedup", "scale"),
    doc="SimHash near-dup via pigeonhole blocking (4 disjoint 15-bit blocks "
    "⇒ Hamming ≤ 3 pairs share a block): candidate generation is an "
    "equi-join on the block key, never an all-pairs scan. Exact-recall "
    "blocked variant of dedup_simhash_neardup's all-pairs baseline.",
)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def _cosine(d: str, va: str, vb: str) -> str:
    """Engine-identical cosine: left-fold dot/norms in index order, double."""
    if d == SPARK:
        dot = (
            f"aggregate(zip_with({va}, {vb}, (x, y) -> cast(x as double) * cast(y as double)), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )
        na = (
            f"aggregate({va}, cast(0.0 as double), "
            f"(acc, v) -> acc + cast(v as double) * cast(v as double))"
        )
        nb = (
            f"aggregate({vb}, cast(0.0 as double), "
            f"(acc, v) -> acc + cast(v as double) * cast(v as double))"
        )
    else:
        # DuckDB 1.0 list_reduce has no init arg; Spark's fold starts at
        # 0.0 + x1 == x1 exactly, so both engines sum x1..xn left-to-right.
        dot = (
            f"list_reduce(list_transform(list_zip({va}, {vb}), "
            f"p -> struct_extract(p, 1)::DOUBLE * struct_extract(p, 2)::DOUBLE), "
            f"(acc, v) -> acc + v)"
        )
        na = f"list_reduce(list_transform({va}, v -> v::DOUBLE * v::DOUBLE), (acc, v) -> acc + v)"
        nb = f"list_reduce(list_transform({vb}, v -> v::DOUBLE * v::DOUBLE), (acc, v) -> acc + v)"
    # nullif: a zero vector has a 0 norm — ANSI Spark THROWS on the double
    # division where DuckDB returns NULL; with the guard both engines emit
    # NULL cosine, and every consumer ranks with DESC (NULLS LAST in both).
    return f"({dot}) / nullif(sqrt({na}) * sqrt({nb}), cast(0 as double))"


def _sim_topk(d: str) -> str:
    cos = _cosine(d, "q.embedding", "c.embedding")
    return f"""
    WITH queries AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, c.vec_id, c.label,
            round({cos}, 6) AS cosine
        FROM queries q
        JOIN embeddings c ON c.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, label, cosine,
            row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, label, cosine, rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY query_id, rnk
    """


pair(
    "sim_cosine_topk_bruteforce",
    _sim_topk,
    tags=("similarity",),
    doc="Brute-force cosine top-10 for 5 query vectors: correctness baseline "
    "for ANN. Broadcast the query set; candidates stay partitioned — scales "
    "linearly in corpus size.",
)


def _dedup_embedding(d: str) -> str:
    # Threshold 0.40: the fixture embeddings are near-orthogonal random
    # vectors (max within-label cosine ≈ 0.51), so a production-style 0.9+
    # cutoff matches nothing and the oracle would pass vacuously; 0.40 keeps
    # the emitted set small but non-empty at every test scale.
    cos = _cosine(d, "a.embedding", "b.embedding")
    return f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        round({cos}, 6) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
        AND a.label = b.label
    WHERE {cos} >= 0.40
    ORDER BY vec_a, vec_b
    """


pair(
    "dedup_embedding_cosine",
    _dedup_embedding,
    tags=("dedup", "similarity"),
    doc="Embedding near-dup: cosine above threshold within a blocking key "
    "(label ≙ coarse cluster) — the blocked equi-join is the scale path; "
    "all-pairs-within-block only.",
)


def _emb_dims(d: str, where: str = "") -> str:
    """(vec_id, label, dim, v) — one row per embedding element, double.

    REPARTITION before posexplode for the same reason as the shingle
    generator: the 64× element fan-out must run partition-parallel."""
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


def _sim_ivf(d: str) -> str:
    cos = _cosine(d, "q.embedding", "c.embedding")
    return f"""
    WITH emb_dims AS ({_emb_dims(d)}),
    centroids AS (
        SELECT label, dim,
            cast(sum(cast(v as decimal(38,9))) as double) / count(*) AS c
        FROM emb_dims GROUP BY label, dim
    ),
    q_dims AS (
        SELECT vec_id AS query_id, dim, v FROM ({_emb_dims(d)}) e WHERE vec_id < 5
    ),
    dists AS (
        SELECT q.query_id, ct.label,
            cast(sum(cast((q.v - ct.c) * (q.v - ct.c) as decimal(38,12))) as double) AS d2
        FROM q_dims q JOIN centroids ct ON q.dim = ct.dim
        GROUP BY q.query_id, ct.label
    ),
    assigned AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                row_number() OVER (PARTITION BY query_id ORDER BY d2, label) AS rn
            FROM dists
        ) t WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT a.query_id, c.vec_id, c.label, round({cos}, 6) AS cosine
        FROM assigned a
        JOIN queries q ON q.query_id = a.query_id
        JOIN embeddings c ON c.label = a.label AND c.vec_id <> a.query_id
    )
    SELECT query_id, vec_id, label, cosine, rnk
    FROM (
        SELECT query_id, vec_id, label, cosine,
            row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
        FROM scored
    ) r
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """


_N_PLANES = 4


def _lsh_buckets(d: str) -> str:
    """(vec_id, bucket) — the hyperplane bucketing of sim_lsh_hyperplane_ann,
    audited by audit_ann_recall / audit_multiprobe_recall. The Spark
    builders run its one-agg DataFrame twin stats_eval._lsh_buckets_df."""
    # Deterministic pseudo-random hyperplane signs from the portable hash —
    # only n_planes × n_dims distinct values, computed once and broadcast.
    sign_h = S.portable_hash64(
        "concat('hp-', cast(j as string), ':', cast(dim as string))", d
    )
    if d == SPARK:
        jseq = f"SELECT explode(sequence(0, {_N_PLANES - 1})) AS j"
        dimseq = (
            "SELECT explode(sequence(1, "
            "(SELECT max(size(embedding)) FROM embeddings))) AS dim"
        )
    else:
        jseq = f"SELECT unnest(range(0, {_N_PLANES})) AS j"
        dimseq = (
            "SELECT unnest(range(1, "
            "(SELECT max(len(embedding)) FROM embeddings) + 1)) AS dim"
        )
    return f"""
    SELECT vec_id,
        cast(sum({S.shift_left('cast(bit as bigint)', 'j', d)}) as bigint)
            AS bucket
    FROM (
        SELECT e.vec_id, p.j,
            CASE WHEN sum(cast(e.v * p.s as decimal(38,9))) >= 0
                 THEN 1 ELSE 0 END AS bit
        FROM ({_emb_dims(d)}) e
        JOIN (
            SELECT j, dim,
                CASE WHEN {sign_h} % 2 = 1 THEN 1.0 ELSE -1.0 END AS s
            FROM ({dimseq}) dims CROSS JOIN ({jseq}) js
        ) p ON e.dim = p.dim
        GROUP BY e.vec_id, p.j
    ) bits GROUP BY vec_id
    """


def _sim_lsh_hyperplane(d: str, buckets: str) -> str:
    # ``buckets`` is the (vec_id, bucket) table: the Spark builder passes its
    # checkpoint (stats_eval._lsh_buckets_df), the oracle its SQL twin
    # _lsh_buckets. Inlined, queries and the candidate join each
    # re-ran the hyperplane-hash pipeline (6 fact scans planned — the
    # round-11 registry-wide plan audit).
    cos = _cosine(d, "q.embedding", "c.embedding")
    return f"""
    WITH buckets AS ({buckets}),
    queries AS (
        SELECT e.vec_id AS query_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
        WHERE e.vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, c.vec_id, c.label, round({cos}, 6) AS cosine
        FROM queries q
        JOIN buckets cb ON cb.bucket = q.bucket
        JOIN embeddings c ON c.vec_id = cb.vec_id AND c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, label, cosine, rnk
    FROM (
        SELECT query_id, vec_id, label, cosine,
            row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
        FROM scored
    ) r
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """


@register(
    "sim_lsh_hyperplane_ann",
    oracle=_sim_lsh_hyperplane(DUCK, _lsh_buckets(DUCK)),
    tags=("similarity",),
    doc=f"Random-hyperplane (SimHash-for-vectors) ANN: {_N_PLANES} "
    "deterministic hyperplanes → sign bits → bucket id; candidates are only "
    "same-bucket vectors, ranked by exact cosine. The bucket id is the "
    "equi-join/shuffle key — probe cost is O(bucket), not O(corpus). "
    "The bucket table is localCheckpointed (at scale: the persisted "
    "index) so the hash pipeline runs once, not per probe-side consumer.",
)
def sim_lsh_hyperplane_ann(spark, sf_dir):
    from .stats_eval import _lsh_buckets_df

    b = _lsh_buckets_df(spark, sf_dir).localCheckpoint()
    return spark.sql(
        _sim_lsh_hyperplane(SPARK, "SELECT vec_id, bucket FROM {b}"), b=b
    )


pair(
    "sim_cosine_ivf_bucketed",
    _sim_ivf,
    tags=("similarity",),
    doc="IVF-style ANN scale path: per-label centroids (decimal-exact "
    "element-wise mean), probe the nearest centroid's bucket only, rank "
    "inside the bucket. Search cost drops from O(corpus) to O(bucket); "
    "the bucket id is the shuffle/partition key at 100 TB.",
)


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk documents into fixed token windows
# ---------------------------------------------------------------------------


def _pack_sequences(d: str) -> str:
    # Concat-and-chunk packing (the standard LM pretraining layout): within
    # each source, documents are laid end-to-end in doc_id order; a document
    # starting at token offset o lands in pack floor(o / B). The window
    # cumsum is partitioned by source, so packing parallelizes across
    # sources at 100 TB — no global sort, one shuffle on source. Offsets
    # stay far below 2^53, so the floor-division is exact in both engines.
    toks = S.arr_len(S.split_ws("text", d), d)
    start = (
        "coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    pack_of = lambda off: f"cast(floor(({off}) / 2048.0) as bigint)"  # noqa: E731
    return f"""
    WITH toks AS (
        SELECT doc_id, source, {toks} AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT doc_id, source, n_tokens, {start} AS start_off
        FROM toks
    )
    SELECT source,
        {pack_of('start_off')} AS pack_id,
        count(*) AS n_docs,
        {S.isum('n_tokens', d)} AS pack_tokens,
        {S.isum(f"case when {pack_of('start_off')} <> {pack_of('start_off + n_tokens - 1')} then 1 else 0 end", d)} AS n_straddling,
        min(doc_id) AS first_doc
    FROM placed
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """


pair(
    "text_pack_sequences",
    _pack_sequences,
    tags=("text", "sampling"),
    doc="Sequence packing for LM pretraining: documents laid end-to-end per "
    "source, chunked into 2048-token packs via a partitioned window cumsum "
    "— per-pack doc counts, token totals, and boundary-straddle counts. "
    "Packing is per-source, so it parallelizes without a global sort.",
)


# ---------------------------------------------------------------------------
# Mixture sampling: per-source keep rates from a broadcast weights dim
# ---------------------------------------------------------------------------


def _mixture_sample(d: str) -> str:
    # Dataset-mixture construction: a tiny weights table (the mixture
    # config) broadcast-joined to the corpus; the keep decision is a
    # deterministic hash bucket per doc — reproducible across engines,
    # runs, and cluster sizes (same discipline as text_train_val_split).
    h = S.portable_hash64(
        "concat('mix:', cast(doc_id as string))", d
    )
    return f"""
    WITH weights AS (
        SELECT * FROM (VALUES (0, 100), (1, 60), (2, 20))
            AS w(wclass, keep_pct)
    ),
    classed AS (
        SELECT doc_id, source,
            cast(substr(source, 4) as int) % 3 AS wclass
        FROM documents
    ),
    decided AS (
        SELECT c.doc_id, c.source, c.wclass, w.keep_pct,
            CASE WHEN ({h} % 100) < w.keep_pct THEN 1 ELSE 0 END AS keep
        FROM classed c
        JOIN weights w ON w.wclass = c.wclass
    )
    SELECT source, max(keep_pct) AS keep_pct,
        count(*) AS n_total,
        {S.isum('keep', d)} AS n_kept
    FROM decided
    GROUP BY source
    ORDER BY source
    """


pair(
    "text_mixture_sample",
    _mixture_sample,
    tags=("text", "sampling"),
    doc="Mixture sampling: per-source keep rates from a broadcast weights "
    "dimension (the mixture config), applied as deterministic hash-bucket "
    "keeps — map-only over the corpus, reproducible at any scale.",
)


# ---------------------------------------------------------------------------
# BM25 keyword retrieval (Robertson/Sparck Jones, k1=1.2 b=0.75)
# ---------------------------------------------------------------------------

_BM25_TERMS = "('table', 'stream', 'fast')"
_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_TOPK = 10


def _bm25(d: str) -> str:
    toks = S.toks(d)
    if d == SPARK:
        occ = f"SELECT doc_id, explode({toks}) AS tok FROM documents"
    else:
        occ = f"SELECT doc_id, unnest({toks}) AS tok FROM documents"
    # Each per-(doc, term) score is computed by an identical, fully
    # parenthesized double expression in both dialects (exact-integer
    # inputs, IEEE-deterministic * / operations, one ln), quantized to
    # 9 dp, then decimal-summed across the <=3 matched query terms.
    term_score = (
        f"round("
        f"ln(cast(1 as double) + (cast(st.nd - df.df as double) + 0.5)"
        f" / (cast(df.df as double) + 0.5))"
        f" * (cast(tf.tf as double) * ({_BM25_K1} + 1))"
        f" / (cast(tf.tf as double) + {_BM25_K1} * (1 - {_BM25_B}"
        f" + {_BM25_B} * cast(dl.dl as double) * cast(st.nd as double)"
        f" / cast(st.ntok as double))), 9)"
    )
    return f"""
    WITH occ AS ({occ}),
    dl AS (
        SELECT doc_id, cast(count(*) as bigint) AS dl FROM occ GROUP BY doc_id
    ),
    st AS (
        SELECT cast(count(*) as bigint) AS nd,
            {S.isum('dl', d)} AS ntok
        FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, cast(count(*) as bigint) AS tf
        FROM occ WHERE tok IN {_BM25_TERMS}
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, cast(count(*) as bigint) AS df FROM tf GROUP BY tok
    ),
    scored AS (
        SELECT tf.doc_id,
            {S.dsum(term_score, d)} AS score,
            cast(count(*) as int) AS n_terms_hit
        FROM tf
        JOIN df ON df.tok = tf.tok
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN st
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS bm25_score, n_terms_hit
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """


pair(
    "text_keyword_bm25",
    _bm25,
    tags=("text", "similarity"),
    doc="BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed query term "
    "set — the lexical-retrieval baseline every RAG/search stack pairs "
    "with the embedding ANN operators: tf per (doc, term) and df per "
    "term are hash-aggs on the TERM-FILTERED posting slice (the IN "
    "predicate prunes before any shuffle), document length joins back "
    "co-partitioned on doc_id, the corpus totals are one 1-row "
    "broadcast, and the top-k is an ordered LIMIT. Each per-term score "
    "is one 9-dp-quantized deterministic double expression over exact "
    "integer stats; doc scores are exact decimal sums of those terms. "
    "The avgdl division is folded into a multiply-through by N "
    "(dl * nd / ntok) so both engines evaluate the identical tree.",
)


# ---------------------------------------------------------------------------
# Suffix/prefix chunk-boundary dedup (scrape-window stitching detector)
# ---------------------------------------------------------------------------

_EDGE_K = 8  # tokens per edge window
_EDGE_CAP = 64  # max docs sharing one edge hash (hot-boilerplate guard)


def _suffix_prefix_overlap(d: str) -> str:
    toks = S.toks(d)
    n = S.arr_len("w", d)
    pre = S.arr_join(S.arr_slice("w", "1", str(_EDGE_K), d), "' '", d)
    suf = S.arr_join(
        S.arr_slice("w", f"{n} - {_EDGE_K} + 1", str(_EDGE_K), d), "' '", d
    )
    return f"""
    WITH base AS (
        SELECT doc_id, {toks} AS w FROM documents
    ),
    edges AS (
        SELECT doc_id,
            md5({pre}) AS prefix_h,
            md5({suf}) AS suffix_h
        FROM base WHERE {n} >= {_EDGE_K}
    ),
    pre_capped AS (
        SELECT doc_id, prefix_h FROM (
            SELECT doc_id, prefix_h,
                count(*) OVER (PARTITION BY prefix_h) AS bsz
            FROM edges
        ) f WHERE bsz <= {_EDGE_CAP}
    ),
    suf_capped AS (
        SELECT doc_id, suffix_h FROM (
            SELECT doc_id, suffix_h,
                count(*) OVER (PARTITION BY suffix_h) AS bsz
            FROM edges
        ) f WHERE bsz <= {_EDGE_CAP}
    )
    SELECT s.doc_id AS doc_a, p.doc_id AS doc_b
    FROM suf_capped s
    JOIN pre_capped p
        ON p.prefix_h = s.suffix_h AND p.doc_id <> s.doc_id
    ORDER BY doc_a, doc_b
    """


pair(
    "dedup_suffix_prefix_overlap",
    _suffix_prefix_overlap,
    tags=("dedup", "text"),
    doc=f"Chunk-boundary duplicate detector: document pairs where A's last "
    f"{_EDGE_K} tokens equal B's first {_EDGE_K} — the stitching signature "
    "sliding-window scraping and naive chunk re-assembly leave behind, "
    "which whole-document hashing misses entirely. Each doc contributes "
    "one 16-byte prefix hash and one suffix hash; the detector is a "
    "single equi-join of the two hash columns, with both sides capped at "
    f"{_EDGE_CAP} docs per hash (the LSH band-cap convention) so a "
    "boilerplate edge (shared header/footer) cannot detonate the pair "
    "build. Only hashes shuffle; at any corpus size this is one "
    "hash-partitioned join.",
)
