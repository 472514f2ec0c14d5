"""Corpus-curation and vector-index operators (round-1 widening batch).

Extends the LLM-data-pipeline surface (SURVEY.md §7.1 M5, BASELINE.json
mandate) with the remaining curation primitives a 100 TB training-data
pipeline needs, plus two more classic analytics shapes (Q4/Q10-style):

- PII redaction (regex scrub + match counting) — the filter every public
  corpus pass runs before training.
- Deterministic stratified sampling — hash-bucket downsampling per language
  (rebalancing overrepresented strata without a global shuffle: the keep
  decision is a pure function of the row).
- Edit-distance near-dup with candidate blocking — Levenshtein is O(len²)
  per pair, so the scale path is never all-pairs: block on (lang,
  length-bucket) and only compare within a block (same pigeonhole idea as
  the blocked-SimHash query).
- Int8-style embedding quantization — the memory-bandwidth lever for ANN at
  scale (4× smaller vectors); exact integer math (fixed-point floor) so both
  engines agree bit-for-bit.
- IVF coarse-quantizer assignment — the "train" half of the IVF index that
  ``sim_cosine_ivf_bucketed`` queries: assign every vector to its nearest
  centroid (broadcast the centroid table; one narrow pass at scale).
- Per-group z-score outlier detection — numeric quality filtering over the
  events stream (decimal-exact moments, so the oracle hash-matches).
- Connected-components to a FIXED POINT (driver-side iteration) — the full
  version of the 2-hop label propagation in ``dedup_cluster_neardup``;
  genuinely iterative, so registered rows-only (non-SQL-expressible) and
  union-find-verified in tests.

Reference anchors (the reference has no curation ops — this is the mandated
uplift; its closest analogues are the watchlist membership filters
``SERVER/flightWithRedis.py:84-99`` and the dedup-by-SADD sets
``SERVER/combined_subscriber.py:86-98``).
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .registry import pair, register, static_table


def _str(expr: str, d: str) -> str:
    return f"cast({expr} as string)" if d == SPARK else f"cast({expr} as varchar)"


# ---------------------------------------------------------------------------
# Classic analytics shapes: priority-bucketed EXISTS; top-k revenue rollup
# ---------------------------------------------------------------------------


def _q04(d: str) -> str:
    # Q4 shape: EXISTS-correlated semi-join with an event-time lag predicate
    # ("order had at least one late-shipping line"). The epoch comparison is
    # dialect-bridged (Spark truncates, DuckDB rounds — see scalars.epoch_s).
    return f"""
    SELECT o_orderpriority, cast(count(*) as bigint) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= timestamp '1996-01-01'
      AND o.o_orderdate < timestamp '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND {S.epoch_s('l.l_shipdate', d)} > {S.epoch_s('o.o_orderdate', d)} + 90 * 86400
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


pair(
    "q04_order_priority",
    _q04,
    tags=("relational",),
    doc="TPC-H Q4 shape: EXISTS semi-join (late-shipping lines) bucketed by "
    "order priority. Catalyst rewrites EXISTS to a left-semi hash join; at "
    "scale the lineitem side carries the shuffle and the date filter prunes "
    "the orders scan.",
)


def _q10(d: str) -> str:
    return f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
        round({S.dsum('l.l_extendedprice * (1 - l.l_discount)', d)}, 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= timestamp '1997-01-01'
      AND o.o_orderdate < timestamp '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """


pair(
    "q10_returned_items",
    _q10,
    tags=("relational",),
    doc="TPC-H Q10 shape: returned-item revenue per customer, top 20. "
    "Star join (nation broadcasts), decimal-exact revenue sum so the "
    "DESC sort is deterministic; tie-break on c_custkey.",
)


# ---------------------------------------------------------------------------
# Curation: PII redaction, stratified sampling, z-score outliers
# ---------------------------------------------------------------------------

# Patterns deliberately avoid backslash classes so the identical literal is
# valid in both dialects (Spark string literals consume backslashes).
_EMAIL_PAT = "[a-z0-9.]+@[a-z0-9.]+"
_LONGNUM_PAT = "[0-9][0-9][0-9][0-9]+"


def _pii_redact(d: str) -> str:
    # The fixture text carries no PII, so synthesize a deterministic
    # per-document contact line first (concat coerces ints in both engines);
    # the operator under test is the scrub itself.
    t = (
        "concat(text, ' contact: user', doc_id, '@example.com id ', "
        "doc_id * 7919)"
    )
    redacted = S.re_replace(
        S.re_replace("t", _EMAIL_PAT, "'<EMAIL>'", d), _LONGNUM_PAT, "'<NUM>'", d
    )
    # Spark needs the explicit group index 0 for group-free patterns
    # (its default idx=1 requires a capture group); DuckDB defaults to 0.
    g = ", 0" if d == SPARK else ""
    return f"""
    WITH docs AS (SELECT doc_id, {t} AS t FROM documents)
    SELECT doc_id,
        {S.arr_len(f"regexp_extract_all(t, '{_EMAIL_PAT}'{g})", d)} AS n_emails,
        {S.arr_len(f"regexp_extract_all(t, '{_LONGNUM_PAT}'{g})", d)} AS n_long_numbers,
        length({redacted}) AS redacted_len,
        substring({redacted}, length({redacted}) - 29, 30) AS redacted_tail
    FROM docs
    ORDER BY doc_id
    """


pair(
    "text_pii_redact",
    _pii_redact,
    tags=("text",),
    doc="PII scrub: regex-redact emails and long digit runs, count matches. "
    "Pure JVM-side regexp_replace/extract_all — embarrassingly parallel, "
    "no shuffle at any scale.",
)


def _stratified_sample(d: str) -> str:
    # Rebalance the corpus: keep 25% of the dominant language, 75% of the
    # rest. The keep decision hashes only the row key — no global state, no
    # shuffle, reproducible across engines and runs (same discipline as
    # text_train_val_split).
    bucket = f"({S.portable_hash64(_str('doc_id', d), d, seed=chr(39) + 'strat' + chr(39))} % 100)"
    return f"""
    SELECT doc_id, lang, source, {bucket} AS bucket
    FROM documents
    WHERE {bucket} < (CASE WHEN lang = 'en' THEN 25 ELSE 75 END)
    ORDER BY doc_id
    """


pair(
    "text_stratified_sample",
    _stratified_sample,
    tags=("text",),
    doc="Deterministic stratified sampling: hash-bucket keep decision with "
    "per-language rates (downsample the overrepresented stratum). Map-only "
    "at any scale.",
)


def _zscore_outliers(d: str) -> str:
    # Two-pass: decimal-exact per-type moments, then a broadcast join back.
    # Both moments come from order-independent decimal sums, so mu/sigma are
    # bit-identical across engines and the strict > cut cannot flip.
    mu = "cast(sum(cast((value) as decimal(38,6))) as double) / cast(count(*) as double)"
    ex2 = "cast(sum(cast((value * value) as decimal(38,6))) as double) / cast(count(*) as double)"
    return f"""
    WITH stats AS (
        SELECT event_type, {mu} AS mu, {ex2} AS ex2
        FROM events GROUP BY event_type
    ),
    sig AS (
        -- greatest(.., 0): the quantized moments can put the variance an
        -- epsilon below zero on a constant-value type, where DuckDB's
        -- sqrt THROWS (Spark yields NaN); the sd > 0 filter then keeps the
        -- zscore division away from ANSI DIVIDE_BY_ZERO on either engine.
        SELECT event_type, mu,
            sqrt(greatest(ex2 - mu * mu, cast(0 as double))) AS sd
        FROM stats
    )
    SELECT e.event_id, e.event_type,
        round(e.value, 6) AS value,
        round((e.value - s.mu) / s.sd, 4) AS zscore
    FROM events e JOIN sig s ON e.event_type = s.event_type
    WHERE s.sd > cast(0 as double) AND abs(e.value - s.mu) > 2.5 * s.sd
    ORDER BY e.event_id
    """


pair(
    "agg_zscore_outliers",
    _zscore_outliers,
    tags=("agg",),
    doc="Per-group z-score outlier detection (numeric quality filter). "
    "One partial-agg pass for moments, broadcast join back — two narrow "
    "shuffles total regardless of scale.",
)


# ---------------------------------------------------------------------------
# Dedup: blocked edit-distance
# ---------------------------------------------------------------------------


def _lev_shingles(d: str) -> str:
    """(doc_id, sh) word-3-gram shingles — same shape as llm_ops'
    inverted-index base, rebuilt here so the query text stays
    self-contained for both dialects."""
    if d == SPARK:
        return f"""
        SELECT doc_id, explode(array_distinct(transform(
            sequence(1, size(toks) - 2),
            -- element access, no per-i slice alloc (r13)
            i -> {S.gram_concat('toks', 'i', 3)}
        ))) AS sh
        FROM (SELECT doc_id, {S.split_ws('text', d)} AS toks FROM documents) t
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
    FROM (SELECT doc_id, {S.split_ws('text', d)} AS toks FROM documents) t
    WHERE len(toks) >= 3
    """


def _lev_blocked_core(d: str) -> str:
    """The (doc, lang, length-bucket, 3 band keys) block table — the ONE
    shingle pass; text is deliberately NOT carried (the verify step
    re-joins documents for it)."""
    lb = S.idiv("length(text)", "64", d)
    h = lambda seed: S.portable_hash64("sh", d, seed=f"'{seed}'")  # noqa: E731
    return f"""
    WITH shingles AS ({_lev_shingles(d)}),
    mh AS (
        SELECT doc_id,
            min({h('a')}) AS h1, min({h('b')}) AS h2, min({h('c')}) AS h3
        FROM shingles GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang, {lb} AS lb, m.h1, m.h2, m.h3
    FROM documents d JOIN mh m ON m.doc_id = d.doc_id
    """


def _dedup_levenshtein(d: str, blocked: str) -> str:
    # A naive (lang, length-bucket) block goes quadratic as the corpus
    # grows (394k candidate pairs at sf0.1 for 5k docs). The scale shape is
    # LSH-candidates → edit-distance VERIFY: three seeded min-shingle-hash
    # band keys, a union of three equi-joins (never an OR-join — Spark
    # would plan a nested loop), then the O(len²) kernel runs only on the
    # ~0.1% of pairs that share a band (437–1169 candidates at sf0.1).
    # The block table is a shared core: inlined, the six band-join sides
    # each re-ran the shingle pipeline (14 fact scans planned — the
    # round-11 registry-wide plan audit).
    band = (
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM blocked a JOIN blocked b "
        "ON a.lang = b.lang AND a.lb = b.lb AND a.{k} = b.{k} "
        "AND a.doc_id < b.doc_id"
    )
    bands = "\n        UNION\n        ".join(band.format(k=k) for k in ("h1", "h2", "h3"))
    return f"""
    WITH blocked AS ({blocked}),
    cand AS (
        {bands}
    )
    SELECT c.doc_a, c.doc_b,
        cast(levenshtein(da.text, db.text) as bigint) AS edit_dist
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE levenshtein(da.text, db.text) <= 60
    ORDER BY doc_a, doc_b
    """


pair(
    "dedup_levenshtein_blocked",
    _dedup_levenshtein,
    shared={"blocked": _lev_blocked_core},
    tags=("dedup",),
    doc="Edit-distance near-dup, LSH-blocked: candidates come from three "
    "min-shingle-hash band keys scoped by (lang, length-bucket) — a union "
    "of equi-joins whose band key is the shuffle key — and Levenshtein "
    "verifies only those. The expensive O(len²) kernel never sees an "
    "unblocked pair, so cost scales with near-dup density, not corpus². "
    "The block table is localCheckpointed (text dropped — the verify "
    "step re-joins documents for it) so the shingle pipeline runs once.",
)


# ---------------------------------------------------------------------------
# Vector index: int8-style quantization + IVF coarse assignment
# ---------------------------------------------------------------------------


def _embedding_quantize(d: str) -> str:
    # min/max are HOISTED into their own projection: referencing
    # array_min(v)/list_min(v) inside the transform lambda re-evaluates the
    # O(n) reduction PER ELEMENT — O(n^2) per vector, invisible at 32 dims
    # and hours at the giant-payload surface's 10,048 dims (caught by the
    # r9 --giant-payloads sweep, on BOTH engines).
    iv = S.int_vec("embedding", d)
    if d == SPARK:
        codes = "transform(v, x -> ((x - mn) * 254) div rng)"
        code_sum = f"aggregate({codes}, cast(0 as bigint), (acc, x) -> acc + x)"
        code_0 = f"element_at({codes}, 1)"
        rng = "greatest(array_max(v) - array_min(v), cast(1 as bigint))"
        mnmx = "array_min(v) AS mn, array_max(v) AS mx"
    else:
        codes = "list_transform(v, x -> ((x - mn) * 254) // rng)"
        code_sum = f"cast(list_sum({codes}) as bigint)"
        code_0 = f"cast({codes}[1] as bigint)"
        rng = "greatest(list_max(v) - list_min(v), 1)"
        mnmx = "list_min(v) AS mn, list_max(v) AS mx"
    return f"""
    WITH iv AS (SELECT vec_id, {iv} AS v FROM embeddings),
    stats AS (SELECT vec_id, v, {mnmx}, {rng} AS rng FROM iv)
    SELECT vec_id,
        mn AS min_q, mx AS max_q,
        {code_sum} AS code_sum,
        {code_0} AS code_0
    FROM stats
    ORDER BY vec_id
    """


pair(
    "sim_embedding_quantize",
    _embedding_quantize,
    tags=("similarity",),
    doc="Int8-style scalar quantization of embeddings: per-vector min/max "
    "range, 0..254 codes via exact fixed-point integer math (floor at 1e-6 "
    "then pure bigint ops — bit-identical across engines). At scale this is "
    "the 4x memory-bandwidth lever for the ANN index; map-only, no shuffle.",
)


_N_CENTROIDS = 8


def _centroid_assign(d: str) -> str:
    iv = S.int_vec("embedding", d)
    if d == SPARK:
        l2 = (
            "aggregate(zip_with(p.v, c.cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, e) -> acc + e)"
        )
    else:
        l2 = (
            "cast(list_sum(list_transform(list_zip(p.v, c.cv), "
            "s -> (s[1] - s[2]) * (s[1] - s[2]))) as bigint)"
        )
    return f"""
    WITH iv AS (SELECT vec_id, {iv} AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM iv WHERE vec_id < {_N_CENTROIDS}),
    dists AS (
        SELECT p.vec_id, c.cid, {l2} AS d2
        FROM iv p CROSS JOIN cents c
    ),
    ranked AS (
        SELECT vec_id, cid, d2,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM dists
    )
    SELECT vec_id, cid AS centroid_id, d2 AS dist2_q
    FROM ranked WHERE rn = 1
    ORDER BY vec_id
    """


pair(
    "sim_centroid_assign",
    _centroid_assign,
    tags=("similarity",),
    doc="IVF coarse-quantizer assignment: nearest of 8 fixed centroids per "
    "vector, exact integer L2 (fixed-point), deterministic tie-break on "
    "centroid id. The centroid table broadcasts at any scale; the scan is "
    "one narrow pass. Feeds the bucketed ANN path (sim_cosine_ivf_bucketed).",
)


# ---------------------------------------------------------------------------
# Connected components to a fixed point (iterative; rows-only)
# ---------------------------------------------------------------------------


def _cc_oracle() -> str:
    """Connected components as a recursive-CTE transitive closure: the
    fixpoint the Spark builder iterates to is exactly 'min label reachable
    via any path', which the closure computes declaratively. Component
    sizes in the near-dup graph are small, so the closure's
    (node x reachable-label) working set stays bounded."""
    from .llm_ops import _jaccard_pairs, _sh_capped_sized

    pairs = _jaccard_pairs(DUCK, _sh_capped_sized(DUCK))
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
        SELECT src AS node, src AS label FROM edges
        UNION
        SELECT e.dst AS node, r.label
        FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node, min(label) AS label FROM reach GROUP BY node
    )
    SELECT label AS cluster_id,
        cast(count(*) as bigint) AS n_members,
        min(node) AS keep_doc_id
    FROM comp
    GROUP BY label
    HAVING count(*) > 1
    ORDER BY cluster_id
    """


@register(
    "dedup_cc_fixpoint",
    oracle=_cc_oracle(),
    tags=("dedup", "stateful"),
    doc="Connected components over the near-dup pair graph, iterated to a "
    "FIXED POINT (min-label propagation; one shuffle round per hop, "
    "localCheckpoint per round to truncate lineage). The full version of "
    "the fixed-depth dedup_cluster_neardup. Oracle = recursive-CTE "
    "transitive closure (min reachable label per node) — the same fixpoint "
    "computed declaratively; additionally union-find-verified in "
    "tests/test_curation.py.",
)
def dedup_cc_fixpoint(spark, sf_dir):
    from pyspark.sql import functions as F

    from .registry import get

    pairs = (
        get("dedup_ngram_jaccard")
        .builder(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    docs = static_table(spark, sf_dir, "documents").select("doc_id")
    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    # Min-label propagation: each round pulls the smallest label reachable in
    # one hop. The pair generator's chains are short, but the loop runs until
    # a genuine fixed point, not a guessed depth.
    for _ in range(20):
        neigh = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_members") > 1)
        .select(F.col("label").alias("cluster_id"), "n_members", "keep_doc_id")
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE-style single-scan column statistics)
# ---------------------------------------------------------------------------

# (name, kind) — kind drives which min/max channel the column reports in:
# numeric/timestamp stats go to min_num/max_num (doubles; epoch seconds for
# ts), string stats to min_str/max_str. Typed channels avoid cross-engine
# float→string formatting drift entirely.
_PROFILE_COLS = [
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_suppkey", "num"),
    ("l_linenumber", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_tax", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def _profile_stats(d: str) -> str:
    # ONE scan computes every aggregate (count/distinct/min/max per column);
    # the long-format fan-out is a projection of that single 1-row result —
    # stack() in Spark, a UNION ALL over the materialized CTE in DuckDB.
    # At 100 TB this is the profile you can actually afford: no per-column
    # rescans.
    null_str = "cast(NULL as string)" if d == SPARK else "cast(NULL as varchar)"
    aggs, rows = [], []
    for i, (c, kind) in enumerate(_PROFILE_COLS):
        aggs.append(f"count({c}) AS c{i}")
        aggs.append(f"cast(count(DISTINCT {c}) as bigint) AS d{i}")
        if kind == "num":
            aggs.append(f"cast(min({c}) as double) AS mn{i}")
            aggs.append(f"cast(max({c}) as double) AS mx{i}")
            mn_num, mx_num = f"mn{i}", f"mx{i}"
            mn_str = mx_str = null_str
        elif kind == "ts":
            aggs.append(f"cast({S.epoch_s(f'min({c})', d)} as double) AS mn{i}")
            aggs.append(f"cast({S.epoch_s(f'max({c})', d)} as double) AS mx{i}")
            mn_num, mx_num = f"mn{i}", f"mx{i}"
            mn_str = mx_str = null_str
        else:
            aggs.append(f"min({c}) AS mn{i}")
            aggs.append(f"max({c}) AS mx{i}")
            mn_num = mx_num = "cast(NULL as double)"
            mn_str, mx_str = f"mn{i}", f"mx{i}"
        rows.append(
            (
                f"'{c}'",
                f"cast(n_rows - c{i} as bigint)",
                f"d{i}",
                mn_num,
                mx_num,
                mn_str,
                mx_str,
            )
        )
    agg_sql = ",\n        ".join(["cast(count(*) as bigint) AS n_rows"] + aggs)
    out_names = ("col", "n_nulls", "n_distinct", "min_num", "max_num", "min_str", "max_str")
    if d == SPARK:
        stack_args = ",\n        ".join(", ".join(r) for r in rows)
        body = f"""
        SELECT stack({len(rows)},
        {stack_args}
        ) AS ({', '.join(out_names)})
        FROM s
        """
    else:
        body = "\n        UNION ALL ".join(
            "SELECT "
            + ", ".join(f"{expr} AS {name}" for expr, name in zip(r, out_names))
            + " FROM s"
            for r in rows
        )
    return f"""
    WITH s AS (
        SELECT {agg_sql}
        FROM lineitem
    )
    SELECT col, n_nulls, n_distinct, min_num, max_num, min_str, max_str
    FROM ({body}) p
    ORDER BY col
    """


pair(
    "profile_table_stats",
    _profile_stats,
    tags=("agg", "quality"),
    doc="ANALYZE-style table profile: per-column null/distinct/min/max in "
    "ONE scan (conditional aggregates fanned out to long format by a "
    "projection, not by per-column rescans). The first query run against "
    "any new 100 TB table.",
)


def _q13(d: str) -> str:
    # Distribution-of-counts shape: two chained aggregations (per-customer
    # order count, then histogram of counts). The left join keeps
    # zero-order customers in the c_count=0 bucket.
    return """
    WITH per_cust AS (
        SELECT c.c_custkey, cast(count(o.o_orderkey) as bigint) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    )
    SELECT c_count, cast(count(*) as bigint) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """


pair(
    "q13_order_count_dist",
    _q13,
    tags=("relational",),
    doc="TPC-H Q13 shape: customer order-count distribution — left join "
    "preserving empty groups, then an aggregation OF an aggregation. Both "
    "group-bys shuffle on their own key; the second input is one row per "
    "customer, tiny at any scale.",
)


def _q15(d: str) -> str:
    # Top-supplier-by-revenue with a scalar-subquery max: the classic
    # "view + max over view" shape. Revenue sums are decimal-exact, so the
    # max comparison cannot diverge between engines.
    rev = S.dsum("l_extendedprice * (1 - l_discount)", d)
    return f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {rev} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= timestamp '1997-01-01'
          AND l_shipdate < timestamp '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 2) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """


pair(
    "q15_top_supplier",
    _q15,
    tags=("relational", "subquery"),
    doc="TPC-H Q15 shape: top supplier by quarterly revenue via a scalar "
    "MAX subquery over a derived revenue relation (planned as a one-row "
    "broadcast); decimal-exact sums make the argmax deterministic.",
)
