"""Round-5 evaluation & statistics operators: ranking metrics, drift
tests, interpretable model baselines, independence tests, link prediction,
corpus law fitting, and a power-iteration PCA.

These close the eval/statistics tier of a training-data pipeline: after
curation (``llm_ops``/``corpus_ops``) and preparation (``mlprep_ops``/
``traindata_ops``), a daily refresh still needs to SCORE what it built —
does the quality signal actually rank positives above negatives (AUC),
did the distribution move (KS, the nonparametric complement of
``profile_drift_psi``), are two categorical factors independent (chi²),
and does the corpus obey the token-frequency law a healthy natural-language
mix should (Zipf). Reference anchor: the pipeline's rugpull score ranking
and hot-set membership (``RECEIVER/stage2_processing.cpp:149-434``,
``SERVER/flightWithRedisLatest.py:54-137``) are threshold classifiers over
streamed values; the stump/AUC/calibration shapes here are the evaluation
layer such thresholds need. The rest is capability uplift mandated by
BASELINE.json ("dedup, similarity search, text analysis").

Cross-engine determinism strategy (the repo's standing fp discipline):
every statistic stays in EXACT INTEGER arithmetic as long as possible —
AUC via the doubled Mann-Whitney rank sum, KS via the cross-multiplied
cumulative counts, the stump via misclassification COUNTS — with exactly
one integer→double division at the end. Where a transcendental is
unavoidable (ln in chi²/NB/Zipf/Adamic-Adar), each per-row term is
quantized (``dsum``'s decimal(38,6) cast, or an explicit 9-dp round) so
the aggregate is an exact decimal sum, order- and engine-independent.

Scale notes (each op, at 1000 executors / 100 TB):
- AUC / KS / stump: one hash-agg to the DISTINCT-VALUE grid (bounded by
  the value quantization — cents here — not by row count), then windows
  over that small grid. The windows are single-partition but O(grid), the
  same bounded-domain convention as ``events_survival_km``'s minute axis.
- chi²: one hash-agg to the (lang × source) contingency grid; everything
  after is algebra on a few hundred cells.
- Adamic-Adar: distinct (user, type) first, degree-capped (2..32, the
  LSH-band-cap convention) BEFORE the per-user pair build, so a hot
  entity cannot detonate the quadratic step; the pair join is a
  self-equi-join on user_id.
- Naive Bayes: token counts are one hash-agg; scoring fans each test
  token occurrence out only by the number of classes (a tiny broadcast),
  then one (doc × class) hash-agg. No per-row Python anywhere.
- Zipf: vocabulary agg + one ordered top-100 (TakeOrderedAndProject) +
  a 100-row regression.
- PCA: the kmeans/pagerank/logreg broadcast-iteration contract — each
  power-iteration round is one co-partitioned join against a 64-row
  broadcast vector plus two hash-aggs; only 64 floats reach the driver
  per round.
"""

from __future__ import annotations

from ..functions import scalars as S
from ..functions.scalars import DUCK, SPARK
from .llm_ops import _lsh_buckets
from .registry import pair


def _word_tokens(table_sql: str, d: str) -> str:
    """(doc_id, lang, tok) — one row per token occurrence."""
    if d == SPARK:
        return f"SELECT doc_id, lang, explode({S.toks(d)}) AS tok FROM ({table_sql})"
    return f"SELECT doc_id, lang, unnest({S.toks(d)}) AS tok FROM ({table_sql})"


# Cents quantization via floor: round() half-way rules differ between the
# engines on doubles; floor(x*100) is exact-identical IEEE.
_CENTS = "cast(floor(value * cast(100 as double)) as bigint)"


# ---------------------------------------------------------------------------
# ROC AUC via the Mann-Whitney rank statistic (tie-corrected, all-integer)
# ---------------------------------------------------------------------------


def _auc(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT {_CENTS} AS s,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT s, count(*) AS c, {S.isum('y', d)} AS pos
        FROM sl GROUP BY s
    ),
    w AS (
        SELECT s, c, pos,
            coalesce(cast(sum(c) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) as bigint),
                0) AS lt
        FROM g
    ),
    tot AS (
        SELECT {S.isum('pos', d)} AS np, {S.isum('c - pos', d)} AS nn FROM g
    ),
    rs AS (
        -- doubled rank sum of positives: ties get the average rank
        -- (lt + (c+1)/2), kept integer by carrying the factor 2.
        SELECT {S.isum('pos * (2 * lt + c + 1)', d)} AS r2 FROM w
    )
    SELECT tot.np AS n_pos, tot.nn AS n_neg,
        -- nullif: a single-class slice (np or nn = 0) leaves AUC
        -- undefined — NULL on both engines, not an ANSI divide error
        round(cast(rs.r2 - tot.np * (tot.np + 1) as double)
            / cast(nullif(2 * tot.np * tot.nn, 0) as double), 6) AS auc
    FROM rs, tot
    """


pair(
    "eval_auc_roc",
    _auc,
    tags=("eval", "mlprep"),
    doc="ROC AUC of 'event value predicts purchase' via the tie-corrected "
    "Mann-Whitney rank statistic: group to the distinct cents grid, one "
    "cumulative window over that grid for the below-count, then "
    "auc = (2*ranksum - np(np+1)) / (2*np*nn) — ENTIRELY integer "
    "arithmetic until the single final division, so the engines cannot "
    "disagree. The metric every quality-classifier gate (FineWeb-style) "
    "is judged by before its threshold is chosen. Grid-bounded: the "
    "window is over distinct cent values, not rows.",
)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift (even- vs odd-day halves, per type)
# ---------------------------------------------------------------------------


def _ks_drift(d: str) -> str:
    day = "cast(floor(" + S.epoch_s("ts", d) + " / 86400) as bigint)"
    return f"""
    WITH base AS (
        SELECT event_type,
            CASE WHEN {day} % 2 = 0 THEN 1 ELSE 0 END AS is_a,
            {_CENTS} AS v
        FROM events WHERE value IS NOT NULL
    ),
    c AS (
        SELECT event_type, v,
            {S.isum('is_a', d)} AS ca, {S.isum('1 - is_a', d)} AS cb
        FROM base GROUP BY event_type, v
    ),
    cum AS (
        SELECT event_type, v,
            cast(sum(ca) OVER (PARTITION BY event_type ORDER BY v)
                as bigint) AS fa,
            cast(sum(cb) OVER (PARTITION BY event_type ORDER BY v)
                as bigint) AS fb
        FROM c
    ),
    tot AS (
        SELECT event_type, {S.isum('ca', d)} AS na, {S.isum('cb', d)} AS nb
        FROM c GROUP BY event_type
    )
    SELECT cum.event_type, max(tot.na) AS n_even_days,
        max(tot.nb) AS n_odd_days,
        -- nullif: a type seen only on even (or only odd) days has one
        -- empty sample — KS undefined, NULL on both engines
        round(cast(max(abs(cum.fa * tot.nb - cum.fb * tot.na)) as double)
            / cast(nullif(max(tot.na) * max(tot.nb), 0) as double), 6)
            AS ks_stat
    FROM cum JOIN tot ON cum.event_type = tot.event_type
    GROUP BY cum.event_type
    ORDER BY cum.event_type
    """


pair(
    "profile_drift_ks",
    _ks_drift,
    tags=("profiling", "mlprep"),
    doc="Two-sample Kolmogorov-Smirnov statistic between even- and odd-day "
    "value distributions per event_type — the binning-free nonparametric "
    "complement of profile_drift_psi (PSI needs bins and a smoothing "
    "prior; KS is max |F_A - F_B| over the pooled support). The max runs "
    "over CROSS-MULTIPLIED integer cumulative counts |fa*nb - fb*na|, so "
    "ordering is exact; one final division. Per-type windows over the "
    "distinct cents grid — bounded by the value domain, not row count.",
)


# ---------------------------------------------------------------------------
# Decision stump by exact misclassification count
# ---------------------------------------------------------------------------


def _stump(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT {_CENTS} AS v,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT v, count(*) AS c, {S.isum('y', d)} AS pos
        FROM sl GROUP BY v
    ),
    cum AS (
        SELECT v,
            cast(sum(c) OVER (ORDER BY v) as bigint) AS cnt_le,
            cast(sum(pos) OVER (ORDER BY v) as bigint) AS pos_le
        FROM g
    ),
    tot AS (
        SELECT {S.isum('pos', d)} AS np, {S.isum('c - pos', d)} AS nn FROM g
    ),
    scored AS (
        -- split: value <= v goes left. Predict the majority side labels;
        -- errors = min(posL, negL) + min(posR, negR), an exact integer.
        SELECT cum.v AS threshold_cents,
            least(cum.pos_le, cum.cnt_le - cum.pos_le)
                + least(tot.np - cum.pos_le,
                        tot.nn - (cum.cnt_le - cum.pos_le)) AS misclassified,
            cum.cnt_le AS n_left, tot.np + tot.nn AS n
        FROM cum, tot
    )
    SELECT threshold_cents, n_left, misclassified,
        round(cast(n - misclassified as double) / cast(n as double), 6)
            AS accuracy
    FROM scored
    ORDER BY misclassified, threshold_cents
    LIMIT 1
    """


pair(
    "mlprep_decision_stump",
    _stump,
    tags=("mlprep", "eval"),
    doc="Best single-threshold classifier (decision stump) for "
    "value→purchase by EXACT misclassification count: cumulative "
    "label counts over the distinct cents grid give every candidate "
    "split's error as pure integer arithmetic; argmin with a "
    "deterministic tie-break on the threshold. The 1-rule baseline every "
    "learned gate must beat, and the thresholded-score shape of the "
    "reference's rugpull alert (stage2_processing.cpp price-change "
    "trigger). Ordered LIMIT 1 plans as TakeOrderedAndProject.",
)


# ---------------------------------------------------------------------------
# Chi-square independence test (lang × source contingency)
# ---------------------------------------------------------------------------


def _lang_source_cell_core(d: str) -> str:
    """The lang x source contingency grid — the ONE pass over documents
    (shared by agg_chi2_independence and agg_mutual_info)."""
    return """
        SELECT lang, source, count(*) AS c
        FROM documents GROUP BY lang, source
    """


def _chi2(d: str, cell: str) -> str:
    # The contingency grid is a shared core: inlined, rt/ct/tt/grid
    # each re-ran the fact hash-agg (4 fact scans planned; mutual_info
    # 8 — the round-11 registry-wide plan audit).
    e = "(cast(rl as double) * cast(cs as double) / cast(n as double))"
    return f"""
    WITH cell AS ({cell}),
    rt AS (SELECT lang, {S.isum('c', d)} AS rl FROM cell GROUP BY lang),
    ct AS (SELECT source, {S.isum('c', d)} AS cs FROM cell GROUP BY source),
    tt AS (SELECT {S.isum('c', d)} AS n FROM cell),
    grid AS (
        SELECT rt.lang, ct.source, rt.rl, ct.cs, tt.n,
            coalesce(max(cell.c), 0) AS o
        FROM rt CROSS JOIN ct CROSS JOIN tt
        LEFT JOIN cell ON cell.lang = rt.lang AND cell.source = ct.source
        GROUP BY rt.lang, ct.source, rt.rl, ct.cs, tt.n
    )
    SELECT
        round({S.dsum(f'(cast(o as double) - {e}) * (cast(o as double) - {e}) / {e}', d)},
            6) AS chi2,
        cast((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
            as bigint) AS dof,
        max(n) AS n_docs
    FROM grid
    """


pair(
    "agg_chi2_independence",
    _chi2,
    shared={"cell": _lang_source_cell_core},
    tags=("profiling", "eval"),
    doc="Pearson chi-square test of lang × source independence over the "
    "documents corpus — the are-my-sources-language-balanced screen a "
    "mixture designer runs before trusting per-source quotas. One "
    "hash-agg to the contingency grid (including structural zeros via "
    "the dimension cross join), expected counts as double algebra on "
    "integer marginals, per-cell terms decimal-quantized so the sum is "
    "order-free. Everything after the first agg is a few hundred cells. "
    "The contingency grid is localCheckpointed so its consumers share "
    "ONE fact scan.",
)


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the user-event_type bipartite graph
# ---------------------------------------------------------------------------

_AA_DEG_CAP = 32  # entities above this degree are skipped (hot-key guard)


def _aa_edges(d: str) -> str:
    return "SELECT DISTINCT user_id, event_type FROM events"


def _adamic_adar(d: str, ut: str) -> str:
    # The distinct edge table is a shared core: inlined, deg and both
    # sides of the adm self-join re-ran the fact distinct (4 fact scans
    # planned — the round-11 registry-wide plan audit).
    return f"""
    WITH ut AS ({ut}),
    deg AS (
        SELECT user_id, count(*) AS dg FROM ut GROUP BY user_id
    ),
    adm AS (
        -- only entities connecting >= 2 types contribute; the {_AA_DEG_CAP}
        -- cap keeps a hot entity from detonating the quadratic pair build
        -- (mirrored here and in the Spark plan — the LSH band-cap rule).
        SELECT ut.user_id, ut.event_type, deg.dg
        FROM ut JOIN deg ON ut.user_id = deg.user_id
        WHERE deg.dg BETWEEN 2 AND {_AA_DEG_CAP}
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, a.dg
        FROM adm a JOIN adm b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
    )
    SELECT type_a, type_b, count(*) AS common_users,
        round({S.dsum('cast(1 as double) / ln(cast(dg as double))', d)}, 6)
            AS adamic_adar
    FROM pairs
    GROUP BY type_a, type_b
    ORDER BY type_a, type_b
    """


pair(
    "graph_adamic_adar",
    _adamic_adar,
    shared={"ut": _aa_edges},
    tags=("graph",),
    doc="Adamic-Adar link prediction between event types through shared "
    "users: score(a,b) = sum over common neighbors u of 1/ln(deg(u)), "
    "down-weighting promiscuous entities — on production rugpull data the "
    "nodes are wallets and tokens and the score ranks which token pairs "
    "share an unusually specific holder base. Distinct-edge agg, degree "
    "join, degree-capped (2..32) self-equi-join on the shared entity, "
    "then one pair-keyed agg of decimal-quantized 1/ln terms. The cap "
    "bounds the per-entity fan-out exactly like the LSH band cap. The "
    "distinct edge table is localCheckpointed so its consumers share "
    "ONE fact scan.",
)


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (train even docs, test odd)
# ---------------------------------------------------------------------------


def _nb_train_tokens(d: str) -> str:
    train_docs = "SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0"
    return _word_tokens(train_docs, d)


def _naive_bayes(d: str, tr: str) -> str:
    """The train-token table ``tr`` is a shared core, so the explode runs
    ONCE on Spark; DuckDB materializes CTEs referenced repeatedly."""
    test_docs = "SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1"
    ll = (
        "round(ln((cast(coalesce(tc.c, 0) as double) + cast(1 as double))"
        " / (cast(cl.tot as double) + cast(v.v as double))), 9)"
    )
    prior = (
        "round(ln(cast(cl.nd as double) / cast(nt.n as double)), 9)"
    )
    return f"""
    WITH tr AS ({tr}),
    te AS ({_word_tokens(test_docs, d)}),
    tc AS (SELECT lang, tok, count(*) AS c FROM tr GROUP BY lang, tok),
    cl AS (
        SELECT tr.lang, count(*) AS tot, count(DISTINCT tr.doc_id) AS nd
        FROM tr GROUP BY tr.lang
    ),
    v AS (SELECT count(DISTINCT tok) AS v FROM tr),
    nt AS (SELECT count(DISTINCT doc_id) AS n FROM tr),
    scored AS (
        -- every test token occurrence fans out only by #classes (tiny
        -- broadcast); Laplace-smoothed log-likelihood terms quantized to
        -- 9 dp, then decimal-summed per (doc, class) — order-free.
        SELECT te.doc_id, min(te.lang) AS actual_lang, cl.lang AS cand_lang,
            {S.dsum(ll, d)} + min({prior}) AS score
        FROM te
        CROSS JOIN nt CROSS JOIN v CROSS JOIN cl
        LEFT JOIN tc ON tc.lang = cl.lang AND tc.tok = te.tok
        GROUP BY te.doc_id, cl.lang
    ),
    pred AS (
        SELECT doc_id, actual_lang, cand_lang AS pred_lang,
            row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, cand_lang) AS rk
        FROM scored
    )
    SELECT actual_lang, pred_lang, count(*) AS n_docs
    FROM pred WHERE rk = 1
    GROUP BY actual_lang, pred_lang
    ORDER BY actual_lang, pred_lang
    """


pair(
    "mlprep_naive_bayes",
    _naive_bayes,
    shared={"tr": _nb_train_tokens},
    tags=("mlprep", "text", "eval"),
    doc="Multinomial naive Bayes language ID trained on even doc_ids and "
    "evaluated on odd (output = the confusion matrix): Laplace-smoothed "
    "token log-likelihoods plus a document-frequency prior, argmax with a "
    "deterministic tie-break. The learned counterpart of "
    "text_lang_id_heuristic and the classic 'cheap classifier in the "
    "data pipeline' (CCNet's LM-filter role). The train-token table is "
    "localCheckpointed ONCE (four CTE references — counts, class totals, "
    "vocab, doc count — would otherwise each re-run the explode); scoring "
    "fans each test token out only by the 5-class broadcast and "
    "re-aggregates on (doc, class); log terms quantized to 9 dp and "
    "decimal-summed so both engines fold identically.",
)


# ---------------------------------------------------------------------------
# Zipf law fit over the token frequency distribution
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100


def _zipf(d: str) -> str:
    toks = _word_tokens("SELECT doc_id, lang, text FROM documents", d)
    x = "round(ln(cast(rk as double)), 9)"
    y = "round(ln(cast(c as double)), 9)"
    return f"""
    WITH tk AS ({toks}),
    freq AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
    top AS (
        -- ordered LIMIT first (TakeOrderedAndProject), THEN the rank
        -- window over only the surviving {_ZIPF_TOP} rows.
        SELECT tok, c FROM freq ORDER BY c DESC, tok LIMIT {_ZIPF_TOP}
    ),
    ranked AS (
        SELECT tok, c,
            row_number() OVER (ORDER BY c DESC, tok) AS rk
        FROM top
    ),
    reg AS (
        SELECT count(*) AS n,
            {S.dsum(x, d)} AS sx, {S.dsum(y, d)} AS sy,
            {S.dsum(f'({x}) * ({y})', d)} AS sxy,
            {S.dsum(f'({x}) * ({x})', d)} AS sxx
        FROM ranked
    )
    SELECT
        -- nullif: a 1-term vocabulary (degenerate corpus) has a single
        -- fit point — ANSI Spark THROWS on the 0 denominator where
        -- DuckDB returns NULL; both now emit NULL slope/intercept.
        round((cast(n as double) * sxy - sx * sy)
            / nullif(cast(n as double) * sxx - sx * sx,
                cast(0 as double)), 6) AS zipf_slope,
        round((sy - ((cast(n as double) * sxy - sx * sy)
            / nullif(cast(n as double) * sxx - sx * sx,
                cast(0 as double))) * sx)
            / cast(n as double), 6) AS intercept,
        cast(n as bigint) AS n_terms
    FROM reg
    """


pair(
    "text_zipf_fit",
    _zipf,
    tags=("text", "profiling"),
    doc="Zipf's-law fit: least-squares slope of ln(frequency) on ln(rank) "
    "over the top-100 vocabulary — healthy natural text sits near -1; "
    "template/boilerplate-heavy or synthetic corpora deviate, making the "
    "slope a one-number corpus-health screen next to text_word_entropy. "
    "Vocabulary hash-agg, one ordered top-100 (TakeOrderedAndProject), "
    "then a 100-row regression of 9-dp-quantized log terms with exact "
    "decimal moment sums.",
)


# ---------------------------------------------------------------------------
# PCA top component by power iteration (broadcast iteration, 2 rounds)
# ---------------------------------------------------------------------------

_PCA_ROUNDS = 2


def _pca_xv(d: str) -> str:
    """Long-format embedding view (vec_id, d, x) — 0-based dim."""
    if d == SPARK:
        return (
            "SELECT vec_id, pos AS dm, cast(col as double) AS x "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, col"
        )
    return (
        "SELECT vec_id, i - 1 AS dm, cast(embedding[i] as double) AS x "
        "FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)"
    )


def _pca_comp(d: str, xv: str) -> str:
    # Rounds unrolled as chained CTEs (the kmeans/logreg convention).
    # v0 = 1/8 in every coordinate (unit norm for 64 dims); each matvec
    # y = X v, c = X^T y runs as decimal-exact sums with the components
    # re-quantized to 6 dp between rounds. Returns the last round's
    # UNnormalized component (dm, m).
    # AS MATERIALIZED on every re-referenced DuckDB CTE: DuckDB inlines
    # plain CTEs, and the element table el is read by every round (see the
    # kmeans oracle's r9 fix — inlining re-expands the chain and detonated
    # at the giant-payload surface's 10,048 dims).
    mat = "MATERIALIZED " if d == DUCK else ""
    parts = [f"WITH el AS {mat}({xv})"]
    prev_v = None  # CTE name holding (dm, m)
    for r in range(1, _PCA_ROUNDS + 1):
        if prev_v is None:
            y_src = (
                f"SELECT vec_id, "
                f"{S.dsum('x * cast(0.125 as double)', d)} AS y "
                f"FROM el GROUP BY vec_id"
            )
        else:
            y_src = (
                f"SELECT el.vec_id, {S.dsum('el.x * v.m', d)} AS y "
                f"FROM el JOIN {prev_v} v ON el.dm = v.dm GROUP BY el.vec_id"
            )
        parts.append(f"y{r} AS {mat}({y_src})")
        parts.append(
            f"c{r} AS {mat}(SELECT el.dm, "
            f"round({S.dsum(f'y{r}.y * el.x', d)}, 6) AS m "
            f"FROM el JOIN y{r} ON el.vec_id = y{r}.vec_id GROUP BY el.dm)"
        )
        prev_v = f"c{r}"
    return ",\n".join(parts) + f"\nSELECT dm, m FROM {prev_v}"


def _pca_loading(d: str, comp: str) -> str:
    """The normalized component (dm, l). nullif: all-zero embeddings give
    a 0-norm component, whose loadings are NULL rather than an ANSI
    division error. The component is read twice: MATERIALIZED on DuckDB,
    which would otherwise run the power rounds once per read."""
    mat = "MATERIALIZED " if d == DUCK else ""
    return f"""
    WITH comp AS {mat}({comp}),
    nrm AS (SELECT sqrt({S.dsum('m * m', d)}) AS nr FROM comp)
    SELECT comp.dm, round(comp.m / nullif(nrm.nr, cast(0 as double)), 6) AS l
    FROM comp, nrm
    """


def _pca_power1(d: str, comp: str) -> str:
    return f"""
    WITH loading AS ({_pca_loading(d, comp)})
    SELECT dm AS dim, l AS loading FROM loading ORDER BY dim
    """


pair(
    "sim_pca_power1",
    _pca_power1,
    shared={"xv": _pca_xv, "comp": _pca_comp},
    tags=("similarity", "iterative"),
    doc="Top principal direction of the embedding table by 2 rounds of "
    "power iteration on the (uncentered) Gram matrix — the whitening / "
    "anisotropy probe an embedding-dedup stage runs before trusting "
    "cosine thresholds (dominant-direction removal à la all-but-the-top). "
    "Each round is two co-partitioned hash-aggs against the previous "
    "round's 64-row component table (y = Xv then c = X^T y), re-quantized "
    "to 6 dp between rounds; the long-format element table and the final "
    "component are localCheckpointed, and normalization is one 64-row "
    "step, so no driver fp enters the result. The dimension count is "
    "whatever the element table holds (the giant-payload sweep runs "
    "10,048 dims).",
)


# ---------------------------------------------------------------------------
# ANN recall audit: LSH hyperplane top-10 vs brute-force top-10
# ---------------------------------------------------------------------------


def _ann_recall(d: str, buckets: str) -> str:
    from .llm_ops import _sim_lsh_hyperplane, _sim_topk

    # ``buckets`` is the shared bucket table, threaded into the embedded ANN
    # pipeline so it serves both the audit's ANN side and its candidate
    # join (8 fact scans planned inlined — the round-11 registry-wide plan
    # audit; the brute-force exact side keeps its own self-join, which IS
    # the ground truth being audited).
    return f"""
    WITH exact AS ({_sim_topk(d)}),
    ann AS ({_sim_lsh_hyperplane(d, buckets)}),
    per AS (
        SELECT e.query_id, count(*) AS k_exact, count(a.vec_id) AS hits
        FROM exact e
        LEFT JOIN ann a
            ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT query_id, k_exact, hits,
        round(cast(hits as double) / cast(k_exact as double), 6)
            AS recall_at_10
    FROM per
    ORDER BY query_id
    """


pair(
    "audit_ann_recall",
    _ann_recall,
    shared={"buckets": _lsh_buckets},
    tags=("similarity", "audit"),
    doc="ANN quality audit: recall@10 of sim_lsh_hyperplane_ann against the "
    "sim_cosine_topk_bruteforce ground truth, per query — the measurement "
    "that justifies (or vetoes) switching the retrieval path from exact "
    "to bucketed at scale, alongside audit_minhash_estimate and "
    "audit_lsh_band_sensitivity for the dedup sketches. Runs both "
    "pipelines (each already scale-shaped) and one equi-join on "
    "(query_id, vec_id); hit counting is pure integer. The bucket table "
    "is localCheckpointed and threaded into the ANN side so the hash "
    "pipeline runs once.",
)


# ---------------------------------------------------------------------------
# Neyman-optimal stratified sampling allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 100


def _neyman(d: str) -> str:
    s1 = "cast(sum(cast(value as decimal(38,6))) as double)"
    s2 = "cast(sum(cast(value * value as decimal(38,6))) as double)"
    return f"""
    WITH sums AS (
        SELECT event_type, cast(count(*) as double) AS n,
            {s1} AS s1, {s2} AS s2
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    wgt AS (
        -- greatest(.., 0): the decimal-quantized power sums can put the
        -- variance an epsilon below zero on degenerate (single-row or
        -- constant-value) strata, and sqrt(-eps) is NaN in both engines —
        -- same clamp discipline as window_crosscorr_leadlag.
        SELECT event_type, n,
            sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), cast(0 as double)))
                AS sd,
            n * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n),
                cast(0 as double))) AS w
        FROM sums
    ),
    tot AS (SELECT {S.dsum('w', d)} AS tw FROM wgt)
    SELECT wgt.event_type, cast(wgt.n as bigint) AS n_rows,
        round(wgt.sd, 6) AS std_pop,
        cast(floor(cast({_NEYMAN_BUDGET} as double) * wgt.w
            / nullif(tot.tw, cast(0 as double))) as bigint) AS alloc_n
    FROM wgt, tot
    ORDER BY wgt.event_type
    """


pair(
    "sample_stratified_neyman",
    _neyman,
    tags=("sampling", "profiling"),
    doc="Neyman-optimal stratified sampling allocation: each event_type "
    "stratum gets floor(budget * N_h*S_h / sum) draws — minimum-variance "
    "allocation for a fixed label/annotation budget, the principled "
    "upgrade over text_stratified_sample's proportional quotas. Stddev "
    "from exact decimal power sums; the stratum-weight total is a 1-row "
    "broadcast; output is O(strata).",
)


# ---------------------------------------------------------------------------
# Classifier threshold sweep: precision / recall / F1 on a fixed grid
# ---------------------------------------------------------------------------

_SWEEP_STEP_CENTS = 5000  # 50.00 value units between thresholds
_SWEEP_N = 5


def _threshold_sweep(d: str) -> str:
    seq = S.explode_seq("k", "1", str(_SWEEP_N), d)
    # nullif: a slice with nothing at-or-above a threshold (tp + fp = 0)
    # or with no positives at all (np = 0) leaves precision/recall
    # undefined — NULL on both engines, not an ANSI divide error
    prec = "cast(tp as double) / cast(nullif(tp + fp, 0) as double)"
    rec = "cast(tp as double) / cast(nullif(np, 0) as double)"
    return f"""
    WITH sl AS (
        SELECT {_CENTS} AS v,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT v, count(*) AS c, {S.isum('y', d)} AS pos
        FROM sl GROUP BY v
    ),
    th AS (
        SELECT k * {_SWEEP_STEP_CENTS} AS t
        FROM (SELECT 1 AS one) o {seq}
    ),
    cm AS (
        -- threshold grid x distinct-cents grid: both tiny after the agg.
        SELECT th.t,
            {S.isum('CASE WHEN g.v >= th.t THEN g.pos ELSE 0 END', d)} AS tp,
            {S.isum('CASE WHEN g.v >= th.t THEN g.c - g.pos ELSE 0 END', d)}
                AS fp,
            {S.isum('g.pos', d)} AS np
        FROM th CROSS JOIN g
        GROUP BY th.t
    )
    SELECT t AS threshold_cents, tp, fp, np - tp AS fn,
        round({prec}, 6) AS precision_,
        round({rec}, 6) AS recall_,
        CASE WHEN tp > 0 THEN
            round(cast(2 as double) * ({prec}) * ({rec})
                / (({prec}) + ({rec})), 6)
            ELSE cast(0 as double) END AS f1
    FROM cm
    ORDER BY threshold_cents
    """


pair(
    "eval_threshold_sweep",
    _threshold_sweep,
    tags=("eval", "mlprep"),
    doc="Precision/recall/F1 of the value→purchase rule at 5 fixed "
    "thresholds — the operating-curve table read next to eval_auc_roc "
    "when picking the production cutoff (the reference's alert threshold "
    "is exactly such a choice). One hash-agg to the distinct-cents grid, "
    "then a 5-row threshold grid against it; confusion counts stay "
    "integer until the final ratios. tp = 0 pins F1 to 0 in both engines "
    "(no 0/0).",
)


# ---------------------------------------------------------------------------
# Equal-frequency quantile binning (feature discretization)
# ---------------------------------------------------------------------------

_QBIN_K = 4


def _quantile_bins(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT {_CENTS} AS v FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT v, count(*) AS c FROM sl GROUP BY v),
    cum AS (
        SELECT v, c,
            cast(sum(c) OVER (ORDER BY v) as bigint) - c AS cum_lt
        FROM g
    ),
    tot AS (SELECT {S.isum('c', d)} AS n FROM g),
    binned AS (
        -- every row of a tied value lands in ONE bin: the bin of the
        -- group's first position. Pure integer: floor(cum_lt * k / n).
        SELECT cum.v, cum.c,
            cast(least({_QBIN_K - 1},
                {S.idiv(f'cum.cum_lt * {_QBIN_K}', 'tot.n', d)}) as int)
                AS bin
        FROM cum, tot
    )
    SELECT bin, {S.isum('c', d)} AS n_rows,
        min(v) AS lo_cents, max(v) AS hi_cents
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """


pair(
    "mlprep_quantile_binning",
    _quantile_bins,
    tags=("mlprep",),
    doc=f"Equal-frequency discretization of value into {_QBIN_K} bins — the "
    "quantile-binning feature-prep staple (and the bin-edge table "
    "profile_drift_psi-style monitors should use instead of fixed-width "
    "bins). Bin assignment is floor(rows-strictly-below * k / n) on the "
    "distinct-cents grid — pure integer arithmetic, ties atomically in "
    "one bin, no percentile interpolation to disagree across engines. "
    "Output is the bin summary (count + value range per bin).",
)


# ---------------------------------------------------------------------------
# Mutual information between lang and source
# ---------------------------------------------------------------------------


def _mutual_info(d: str, cell: str) -> str:
    # Only populated cells contribute (0 * ln 0 = 0), so no dimension
    # grid is needed — marginals attach by equi-join.
    # The lang x source contingency grid is a shared core: inlined,
    # rt/ct/tt/joined each re-ran the fact hash-agg (8 fact scans
    # planned — the round-11 registry-wide plan audit).
    pmi_term = (
        "(cast(c as double) / cast(n as double))"
        " * ln(cast(c as double) * cast(n as double)"
        " / (cast(rl as double) * cast(cs as double)))"
    )
    hl_term = (
        "(cast(rl as double) / cast(n as double))"
        " * ln(cast(n as double) / cast(rl as double))"
    )
    hs_term = (
        "(cast(cs as double) / cast(n as double))"
        " * ln(cast(n as double) / cast(cs as double))"
    )
    return f"""
    WITH cell AS ({cell}),
    rt AS (SELECT lang, {S.isum('c', d)} AS rl FROM cell GROUP BY lang),
    ct AS (SELECT source, {S.isum('c', d)} AS cs FROM cell GROUP BY source),
    tt AS (SELECT {S.isum('c', d)} AS n FROM cell),
    joined AS (
        SELECT cell.c, rt.rl, ct.cs, tt.n
        FROM cell
        JOIN rt ON rt.lang = cell.lang
        JOIN ct ON ct.source = cell.source
        CROSS JOIN tt
    ),
    mi AS (SELECT {S.dsum(pmi_term, d)} AS mi_nats FROM joined),
    hl AS (SELECT {S.dsum(hl_term, d)} AS h FROM rt CROSS JOIN tt),
    hs AS (SELECT {S.dsum(hs_term, d)} AS h FROM ct CROSS JOIN tt)
    SELECT round(mi.mi_nats, 6) AS mi_nats,
        round(hl.h, 6) AS h_lang, round(hs.h, 6) AS h_source,
        CASE WHEN hl.h > 0 AND hs.h > 0 THEN
            round(mi.mi_nats / sqrt(hl.h * hs.h), 6)
            ELSE cast(0 as double) END AS nmi
    FROM mi, hl, hs
    """


pair(
    "agg_mutual_info",
    _mutual_info,
    shared={"cell": _lang_source_cell_core},
    tags=("profiling", "eval"),
    doc="Mutual information between lang and source (nats) with marginal "
    "entropies and sqrt-normalized NMI — the effect-SIZE companion to "
    "agg_chi2_independence's significance test (chi² grows with n; NMI "
    "doesn't). Only populated contingency cells contribute (0·ln0 = 0), "
    "so marginals attach by equi-join — no dimension grid; per-cell "
    "terms decimal-quantized so the sums are order-free. The contingency "
    "grid is localCheckpointed so its consumers share ONE fact scan.",
)


# ---------------------------------------------------------------------------
# Two-proportion A/B z-test (conversion rate, even vs odd days)
# ---------------------------------------------------------------------------


def _ab_ztest(d: str) -> str:
    day = "cast(floor(" + S.epoch_s("ts", d) + " / 86400) as bigint)"
    # nullif everywhere a count can be zero (an arm with no rows, or a
    # degenerate 0%/100% pooled rate): ANSI Spark THROWS on double x/0
    # where DuckDB returns NULL — the guards make both engines emit NULL.
    p1 = "(cast(k1 as double) / nullif(cast(n1 as double), cast(0 as double)))"
    p2 = "(cast(k2 as double) / nullif(cast(n2 as double), cast(0 as double)))"
    pp = (
        "(cast(k1 + k2 as double)"
        " / nullif(cast(n1 + n2 as double), cast(0 as double)))"
    )
    return f"""
    WITH base AS (
        SELECT CASE WHEN {day} % 2 = 0 THEN 1 ELSE 0 END AS is_a,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    counts AS (
        SELECT {S.isum('is_a', d)} AS n1, {S.isum('is_a * y', d)} AS k1,
            {S.isum('1 - is_a', d)} AS n2,
            {S.isum('(1 - is_a) * y', d)} AS k2
        FROM base
    )
    SELECT n1, k1, n2, k2,
        round({p1}, 6) AS rate_a, round({p2}, 6) AS rate_b,
        round(({p1} - {p2})
            / nullif(sqrt(greatest({pp} * (cast(1 as double) - {pp}),
                    cast(0 as double))
                * (cast(1 as double)
                       / nullif(cast(n1 as double), cast(0 as double))
                   + cast(1 as double)
                       / nullif(cast(n2 as double), cast(0 as double)))),
                cast(0 as double)), 6) AS z_score
    FROM counts
    """


pair(
    "eval_ab_ztest",
    _ab_ztest,
    tags=("eval", "profiling"),
    doc="Two-proportion z-test of purchase-conversion between even- and "
    "odd-day cohorts — the A/B significance readout a pipeline owner "
    "checks before trusting a mixture or gate change. ONE map-side-"
    "combinable aggregation to four integers, then pure double algebra "
    "on them; nothing else moves.",
)


# ---------------------------------------------------------------------------
# Label propagation communities (2 synchronous rounds, majority vote)
# ---------------------------------------------------------------------------

_LPA_GRP_CAP = 40  # same hot-group guard as graph_triangle_count


def _lpa_hour(d: str) -> str:
    if d == SPARK:
        return "date_format(ts, 'yyyy-MM-dd HH')"
    return "strftime(ts, '%Y-%m-%d %H')"


def _lpa_edges(d: str) -> str:
    """The capped co-occurrence edge build (same shape as
    graph_triangle_count) — the table every LPA round re-reads, so the
    Spark builder materializes it once."""
    return f"""
    WITH member AS (
        SELECT DISTINCT user_id, event_type, {_lpa_hour(d)} AS bucket
        FROM events
    ),
    sized AS (
        SELECT user_id, event_type, bucket,
            count(*) OVER (PARTITION BY event_type, bucket) AS gsz
        FROM member
    ),
    capped AS (
        SELECT user_id, event_type, bucket
        FROM sized WHERE gsz <= {_LPA_GRP_CAP}
    )
    SELECT DISTINCT a.user_id AS u, b.user_id AS v
    FROM capped a JOIN capped b
        ON a.event_type = b.event_type AND a.bucket = b.bucket
        AND a.user_id < b.user_id
    """


def _lpa_chain(d: str, edges_src: str) -> tuple[str, str]:
    """Shared LPA CTE chain: returns (with_body, final_label_cte_name)."""
    rounds = []
    prev = "l0"
    for r in (1, 2):
        rounds.append(f"""
    votes{r} AS (
        SELECT nbr.u AS node, lab.label, count(*) AS cnt
        FROM nbr JOIN {prev} lab ON lab.node = nbr.v
        GROUP BY nbr.u, lab.label
    ),
    pick{r} AS (
        SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY cnt DESC, label) AS rk
        FROM votes{r}
    ),
    l{r} AS (SELECT node, label FROM pick{r} WHERE rk = 1)""")
        prev = f"l{r}"
    rounds_sql = ",".join(rounds)
    body = f"""edges AS ({edges_src}),
    nodes AS (
        SELECT DISTINCT u AS node FROM
            (SELECT u FROM edges UNION ALL SELECT v FROM edges) nn
    ),
    nbr AS (
        -- symmetric adjacency + self-loop, so a node votes for its own
        -- label too (the standard LPA stabilizer).
        SELECT u, v FROM edges
        UNION ALL SELECT v AS u, u AS v FROM edges
        UNION ALL SELECT node AS u, node AS v FROM nodes
    ),
    l0 AS (SELECT node, node AS label FROM nodes),{rounds_sql}"""
    return body, prev


def _label_prop(d: str, edges: str) -> str:
    body, prev = _lpa_chain(d, edges)
    return f"""
    WITH {body}
    SELECT label AS community, count(*) AS n_members
    FROM {prev}
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT 20
    """


pair(
    "graph_label_prop2",
    _label_prop,
    shared={"edges": _lpa_edges},
    tags=("graph", "iterative"),
    doc="Community detection by 2 synchronous label-propagation rounds over "
    "the user co-occurrence graph (same capped edge build as "
    "graph_triangle_count): each node adopts the most frequent label "
    "among neighbors+self, ties to the smallest label — fully "
    "deterministic, unlike textbook randomized LPA. The edge table is "
    "localCheckpointed ONCE (every round's vote join plus the node/"
    "adjacency CTEs would otherwise each replay the window+self-join "
    "build — the pagerank edge-table convention); each round is then one "
    "equi-join + one hash-agg + a per-node window; top-20 communities by "
    "TakeOrderedAndProject. On rugpull data: wallet clusters acting in "
    "concert.",
)


# ---------------------------------------------------------------------------
# Multi-probe LSH recall audit (1-probe vs Hamming-1 probing vs exact)
# ---------------------------------------------------------------------------


def _multiprobe_queries_core(d: str, buckets: str) -> str:
    """The 5-row query table (id, embedding, home bucket)."""
    return f"""
        WITH buckets AS ({buckets})
        SELECT e.vec_id AS query_id, e.embedding, b.bucket
        FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
        WHERE e.vec_id < 5
    """


def _multiprobe_recall(d: str, buckets: str, queries: str) -> str:
    from .llm_ops import _N_PLANES, _cosine, _sim_topk

    # ``buckets``/``queries`` are the shared bucket table (one row per
    # vector) and the 5-row query table read from it. Inlined, the
    # probes/cand/ranked fan-out re-derived the whole hyperplane-hash
    # pipeline per consumer (26 fact scans planned — the round-11
    # registry-wide plan audit).
    cos = _cosine(d, "q.embedding", "c.embedding")
    flip = S.bit_xor2("q.bucket", S.shift_left("cast(1 as bigint)", "i", d), d)
    probes = f"""
        SELECT q.query_id, q.embedding,
            CASE WHEN i = -1 THEN q.bucket ELSE {flip} END AS probe
        FROM queries q
        CROSS JOIN (SELECT 1 AS one) o
            {S.explode_seq('i', '-1', str(_N_PLANES - 1), d)}
    """
    return f"""
    WITH exact AS ({_sim_topk(d)}),
    buckets AS ({buckets}),
    queries AS ({queries}),
    probes AS ({probes}),
    cand AS (
        SELECT DISTINCT p.query_id, p.embedding, cb.vec_id,
            CASE WHEN cb.bucket = q1.bucket THEN 1 ELSE 0 END AS in_home
        FROM probes p
        JOIN buckets cb ON cb.bucket = p.probe
        JOIN queries q1 ON q1.query_id = p.query_id
        WHERE cb.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT cand.query_id, cand.vec_id, cand.in_home,
            row_number() OVER (PARTITION BY cand.query_id
                ORDER BY round({cos}, 6) DESC, cand.vec_id) AS rnk
        FROM cand
        JOIN embeddings c ON c.vec_id = cand.vec_id
        JOIN queries q ON q.query_id = cand.query_id
    ),
    top_multi AS (SELECT query_id, vec_id FROM ranked WHERE rnk <= 10),
    ranked_home AS (
        SELECT query_id, vec_id,
            row_number() OVER (PARTITION BY query_id
                ORDER BY rnk) AS hrnk
        FROM ranked WHERE in_home = 1
    ),
    top_home AS (SELECT query_id, vec_id FROM ranked_home WHERE hrnk <= 10),
    per AS (
        SELECT e.query_id, count(*) AS k_exact,
            {S.isum('CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END', d)}
                AS hits_home,
            {S.isum('CASE WHEN m.vec_id IS NOT NULL THEN 1 ELSE 0 END', d)}
                AS hits_multi
        FROM exact e
        LEFT JOIN top_home h
            ON h.query_id = e.query_id AND h.vec_id = e.vec_id
        LEFT JOIN top_multi m
            ON m.query_id = e.query_id AND m.vec_id = e.vec_id
        GROUP BY e.query_id
    )
    SELECT query_id, k_exact, hits_home, hits_multi,
        round(cast(hits_home as double) / cast(k_exact as double), 6)
            AS recall_home,
        round(cast(hits_multi as double) / cast(k_exact as double), 6)
            AS recall_multi
    FROM per
    ORDER BY query_id
    """


pair(
    "audit_multiprobe_recall",
    _multiprobe_recall,
    shared={"buckets": _lsh_buckets, "queries": _multiprobe_queries_core},
    tags=("similarity", "audit"),
    doc="Multi-probe LSH audit (Lv et al. 2007): each query probes its home "
    "bucket PLUS the 4 Hamming-1 neighbor buckets (bucket XOR one plane "
    "bit), and recall@10 vs the brute-force ground truth is reported "
    "side-by-side for home-only vs multi-probe retrieval — the "
    "measurement behind the 100 TB trade of probing a few extra buckets "
    "instead of storing more hash tables. Probe expansion is a 5-way "
    "sequence fan-out on the query side only (candidates stay "
    "equi-joined on the bucket key); recall counting is pure integer. "
    "The bucket table and the 5-row query table are localCheckpointed "
    "so the hyperplane-hash pipeline runs once.",
)


# ---------------------------------------------------------------------------
# All-but-the-top whitened cosine re-rank (PCA composition)
# ---------------------------------------------------------------------------


def _whiten_body(d: str) -> str:
    """From CTEs ``xv`` (vec_id, dm, x) and ``loading`` (dm, l): deflate
    every vector by its top-PC projection and rank cosine top-5 for the
    5 query vectors. On the DuckDB side the re-referenced
    CTEs are MATERIALIZED (defl is read three times; plain-CTE inlining
    re-expanded the whole xv-join prefix per reference and timed out on
    the giant-payload surface's 10k dims, r9)."""
    mat = "MATERIALIZED " if d == DUCK else ""
    # The BROADCAST hints keep the element table xv on the probe side: the
    # checkpointed xv carries its pre-checkpoint size estimate (the
    # embeddings scan, before the per-dim explode), so unhinted Spark
    # broadcast all of it — 5M rows on the giant-payload surface's 10,048
    # dims, which ran the 4 GB driver out of broadcast memory.
    return f"""
    proj AS {mat}(
        SELECT /*+ BROADCAST(ld) */ xv.vec_id,
            round({S.dsum('xv.x * ld.l', d)}, 9) AS p
        FROM xv JOIN loading ld ON xv.dm = ld.dm GROUP BY xv.vec_id
    ),
    defl AS {mat}(
        SELECT /*+ BROADCAST(proj, ld) */ xv.vec_id, xv.dm,
            xv.x - proj.p * ld.l AS xd
        FROM xv
        JOIN proj ON proj.vec_id = xv.vec_id
        JOIN loading ld ON ld.dm = xv.dm
    ),
    nv AS {mat}(
        SELECT vec_id, sqrt({S.dsum('xd * xd', d)}) AS nrm2
        FROM defl GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
            {S.dsum('q.xd * c.xd', d)} AS dp
        FROM (SELECT * FROM defl WHERE vec_id < 5) q
        JOIN defl c ON c.dm = q.dm AND c.vec_id <> q.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    scored AS (
        SELECT dots.qid, dots.cid,
            round(dots.dp / (a.nrm2 * b.nrm2), 6) AS cosine
        FROM dots
        JOIN nv a ON a.vec_id = dots.qid
        JOIN nv b ON b.vec_id = dots.cid
        WHERE a.nrm2 * b.nrm2 > 0
    )
    SELECT qid AS query_id, cid AS vec_id, cosine,
        cast(rnk as int) AS rnk
    FROM (
        SELECT qid, cid, cosine, row_number() OVER (
            PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
        FROM scored
    ) r
    WHERE rnk <= 5
    ORDER BY query_id, rnk
    """


def _whiten(d: str, xv: str, loading: str) -> str:
    mat = "MATERIALIZED " if d == DUCK else ""
    return f"""
    WITH xv AS {mat}({xv}), loading AS {mat}({loading}),
    {_whiten_body(d)}
    """


pair(
    "sim_whiten_rerank",
    _whiten,
    shared={"xv": _pca_xv, "comp": _pca_comp, "loading": _pca_loading},
    tags=("similarity", "iterative"),
    doc="All-but-the-top whitened retrieval (Mu & Viswanath 2018): every "
    "embedding is deflated by its projection onto the corpus's top "
    "principal direction (sim_pca_power1's 2-round power iteration, "
    "composed inline) BEFORE cosine ranking — removing the anisotropic "
    "common direction that inflates all similarities and hides true "
    "neighbors. Top-5 per query over the deflated vectors; projections "
    "9-dp-quantized and all sums decimal-exact, so the whole "
    "PCA-then-rerank composition hash-matches its oracle. The element "
    "table, the component and the 64-row loading table are "
    "localCheckpointed; the deflation is a map-side subtraction against "
    "the loading table — at 100 TB it rides the same scan as the ranking.",
)


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie-corrected, integer moments)
# ---------------------------------------------------------------------------


def _spearman_ranks(src: str, col: str, d: str) -> str:
    """(v, r2) doubled average rank per distinct value of ``col`` — the
    AUC trick: 2*avg_rank = 2*count_below + count_equal + 1 stays integer."""
    return f"""
        SELECT v, 2 * coalesce(cast(sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) as bigint),
                0) + c + 1 AS r2
        FROM (SELECT {col} AS v, count(*) AS c FROM {src} GROUP BY {col}) g
    """


def _spearman(d: str) -> str:
    return f"""
    WITH um AS (
        SELECT user_id, cast(count(*) as bigint) AS f,
            cast(sum(cast(floor(value * cast(100 as double)) as bigint))
                as bigint) AS m
        FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    fr AS ({_spearman_ranks('um', 'f', d)}),
    mr AS ({_spearman_ranks('um', 'm', d)}),
    ranked AS (
        SELECT fr.r2 AS x, mr.r2 AS y
        FROM um JOIN fr ON fr.v = um.f JOIN mr ON mr.v = um.m
    ),
    mom AS (
        SELECT cast(count(*) as bigint) AS n,
            {S.isum('x', d)} AS sx, {S.isum('y', d)} AS sy,
            {S.isum('x * y', d)} AS sxy,
            {S.isum('x * x', d)} AS sxx, {S.isum('y * y', d)} AS syy
        FROM ranked
    )
    SELECT n AS n_users,
        round(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
            THEN NULL
            ELSE cast(n * sxy - sx * sy as double)
                / sqrt(cast(n * sxx - sx * sx as double)
                     * cast(n * syy - sy * sy as double)) END, 6)
            AS spearman_rho
    FROM mom
    """


pair(
    "eval_spearman_rho",
    _spearman,
    tags=("eval", "profiling"),
    doc="Spearman rank correlation between per-user activity (event count) "
    "and spend (summed cents) — does frequency predict monetary value "
    "monotonically? Tie-corrected via DOUBLED average ranks (2*below + "
    "equal + 1, the eval_auc_roc trick), which keeps every moment sum "
    "in exact integer arithmetic; one double sqrt/division at the end. "
    "Rank tables live on the distinct-value grids; the fact-side cost "
    "is one per-user hash-agg.",
)


# ---------------------------------------------------------------------------
# Winsorized mean per type (10th/90th percentile clamp, integer grid rule)
# ---------------------------------------------------------------------------


def _winsorized(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT event_type, {_CENTS} AS v
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT event_type, v, count(*) AS c
        FROM sl GROUP BY event_type, v
    ),
    cum AS (
        SELECT event_type, v, c,
            cast(sum(c) OVER (PARTITION BY event_type ORDER BY v)
                as bigint) AS le
        FROM g
    ),
    tot AS (
        SELECT event_type, {S.isum('c', d)} AS n FROM g GROUP BY event_type
    ),
    cuts AS (
        -- p10 = smallest v with 10*count_le >= n; p90 likewise with 9n:
        -- pure integer comparisons, no interpolation.
        SELECT cum.event_type,
            min(CASE WHEN 10 * cum.le >= tot.n THEN cum.v END) AS p10,
            min(CASE WHEN 10 * cum.le >= 9 * tot.n THEN cum.v END) AS p90
        FROM cum JOIN tot ON tot.event_type = cum.event_type
        GROUP BY cum.event_type
    )
    SELECT sl.event_type, max(cuts.p10) AS p10_cents,
        max(cuts.p90) AS p90_cents,
        round({S.dsum(
            'cast(least(greatest(sl.v, cuts.p10), cuts.p90) as double)'
            ' / cast(100 as double)', d)}
            / cast(count(*) as double), 6) AS winsorized_mean,
        round({S.dsum('cast(sl.v as double) / cast(100 as double)', d)}
            / cast(count(*) as double), 6) AS raw_mean
    FROM sl JOIN cuts ON cuts.event_type = sl.event_type
    GROUP BY sl.event_type
    ORDER BY sl.event_type
    """


pair(
    "agg_winsorized_mean",
    _winsorized,
    tags=("agg", "profiling"),
    doc="Winsorized mean per event_type (values clamped to the [p10, p90] "
    "band) next to the raw mean — the outlier-robust location estimate a "
    "wash-trade-contaminated value stream needs. Percentile cuts come "
    "from pure integer threshold comparisons on the per-type cents grid "
    "(smallest v with 10*count_le >= k*n — no interpolation to diverge "
    "across engines); clamped sums are decimal-exact.",
)


# ---------------------------------------------------------------------------
# Inter-arrival time statistics per event type
# ---------------------------------------------------------------------------


def _interarrival(d: str) -> str:
    ep = S.epoch_s("ts", d)
    return f"""
    WITH ordered AS (
        SELECT event_type, {ep} AS t,
            lag({ep}) OVER (PARTITION BY event_type
                ORDER BY {ep}, event_id) AS prev_t
        FROM events
    ),
    deltas AS (
        SELECT event_type, cast(t - prev_t as bigint) AS dt
        FROM ordered WHERE prev_t IS NOT NULL
    ),
    g AS (
        SELECT event_type, dt, count(*) AS c
        FROM deltas GROUP BY event_type, dt
    ),
    cum AS (
        SELECT event_type, dt, c,
            cast(sum(c) OVER (PARTITION BY event_type ORDER BY dt)
                as bigint) AS le
        FROM g
    ),
    tot AS (
        SELECT event_type, {S.isum('c', d)} AS n FROM g GROUP BY event_type
    ),
    med AS (
        SELECT cum.event_type,
            min(CASE WHEN 2 * cum.le >= tot.n THEN cum.dt END) AS median_s
        FROM cum JOIN tot ON tot.event_type = cum.event_type
        GROUP BY cum.event_type
    )
    SELECT d2.event_type, cast(count(*) as bigint) AS n_gaps,
        min(d2.dt) AS min_gap_s, max(d2.dt) AS max_gap_s,
        max(med.median_s) AS median_gap_s,
        round({S.dsum('cast(d2.dt as double)', d)}
            / cast(count(*) as double), 6) AS mean_gap_s
    FROM deltas d2 JOIN med ON med.event_type = d2.event_type
    GROUP BY d2.event_type
    ORDER BY d2.event_type
    """


pair(
    "events_interarrival_stats",
    _interarrival,
    tags=("events", "profiling", "series"),
    doc="Inter-arrival time distribution per event_type (n/min/median/mean/"
    "max gap seconds) — the cadence fingerprint that separates organic "
    "activity from scripted bursts (bot buys arrive metronomically; the "
    "reference's poller cadence itself shows up as such a signature). "
    "One lag window per type partition (deterministic ts, event_id "
    "ordering), then integer gap stats on the per-type delta grid; the "
    "median is an integer threshold pick, no interpolation.",
)


# ---------------------------------------------------------------------------
# Calibration / reliability bins (integer-exact decile curve)
# ---------------------------------------------------------------------------


def _calibration(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT {_CENTS} AS s,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    g AS (
        SELECT s, cast(count(*) as bigint) AS c, {S.isum('y', d)} AS pos
        FROM sl GROUP BY s
    ),
    mg AS (
        -- the score maximum is a scalar over the distinct-cents GRID, so
        -- the unpartitioned window max costs O(grid), never O(rows)
        SELECT s, c, pos, max(s) OVER () AS m FROM g
    ),
    b AS (
        SELECT {S.idiv('10 * s', 'm + 1', d)} AS bin,
            c, pos, s, m FROM mg
    )
    SELECT cast(bin as int) AS bin,
        {S.isum('c', d)} AS n_events,
        {S.isum('pos', d)} AS n_pos,
        round(cast({S.isum('s * c', d)} as double)
            / (cast({S.isum('c', d)} as double) * cast(max(m) as double)),
            6) AS mean_pred,
        round(cast({S.isum('pos', d)} as double)
            / cast({S.isum('c', d)} as double), 6) AS pos_rate
    FROM b
    GROUP BY bin
    ORDER BY bin
    """


pair(
    "eval_calibration_bins",
    _calibration,
    tags=("eval", "mlprep"),
    doc="Calibration / reliability curve for 'normalized event value "
    "predicts purchase': scores are bucketed into 10 fixed-width bins "
    "(integer arithmetic on the cents grid — bin = 10*s div (max+1)), and "
    "each bin reports its mean normalized score next to its observed "
    "positive rate; a calibrated signal puts the two on the diagonal. "
    "Everything aggregates on the distinct-cents grid first, so the "
    "global max and the bin assignment cost O(grid) not O(rows); the "
    "only doubles are two final exact-integer divisions per bin.",
)


# ---------------------------------------------------------------------------
# NDCG@10 ranking evaluation (does length predict vocabulary richness?)
# ---------------------------------------------------------------------------


def _ndcg_scored(d: str) -> str:
    """The per-doc relevance table: graded by distinct-vocabulary size."""
    toks = _word_tokens("SELECT doc_id, lang, text FROM documents", d)
    return f"""
        SELECT nv.doc_id, nv.lang, d.n_chars,
            least(3, {S.idiv('nv.nvoc', '8', d)}) AS rel
        FROM (
            SELECT doc_id, lang, count(DISTINCT tok) AS nvoc
            FROM ({toks}) t GROUP BY doc_id, lang
        ) nv JOIN documents d ON d.doc_id = nv.doc_id
    """


def _ndcg(d: str, scored: str) -> str:
    # Each DCG term is quantized to 9 dp before the decimal sum, the repo's
    # standing transcendental discipline (ln accurate to ~1 ulp; a 1e-15
    # relative wobble cannot move a 9-dp rounding except on an exact
    # boundary, which transcendental values never hit).
    term = (
        "round(cast(({g}) as double)"
        " * ln(cast(2 as double)) / ln(cast({p} + 1 as double)), 9)"
    )
    # The per-doc relevance table is a shared core: inlined, the sys and
    # ideal rankings each re-ran the token explode (4 fact scans planned
    # — the round-11 registry-wide plan audit).
    return f"""
    WITH scored AS ({scored}),
    sys AS (
        SELECT lang, rel, row_number() OVER (PARTITION BY lang
            ORDER BY n_chars DESC, doc_id) AS pos
        FROM scored
    ),
    ideal AS (
        SELECT lang, rel, row_number() OVER (PARTITION BY lang
            ORDER BY rel DESC, doc_id) AS pos
        FROM scored
    ),
    dcg AS (
        SELECT lang, {S.dsum(term.format(g='power(cast(2 as double), rel) - 1', p='pos'), d)} AS v
        FROM sys WHERE pos <= 10 GROUP BY lang
    ),
    idcg AS (
        SELECT lang, {S.dsum(term.format(g='power(cast(2 as double), rel) - 1', p='pos'), d)} AS v
        FROM ideal WHERE pos <= 10 GROUP BY lang
    )
    SELECT dcg.lang, round(dcg.v, 6) AS dcg_at_10,
        round(idcg.v, 6) AS idcg_at_10,
        round(CASE WHEN idcg.v > 0 THEN dcg.v / idcg.v ELSE 0.0 END, 6)
            AS ndcg_at_10
    FROM dcg JOIN idcg ON idcg.lang = dcg.lang
    ORDER BY dcg.lang
    """


pair(
    "eval_ndcg_ranking",
    _ndcg,
    shared={"scored": _ndcg_scored},
    tags=("eval", "similarity"),
    doc="NDCG@10 per language for the ranking 'longer documents are "
    "richer': system order is n_chars DESC, graded relevance is the "
    "distinct-token count bucketed to 0..3, ideal order re-sorts by "
    "relevance itself. Both rankings are row_number windows per language "
    "partition with a pos <= 10 filter, which Spark executes as "
    "WindowGroupLimit — each partition keeps 10 rows, no full "
    "materialized sort output; gains are integer, each log-discounted "
    "term is 9-dp-quantized before the exact decimal sum. The per-doc "
    "relevance table is localCheckpointed so the token explode runs "
    "once.",
)


# ---------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies profile
# ---------------------------------------------------------------------------


def _freq_of_freq(d: str) -> str:
    toks = _word_tokens("SELECT doc_id, lang, text FROM documents", d)
    return f"""
    WITH tc AS (
        SELECT tok, cast(count(*) as bigint) AS r
        FROM ({toks}) t GROUP BY tok
    ),
    nr AS (
        SELECT r, cast(count(*) as bigint) AS n_types FROM tc GROUP BY r
    ),
    gt AS (
        -- lead() + scalar total as windows over the frequency-of-
        -- frequencies GRID (a few hundred rows however large the corpus):
        -- Good-Turing r* needs N_{{r+1}}; the window form keeps the total
        -- off a cross join (the repo's scalar-over-metadata convention).
        SELECT r, n_types,
            lead(r) OVER (ORDER BY r) AS r_next,
            lead(n_types) OVER (ORDER BY r) AS n_next,
            row_number() OVER (ORDER BY r) AS band,
            cast(sum(r * n_types) OVER () as bigint) AS n_occ
        FROM nr
    )
    SELECT gt.r, gt.n_types,
        {S.isum('gt.r * gt.n_types', d)} AS occurrences,
        round(cast({S.isum('gt.r * gt.n_types', d)} as double)
            / cast(max(gt.n_occ) as double), 6) AS mass_share,
        round(CASE WHEN max(gt.r_next) = gt.r + 1
            THEN cast((gt.r + 1) * max(gt.n_next) as double)
                 / cast(gt.n_types as double)
            END, 6) AS gt_adjusted_r
    FROM gt
    WHERE gt.band <= 50
    GROUP BY gt.r, gt.n_types
    ORDER BY gt.r
    """


pair(
    "profile_freq_of_freq",
    _freq_of_freq,
    tags=("profiling", "text"),
    doc="Good-Turing frequency-of-frequencies profile of the corpus "
    "vocabulary: N_r = how many token types occur exactly r times, each "
    "row's share of total occurrences, and the Good-Turing adjusted "
    "count r* = (r+1) N_(r+1)/N_r where the next band exists (null "
    "otherwise) — the smoothing table every n-gram LM and the "
    "unseen-mass estimate (N_1/N) read directly; output keeps the 50 "
    "lowest frequency bands present (GT smoothing only applies there). "
    "One token hash-agg, one count hash-agg, then a lead() window over "
    "the resulting frequency grid, which is log-sized in the corpus.",
)


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes on the day grid)
# ---------------------------------------------------------------------------


def _theil_sen(d: str) -> str:
    e = S.epoch_s("ts", d)
    return f"""
    WITH daily AS (
        SELECT event_type, {S.idiv(e, '86400', d)} AS di,
            {S.isum(_CENTS, d)} AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {S.idiv(e, '86400', d)}
    ),
    pairs AS (
        -- O(days^2) per type, but on the DAILY grid (~120 rows per type
        -- regardless of fact size), self-equi-joined on type.
        SELECT a.event_type,
            cast(b.y - a.y as double) / cast(b.di - a.di as double) AS slope,
            a.di AS di, b.di AS dj
        FROM daily a JOIN daily b
            ON b.event_type = a.event_type AND b.di > a.di
    ),
    ranked AS (
        SELECT event_type, slope,
            row_number() OVER (PARTITION BY event_type
                ORDER BY slope, di, dj) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n_pairs
        FROM pairs
    ),
    days AS (
        SELECT event_type, cast(count(*) as bigint) AS n_days FROM daily
        GROUP BY event_type
    )
    SELECT r.event_type, max(days.n_days) AS n_days,
        cast(max(r.n_pairs) as bigint) AS n_pairs,
        round(max(r.slope) / cast(100 as double), 6) AS ts_slope_per_day
    FROM ranked r JOIN days ON days.event_type = r.event_type
    WHERE r.rn = {S.idiv('r.n_pairs + 1', '2', d)}
    GROUP BY r.event_type
    ORDER BY r.event_type
    """


pair(
    "window_theil_sen",
    _theil_sen,
    tags=("window", "series", "profiling"),
    doc="Theil-Sen robust trend estimate of each event type's daily value "
    "series: the LOWER MEDIAN of all pairwise slopes (y_j-y_i)/(d_j-d_i) "
    "— up to 29% contaminated points cannot move it, unlike the OLS "
    "slope of agg_linreg_daily. The quadratic pair build runs on the "
    "per-type DAILY grid (~bounded by calendar, not by fact rows), the "
    "slopes are exact-integer-derived doubles (identical IEEE in both "
    "engines, so their sort order is identical), and the median is an "
    "integer rank pick — no interpolation to diverge.",
)


# ---------------------------------------------------------------------------
# Pettitt changepoint test (rank-based, all-integer U statistic)
# ---------------------------------------------------------------------------


def _pettitt(d: str) -> str:
    e = S.epoch_s("ts", d)
    return f"""
    WITH daily AS (
        SELECT event_type, {S.idiv(e, '86400', d)} AS di,
            {S.isum(_CENTS, d)} AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {S.idiv(e, '86400', d)}
    ),
    vg AS (
        SELECT event_type, y, cast(count(*) as bigint) AS c
        FROM daily GROUP BY event_type, y
    ),
    vr AS (
        -- doubled average rank per distinct daily value (2*below+equal+1,
        -- the integer tie-correction the AUC/Spearman family uses),
        -- windowed over the per-type VALUE grid.
        SELECT event_type, y,
            2 * coalesce(cast(sum(c) OVER (PARTITION BY event_type
                ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                as bigint), 0) + c + 1 AS r2
        FROM vg
    ),
    seq AS (
        SELECT daily.event_type, daily.di, vr.r2,
            row_number() OVER (PARTITION BY daily.event_type
                ORDER BY daily.di) AS t,
            count(*) OVER (PARTITION BY daily.event_type) AS n,
            cast(sum(vr.r2) OVER (PARTITION BY daily.event_type
                ORDER BY daily.di) as bigint) AS cum_r2
        FROM daily JOIN vr
            ON vr.event_type = daily.event_type AND vr.y = daily.y
    ),
    u AS (
        -- Pettitt U_t = sum_(i<=t) 2*R_i - t*(n+1), integer throughout;
        -- the split candidate excludes the final day.
        SELECT event_type, di, n, cum_r2 - t * (n + 1) AS ut,
            abs(cum_r2 - t * (n + 1)) AS au
        FROM seq WHERE t < n
    ),
    best AS (
        SELECT event_type, di, n, ut, au,
            row_number() OVER (PARTITION BY event_type
                ORDER BY au DESC, di) AS rn
        FROM u
    )
    SELECT event_type, cast(n as bigint) AS n_days,
        di AS change_day_idx, cast(au as bigint) AS k_stat,
        round(least(cast(1 as double),
            2 * exp(cast(-6 as double) * cast(au * au as double)
                / cast(n * n * n + n * n as double))), 6) AS p_approx
    FROM best WHERE rn = 1
    ORDER BY event_type
    """


pair(
    "window_pettitt_changepoint",
    _pettitt,
    tags=("window", "series", "eval"),
    doc="Pettitt nonparametric changepoint test on each event type's daily "
    "value series — the batch complement of the streaming CUSUM alert: "
    "U_t folds the DOUBLED tie-corrected ranks (the AUC/Spearman integer "
    "trick) so every U_t is exact, the change day is the argmax |U_t| "
    "with a deterministic day tie-break, and the classic approximate "
    "significance 2*exp(-6K^2/(n^3+n^2)) is the single transcendental, "
    "6-dp-rounded. Ranks, cumsums and the argmax are all windows over "
    "the per-type DAILY grid (calendar-bounded, never fact-scale).",
)


# ---------------------------------------------------------------------------
# Cohen's kappa for the lang-id heuristic (chance-corrected agreement)
# ---------------------------------------------------------------------------


def _cohens_kappa(d: str) -> str:
    nvoc = S.arr_len(S.arr_distinct(S.toks(d), d), d)
    return f"""
    WITH preds AS (
        -- two independent curation gates over the same doc: rater A keeps
        -- by raw length, rater B keeps by vocabulary size.
        SELECT doc_id,
            CASE WHEN n_chars >= 150 THEN 'keep' ELSE 'drop' END AS a,
            CASE WHEN {nvoc} >= 12 THEN 'keep' ELSE 'drop' END AS b
        FROM documents
    ),
    cells AS (
        SELECT a, b, cast(count(*) as bigint) AS n
        FROM preds GROUP BY a, b
    ),
    marg AS (
        SELECT coalesce(ra.k, rb.k) AS k,
            coalesce(ra.row_n, 0) AS row_n, coalesce(rb.col_n, 0) AS col_n
        FROM (SELECT a AS k, {S.isum('n', d)} AS row_n FROM cells GROUP BY a) ra
        FULL OUTER JOIN
             (SELECT b AS k, {S.isum('n', d)} AS col_n FROM cells GROUP BY b) rb
            ON rb.k = ra.k
    ),
    tot AS (
        SELECT {S.isum('n', d)} AS nn,
            {S.isum('CASE WHEN a = b THEN n ELSE 0 END', d)} AS agree
        FROM cells
    ),
    ee AS (
        SELECT {S.isum('row_n * col_n', d)} AS chance FROM marg
    )
    SELECT tot.nn AS n_docs,
        round(cast(tot.agree as double) / cast(tot.nn as double), 6)
            AS observed_agree,
        round(cast(ee.chance as double) / cast(tot.nn * tot.nn as double), 6)
            AS expected_agree,
        -- nullif: when both raters give every doc ONE verdict (degenerate
        -- corpus), expected agreement is 1 and n^2 - chance = 0 — kappa
        -- is undefined, NULL on both engines, not an ANSI divide error
        round(cast(tot.nn * tot.agree - ee.chance as double)
            / cast(nullif(tot.nn * tot.nn - ee.chance, 0) as double), 6)
            AS kappa
    FROM tot, ee
    """


pair(
    "eval_cohens_kappa",
    _cohens_kappa,
    tags=("eval", "text"),
    doc="Cohen's kappa between two independent curation gates (keep-by-"
    "length vs keep-by-vocabulary) — the chance-corrected agreement "
    "scalar that tells a pipeline whether its quality filters are "
    "redundant (kappa near 1), complementary (near 0), or contradictory "
    "(negative): kappa = (n*agree - sum_k row_k*col_k) / (n^2 - sum_k "
    "row_k*col_k), computed entirely from integer confusion-cell counts "
    "and marginals (two hash-aggs over the cell grid, one full-outer "
    "marginal join on the tiny class set), with exactly one "
    "integer-exact division at the end.",
)


# ---------------------------------------------------------------------------
# Newman modularity of the LPA communities (integer-exact quality score)
# ---------------------------------------------------------------------------


def _lpa_labels(d: str, edges: str) -> str:
    """(node, label): the 2-round LPA assignment over the edge core."""
    body, prev = _lpa_chain(d, edges)
    return f"WITH {body} SELECT node, label FROM {prev}"


def _modularity(d: str, edges: str, labels: str) -> str:
    # ``edges`` and the final ``labels`` are shared: the label table's three
    # consumers (intra x2, dsum) would each replay the two vote rounds
    # otherwise (33 -> 12 Exchanges measured at sf0.1).
    return f"""
    WITH edges AS ({edges}),
    lfinal AS ({labels}),
    deg AS (
        SELECT u AS node, cast(count(*) as bigint) AS dg
        FROM (SELECT u, v FROM edges
              UNION ALL SELECT v AS u, u AS v FROM edges) sym
        GROUP BY u
    ),
    mm AS (SELECT cast(count(*) as bigint) AS m FROM edges),
    intra AS (
        SELECT lu.label AS community, cast(count(*) as bigint) AS m_c
        FROM edges e
        JOIN lfinal lu ON lu.node = e.u
        JOIN lfinal lv ON lv.node = e.v
        WHERE lu.label = lv.label
        GROUP BY lu.label
    ),
    dsum AS (
        SELECT lab.label AS community,
            cast(count(*) as bigint) AS n_members,
            {S.isum('deg.dg', d)} AS d_c
        FROM lfinal lab JOIN deg ON deg.node = lab.node
        GROUP BY lab.label
    ),
    parts AS (
        -- integer modularity numerator per community:
        --   Q_c = (4*m*m_c - d_c^2) / (4*m^2); everything but the final
        -- divide stays exact bigint, and the global Q is a window sum of
        -- the integer numerators over the community GRID.
        SELECT ds.community, ds.n_members,
            coalesce(i.m_c, 0) AS m_c, ds.d_c, mm.m,
            4 * mm.m * coalesce(i.m_c, 0) - ds.d_c * ds.d_c AS num_c,
            cast(sum(4 * mm.m * coalesce(i.m_c, 0) - ds.d_c * ds.d_c)
                OVER () as bigint) AS num_tot
        FROM dsum ds
        LEFT JOIN intra i ON i.community = ds.community
        CROSS JOIN mm
    )
    SELECT community, n_members, m_c AS intra_edges, d_c AS degree_sum,
        round(cast(num_c as double) / cast(4 * m * m as double), 6)
            AS q_contrib,
        round(cast(num_tot as double) / cast(4 * m * m as double), 6)
            AS q_total
    FROM parts
    ORDER BY n_members DESC, community
    LIMIT 20
    """


pair(
    "graph_community_modularity",
    _modularity,
    shared={"edges": _lpa_edges, "labels": _lpa_labels},
    tags=("graph", "iterative", "eval"),
    doc="Newman modularity of the 2-round LPA communities — the quality "
    "score that says whether detected wallet clusters are real structure "
    "or noise: Q = sum_c (m_c/m - (d_c/2m)^2), evaluated as the integer "
    "numerator (4*m*m_c - d_c^2) per community with ONE double division "
    "at the end, so both engines agree bit-for-bit. Intra-community "
    "edges come from two equi-joins of the edge list against the label "
    "table, degrees from one hash-agg over the symmetric adjacency, and "
    "the global Q is a window sum over the community GRID (metadata "
    "scale). The builder localCheckpoints BOTH the edge table and the "
    "final label assignment (its three consumers — intra x2, dsum — "
    "would each replay the two vote rounds otherwise; 33 -> 12 "
    "Exchanges measured at sf0.1).",
)


# ---------------------------------------------------------------------------
# Brier score (probability accuracy companion to the calibration curve)
# ---------------------------------------------------------------------------


def _brier(d: str) -> str:
    # p = s / max_s on the distinct-cents grid; per-grid-row contribution
    # pos*(p-1)^2 + (c-pos)*p^2 is one deterministic double expression over
    # exact integers, 9-dp-quantized into the decimal sum.
    # nullif(m, 0): a slice whose only value is 0 cents has a 0 max —
    # NULL probability (and NULL score) on both engines, not a 0/0 error
    p = "(cast(s as double) / cast(nullif(m, 0) as double))"
    term = (
        f"round(cast(pos as double) * ({p} - 1) * ({p} - 1)"
        f" + cast(c - pos as double) * {p} * {p}, 9)"
    )
    return f"""
    WITH sl AS (
        SELECT {_CENTS} AS s,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    g AS (
        SELECT s, cast(count(*) as bigint) AS c, {S.isum('y', d)} AS pos
        FROM sl GROUP BY s
    ),
    mg AS (
        SELECT s, c, pos, max(s) OVER () AS m FROM g
    ),
    agg AS (
        SELECT {S.isum('c', d)} AS n, {S.isum('pos', d)} AS np,
            {S.dsum(term, d)} AS sq
        FROM mg
    )
    SELECT n AS n_events, np AS n_pos,
        round(sq / cast(n as double), 6) AS brier,
        round(cast(np as double) / cast(n as double)
            * (1 - cast(np as double) / cast(n as double)), 6)
            AS brier_baseline,
        round(1 - (sq / cast(n as double))
            / nullif(cast(np as double) / cast(n as double)
               * (1 - cast(np as double) / cast(n as double)),
               cast(0 as double)), 6)
            AS brier_skill
    FROM agg
    """


pair(
    "eval_brier_score",
    _brier,
    tags=("eval", "mlprep"),
    doc="Brier score of 'normalized event value as purchase probability' "
    "plus the climatology baseline p_base*(1-p_base) and the skill score "
    "1 - BS/BS_base — the proper-scoring companion to "
    "eval_calibration_bins (calibration shows WHERE the signal is off, "
    "Brier says HOW MUCH it costs overall). Grid-aggregated: per "
    "distinct-cents row one 9-dp-quantized squared-error term weighted "
    "by its positive/negative counts, decimal-summed, two final "
    "divisions.",
)


# ---------------------------------------------------------------------------
# VPIN order-flow toxicity (volume-bucketed tick-rule imbalance)
# ---------------------------------------------------------------------------

_VPIN_BUCKET = 50_000  # cents of volume per bucket


def _vpin(d: str) -> str:
    e = S.epoch_s("ts", d)
    lv = (
        "last_value(dir0) IGNORE NULLS"
        if d == SPARK
        else "last_value(dir0 IGNORE NULLS)"
    )
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    prev = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    term = (
        "round(cast(abs(buy_v - sell_v) as double)"
        " / cast(buy_v + sell_v as double), 9)"
    )
    return f"""
    WITH ordered AS (
        SELECT event_type, event_id, {e} AS es, {_CENTS} AS v,
            {_CENTS} - lag({_CENTS}) OVER (
                PARTITION BY event_type ORDER BY {e}, event_id) AS dv
        FROM events WHERE value IS NOT NULL AND value > 0
    ),
    signed AS (
        SELECT event_type, event_id, es, v,
            CASE WHEN dv > 0 THEN 1 WHEN dv < 0 THEN -1 END AS dir0
        FROM ordered
    ),
    directed AS (
        -- tick rule: zero changes and the first trade inherit the last
        -- nonzero direction (initial direction pinned to +1).
        SELECT event_type, v,
            coalesce({lv} OVER (
                PARTITION BY event_type ORDER BY es, event_id {frame}), 1)
                AS dir,
            coalesce(cast(sum(v) OVER (
                PARTITION BY event_type ORDER BY es, event_id {prev})
                as bigint), 0) AS cum_before
        FROM signed
    ),
    buckets AS (
        SELECT event_type, {S.idiv('cum_before', str(_VPIN_BUCKET), d)} AS bkt,
            {S.isum('CASE WHEN dir = 1 THEN v ELSE 0 END', d)} AS buy_v,
            {S.isum('CASE WHEN dir = -1 THEN v ELSE 0 END', d)} AS sell_v
        FROM directed
        GROUP BY event_type, {S.idiv('cum_before', str(_VPIN_BUCKET), d)}
    )
    SELECT event_type,
        cast(count(*) as bigint) AS n_buckets,
        {S.isum('buy_v + sell_v', d)} AS total_volume_cents,
        round({S.dsum(term, d)} / cast(count(*) as double), 6) AS vpin
    FROM buckets
    GROUP BY event_type
    ORDER BY event_type
    """


pair(
    "window_vpin_toxicity",
    _vpin,
    tags=("window", "series", "domain"),
    doc="VPIN order-flow toxicity (Easley, Lopez de Prado & O'Hara): trades "
    "are signed by the tick rule (zero changes inherit the last nonzero "
    "direction via an IGNORE NULLS running last_value), grouped into "
    f"fixed {_VPIN_BUCKET}-cent volume buckets by the running volume "
    "before each trade, and VPIN is the mean |buy - sell| / total "
    "imbalance across buckets — the flow-toxicity alarm that spikes "
    "under the one-sided dumping a rugpull produces. Everything is "
    "integer cents until the per-bucket imbalance ratio (9-dp-quantized "
    "into the decimal mean); windows partition by event_type and order "
    "by the deterministic (ts, event_id).",
)


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test (are the daily residuals white noise?)
# ---------------------------------------------------------------------------


def _ljung_box(d: str) -> str:
    e = S.epoch_s("ts", d)
    w = "PARTITION BY daily.event_type ORDER BY daily.di"
    # centered co-moment terms quantized to 9 dp before the decimal sum;
    # the mean itself is an exact-integer division (identical IEEE).
    def num(k: int) -> str:
        return S.dsum(
            f"round((cast(y as double) - m) * (cast(y{k} as double) - m), 9)", d
        )
    den = S.dsum("round((cast(y as double) - m) * (cast(y as double) - m), 9)", d)
    rsq = " + ".join(
        f"round((n{k} / nullif(dn, 0)) * (n{k} / nullif(dn, 0))"
        f" / cast(n - {k} as double), 9)"
        for k in (1, 2, 3)
    )
    return f"""
    WITH daily AS (
        SELECT event_type, {S.idiv(e, '86400', d)} AS di,
            {S.isum(_CENTS, d)} AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {S.idiv(e, '86400', d)}
    ),
    stats AS (
        SELECT event_type,
            cast(count(*) as bigint) AS n,
            cast({S.isum('y', d)} as double) / cast(count(*) as double) AS m
        FROM daily GROUP BY event_type
    ),
    lagged AS (
        SELECT daily.event_type, daily.y, st.n, st.m,
            lag(daily.y, 1) OVER ({w}) AS y1,
            lag(daily.y, 2) OVER ({w}) AS y2,
            lag(daily.y, 3) OVER ({w}) AS y3
        FROM daily JOIN stats st ON st.event_type = daily.event_type
    ),
    moments AS (
        SELECT event_type, max(n) AS n,
            {num(1)} AS n1, {num(2)} AS n2, {num(3)} AS n3,
            {den} AS dn
        FROM lagged
        GROUP BY event_type
        HAVING max(n) > 4
    )
    SELECT event_type, cast(n as bigint) AS n_days,
        round(n1 / nullif(dn, 0), 6) AS acf1,
        round(n2 / nullif(dn, 0), 6) AS acf2,
        round(n3 / nullif(dn, 0), 6) AS acf3,
        round(cast(n as double) * (cast(n as double) + 2) * ({rsq}), 6)
            AS q_ljung_box
    FROM moments
    ORDER BY event_type
    """


pair(
    "window_ljung_box",
    _ljung_box,
    tags=("window", "series", "eval"),
    doc="Ljung-Box portmanteau test on each type's daily value series "
    "(lags 1-3): Q = n(n+2) * sum r_k^2/(n-k), with the textbook "
    "full-series-mean autocorrelations — the white-noise screen run on "
    "residuals after window_holt_linear / agg_linreg_daily detrending "
    "decide whether structure remains. One window pass computes all "
    "three lag columns on the calendar-bounded daily grid; centered "
    "co-moment terms are 9-dp-quantized into decimal sums, the mean is "
    "an exact-integer division, and each Q addend is re-quantized so "
    "both engines agree bit-for-bit.",
)


# ---------------------------------------------------------------------------
# Simpson's paradox screen (does the aggregate A/B direction reverse?)
# ---------------------------------------------------------------------------


def _simpson_cells_core(d: str) -> str:
    """The stratum x arm conversion grid — the ONE fact pass."""
    return f"""
    WITH base AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
            CASE WHEN {_CENTS} >= 500 THEN 'high' ELSE 'low' END AS stratum,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    )
    SELECT stratum, arm, cast(count(*) as bigint) AS n,
        {S.isum('y', d)} AS conv
    FROM base GROUP BY stratum, arm
    """


def _simpson(d: str, cells: str) -> str:
    # The conversion grid is a shared core: inlined, wide's two UNION
    # branches each re-ran the fact hash-agg (4 fact scans planned —
    # the round-11 registry-wide plan audit).
    return f"""
    WITH cells AS ({cells}),
    wide AS (
        SELECT stratum,
            {S.isum("CASE WHEN arm = 'A' THEN n ELSE 0 END", d)} AS n_a,
            {S.isum("CASE WHEN arm = 'A' THEN conv ELSE 0 END", d)} AS c_a,
            {S.isum("CASE WHEN arm = 'B' THEN n ELSE 0 END", d)} AS n_b,
            {S.isum("CASE WHEN arm = 'B' THEN conv ELSE 0 END", d)} AS c_b
        FROM cells GROUP BY stratum
        UNION ALL
        SELECT 'TOTAL',
            {S.isum("CASE WHEN arm = 'A' THEN n ELSE 0 END", d)},
            {S.isum("CASE WHEN arm = 'A' THEN conv ELSE 0 END", d)},
            {S.isum("CASE WHEN arm = 'B' THEN n ELSE 0 END", d)},
            {S.isum("CASE WHEN arm = 'B' THEN conv ELSE 0 END", d)}
        FROM cells
    ),
    signed AS (
        -- rate comparison by integer cross-multiplication: never a float.
        SELECT stratum, n_a, c_a, n_b, c_b,
            CASE WHEN c_a * n_b > c_b * n_a THEN 1
                 WHEN c_a * n_b < c_b * n_a THEN -1 ELSE 0 END AS dir
        FROM wide
    )
    SELECT s.stratum, s.n_a, s.c_a, s.n_b, s.c_b,
        -- nullif: an arm absent from a stratum has no rate — NULL on
        -- both engines (the integer cross-multiplied dir still works)
        round(cast(s.c_a as double)
            / cast(nullif(s.n_a, 0) as double), 6) AS rate_a,
        round(cast(s.c_b as double)
            / cast(nullif(s.n_b, 0) as double), 6) AS rate_b,
        s.dir,
        cast(max(CASE WHEN s2.stratum = 'TOTAL' THEN s2.dir END) as int)
            AS total_dir,
        cast(CASE WHEN max(CASE WHEN s2.stratum = 'TOTAL' THEN s2.dir END)
                   * min(CASE WHEN s2.stratum <> 'TOTAL' THEN s2.dir END) < 0
              AND min(CASE WHEN s2.stratum <> 'TOTAL' THEN s2.dir END)
                = max(CASE WHEN s2.stratum <> 'TOTAL' THEN s2.dir END)
             THEN 1 ELSE 0 END as int) AS simpson_flag
    FROM signed s CROSS JOIN signed s2
    GROUP BY s.stratum, s.n_a, s.c_a, s.n_b, s.c_b, s.dir
    ORDER BY s.stratum
    """


pair(
    "profile_simpson_paradox",
    _simpson,
    shared={"cells": _simpson_cells_core},
    tags=("profiling", "eval"),
    doc="Simpson's-paradox screen on the A/B split (user parity) of "
    "purchase conversion, stratified by value band: per-stratum and "
    "aggregate rate comparisons are INTEGER cross-multiplications (never "
    "a float compare), and simpson_flag fires when every stratum agrees "
    "on one direction while the aggregate points the other way — the "
    "aggregation bias every experiment readout must rule out before "
    "trusting a pooled rate. The stratum grid is a handful of rows, so "
    "the self-cross-join for the flag is metadata-scale. The conversion "
    "grid is localCheckpointed so its consumers share ONE fact scan.",
)

# ---------------------------------------------------------------------------
# Lead-lag cross-correlation between event-type value series
# ---------------------------------------------------------------------------


def _crosscorr(d: str) -> str:
    e = S.epoch_s("ts", d)
    di = S.idiv(e, "86400", d)
    seq = S.explode_seq("k", "1", "5", d)
    sx = "cast(sum(cast(x as decimal(38,9))) as double)"
    sy = "cast(sum(cast(y as decimal(38,9))) as double)"
    sxy = "cast(sum(cast(x * y as decimal(38,9))) as double)"
    sxx = "cast(sum(cast(x * x as decimal(38,9))) as double)"
    syy = "cast(sum(cast(y * y as decimal(38,9))) as double)"
    n = "cast(count(*) as double)"
    zero = "cast(0 as double)"
    return f"""
    WITH daily AS (
        SELECT event_type, {di} AS di,
            cast({S.isum(_CENTS, d)} as double) / cast(100 as double) AS v
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, {di}
    ),
    lags AS (
        SELECT k - 3 AS lag FROM (SELECT 1 AS one) o {seq}
    ),
    shifted AS (
        -- probe side: each (type, day) sample replicated across the 5-lag
        -- grid; the target day di + lag becomes the equi-join key.
        SELECT a.event_type AS type_a, a.v AS x, l.lag, a.di + l.lag AS dj
        FROM daily a CROSS JOIN lags l
    ),
    matched AS (
        SELECT s.type_a, b.event_type AS type_b, s.lag, s.x, b.v AS y
        FROM shifted s
        JOIN daily b ON b.di = s.dj
        WHERE s.type_a < b.event_type
    )
    SELECT type_a, type_b, lag,
        cast(count(*) as bigint) AS n_days,
        round(({n} * {sxy} - {sx} * {sy})
            / nullif(sqrt(greatest({n} * {sxx} - {sx} * {sx}, {zero})
                        * greatest({n} * {syy} - {sy} * {sy}, {zero})),
                {zero}), 6) AS xcorr_r
    FROM matched
    GROUP BY type_a, type_b, lag
    HAVING count(*) >= 8
    ORDER BY type_a, type_b, lag
    """


pair(
    "window_crosscorr_leadlag",
    _crosscorr,
    tags=("window", "series", "eval"),
    doc="Lead-lag cross-correlation: Pearson r between every ordered "
    "event-type pair's daily value series at lags -2..+2 days — the "
    "lead-lag discovery screen (does click volume LEAD purchase volume?) "
    "that window_acf_lags cannot answer because autocorrelation is "
    "single-series. The daily grid is one hash-agg; the 5-row lag grid "
    "replicates the probe side (allowlisted literal cross join) and "
    "di + lag is an equi-join key, so the alignment is a hash join on the "
    "day index, never a window over raw rows. Co-moments follow the "
    "agg_series_correlation discipline: 9-dp-quantized decimal sums, one "
    "final sqrt/divide in double, zero-variance pairs NULLed via nullif.",
)


# ---------------------------------------------------------------------------
# Jensen-Shannon vocabulary drift: each source vs the rest of the corpus
# ---------------------------------------------------------------------------


def _jsd_counts(d: str) -> str:
    """(source, tok, c) token counts — the shared table every JSD CTE reads."""
    toks = S.split_ws("text", d)
    if d == SPARK:
        tok = f"SELECT source, explode({toks}) AS tok FROM documents"
    else:
        tok = f"SELECT source, unnest({toks}) AS tok FROM documents"
    return (
        f"SELECT source, tok, cast(count(*) as bigint) AS c"
        f" FROM ({tok}) t GROUP BY source, tok"
    )


def _jsd_drift(d: str, sc: str) -> str:
    ln2 = "ln(cast(2 as double))"
    # term_p handles q = 0 naturally (ln(2p/p) = ln 2, no /0: p > 0 on
    # every (source, tok) row); term_q needs the q > 0 guard.
    term_p = f"round(p * ln(cast(2 as double) * p / (p + q)), 9)"
    term_q = (
        "round(CASE WHEN q > cast(0 as double) "
        f"THEN q * ln(cast(2 as double) * q / (p + q)) "
        "ELSE cast(0 as double) END, 9)"
    )
    return f"""
    WITH sc AS ({sc}),
    corpus AS (
        SELECT tok, {S.isum('c', d)} AS ct FROM sc GROUP BY tok
    ),
    nsrc AS (
        SELECT source, {S.isum('c', d)} AS ns FROM sc GROUP BY source
    ),
    ntot AS (SELECT {S.isum('c', d)} AS nt FROM sc),
    terms AS (
        SELECT sc.source, sc.c, nsrc.ns,
            cast(sc.c as double) / cast(nsrc.ns as double) AS p,
            cast(corpus.ct - sc.c as double)
                / cast(nullif(ntot.nt - nsrc.ns, 0) as double) AS q
        FROM sc
        JOIN corpus ON corpus.tok = sc.tok
        JOIN nsrc ON nsrc.source = sc.source
        CROSS JOIN ntot
    )
    SELECT source,
        cast(max(ns) as bigint) AS n_tok,
        cast(count(*) as bigint) AS n_types,
        round(cast(0.5 as double) * ({S.dsum(term_p, d)} + {S.dsum(term_q, d)})
            + cast(0.5 as double) * {ln2}
                * (cast(1 as double) - {S.dsum('round(q, 9)', d)}), 6)
            AS jsd_vs_rest
    FROM terms
    GROUP BY source
    ORDER BY source
    """


pair(
    "profile_jsd_source_drift",
    _jsd_drift,
    shared={"sc": _jsd_counts},
    tags=("profiling", "text", "quality"),
    doc="Jensen-Shannon vocabulary drift, each source vs the REST of the "
    "corpus: the text-level complement of profile_drift_psi/ks (which "
    "screen numeric columns) — a source whose token distribution drifts "
    "from the corpus mix is the first suspect when a training-data "
    "refresh regresses. Computed WITHOUT materializing absent tokens: "
    "JSD = 0.5*sum_p-terms + 0.5*sum_q-terms over the source's own vocab "
    "plus a closed-form 0.5*ln2*(1 - sum q) correction for the rest-mass "
    "the source never covers, so the plan is one (source, token) hash-agg "
    "(map-side combinable, localCheckpointed ONCE — its four CTE "
    "consumers would otherwise each re-run the tokenize), a corpus re-agg "
    "riding the same token key, one equi-join on token, and O(sources) "
    "output. Each transcendental term is 9-dp-quantized into decimal "
    "sums per the standing fp discipline; p and q are exact "
    "integer-ratio doubles.",
)


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (with tau-b and the normal approximation z)
# ---------------------------------------------------------------------------


def _mk_daily(d: str) -> str:
    """(event_type, di, v) daily grid — the table every MK CTE reads."""
    e = S.epoch_s("ts", d)
    di = S.idiv(e, "86400", d)
    return (
        f"SELECT event_type, {di} AS di, {S.isum(_CENTS, d)} AS v"
        f" FROM events WHERE value IS NOT NULL"
        f" GROUP BY event_type, {di}"
    )


def _mann_kendall(d: str, daily: str) -> str:
    return f"""
    WITH daily AS ({daily}),
    pairs AS (
        SELECT a.event_type,
            CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END
                AS sgn,
            CASE WHEN b.v = a.v THEN 1 ELSE 0 END AS tie
        FROM daily a
        JOIN daily b ON b.event_type = a.event_type AND b.di > a.di
    ),
    st AS (
        SELECT event_type, {S.isum('sgn', d)} AS s, {S.isum('tie', d)} AS n1
        FROM pairs GROUP BY event_type
    ),
    nd AS (
        SELECT event_type, cast(count(*) as bigint) AS n
        FROM daily GROUP BY event_type
    ),
    tievar AS (
        -- sum over tied-value groups of t(t-1)(2t+5), for var(S)
        SELECT event_type,
            {S.isum('t * (t - 1) * (2 * t + 5)', d)} AS tv
        FROM (
            SELECT event_type, v, cast(count(*) as bigint) AS t
            FROM daily GROUP BY event_type, v
        ) g WHERE t > 1
        GROUP BY event_type
    )
    SELECT st.event_type, nd.n AS n_days, st.s AS s_stat,
        round(cast(st.s as double)
            / nullif(sqrt(cast({S.idiv('nd.n * (nd.n - 1)', '2', d)} - st.n1
                        as double)
                    * cast({S.idiv('nd.n * (nd.n - 1)', '2', d)} as double)),
                cast(0 as double)), 6) AS tau_b,
        round((cast(st.s as double)
                - cast(CASE WHEN st.s > 0 THEN 1
                            WHEN st.s < 0 THEN -1 ELSE 0 END as double))
            / nullif(sqrt(cast(nd.n * (nd.n - 1) * (2 * nd.n + 5)
                        - coalesce(tv.tv, 0) as double)
                    / cast(18 as double)), cast(0 as double)), 6) AS z_mk
    FROM st
    JOIN nd ON nd.event_type = st.event_type
    LEFT JOIN tievar tv ON tv.event_type = st.event_type
    WHERE nd.n > 4
    ORDER BY st.event_type
    """


pair(
    "window_mann_kendall",
    _mann_kendall,
    shared={"daily": _mk_daily},
    tags=("window", "series", "eval"),
    doc="Mann-Kendall monotonic-trend test on each type's daily value "
    "series: S = sum of pair signs, tie-corrected Kendall tau-b, and the "
    "continuity-corrected normal z — the nonparametric significance "
    "screen read next to window_theil_sen's slope (Theil-Sen says HOW "
    "steep, Mann-Kendall says WHETHER to believe it). Everything is "
    "exact-integer until the final sqrt/divide: pair signs, tie-pair "
    "counts, and the 18*var(S) polynomial n(n-1)(2n+5) - sum t(t-1)(2t+5) "
    "are all bigint. The daily grid is localCheckpointed ONCE (four CTE "
    "consumers); the pair build is a self equi-join on event_type over "
    "that grid — bounded by the calendar domain, never raw rows, the "
    "same bounded-grid convention as window_theil_sen.",
)


# ---------------------------------------------------------------------------
# McNemar's paired-classifier test
# ---------------------------------------------------------------------------

_MCN_T_A = 500  # classifier A: value >= 5.00
_MCN_T_B = 2000  # classifier B: value >= 20.00


def _mcnemar(d: str) -> str:
    return f"""
    WITH sl AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
            CASE WHEN {_CENTS} >= {_MCN_T_A} THEN 1 ELSE 0 END AS pa,
            CASE WHEN {_CENTS} >= {_MCN_T_B} THEN 1 ELSE 0 END AS pb
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT cast(count(*) as bigint) AS n,
            {S.isum('CASE WHEN pa = y THEN 1 ELSE 0 END', d)} AS right_a,
            {S.isum('CASE WHEN pb = y THEN 1 ELSE 0 END', d)} AS right_b,
            {S.isum('CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END', d)}
                AS b_only_b,
            {S.isum('CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END', d)}
                AS c_only_a
        FROM sl
    )
    SELECT n, right_a, right_b, b_only_b, c_only_a,
        round(cast((b_only_b - c_only_a) * (b_only_b - c_only_a) as double)
            / cast(nullif(b_only_b + c_only_a, 0) as double), 6)
            AS mcnemar_chi2,
        round(cast(greatest(abs(b_only_b - c_only_a) - 1, 0)
                 * greatest(abs(b_only_b - c_only_a) - 1, 0) as double)
            / cast(nullif(b_only_b + c_only_a, 0) as double), 6)
            AS mcnemar_cc
    FROM m
    """


pair(
    "eval_mcnemar_paired",
    _mcnemar,
    tags=("eval",),
    doc="McNemar's test comparing two threshold classifiers on the SAME "
    "rows (paired design): only the discordant counts b (A wrong, B "
    "right) and c (A right, B wrong) carry signal — the marginal-accuracy "
    "comparison eval_ab_ztest runs is WRONG for paired predictions "
    "because it ignores the correlation. Plain and Edwards "
    "continuity-corrected statistics, all counts exact integers from one "
    "map-side-combinable aggregation, single final division; b = c "
    "degenerates to 0 via greatest(), b + c = 0 to NULL via nullif.",
)


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth V(N) = K * N^beta
# ---------------------------------------------------------------------------


def _heaps_tokens(d: str) -> str:
    """(doc_id, tok) one row per token occurrence — shared by both aggs."""
    toks = S.split_ws("text", d)
    if d == SPARK:
        return f"SELECT doc_id, explode({toks}) AS tok FROM documents"
    return f"SELECT doc_id, unnest({toks}) AS tok FROM documents"


def _heaps_doc_m(d: str, tok: str) -> str:
    return (
        f"WITH tok AS ({tok}) "
        "SELECT doc_id, cast(count(*) as bigint) AS m FROM tok GROUP BY doc_id"
    )


def _heaps_first(d: str, tok: str) -> str:
    return (
        f"WITH tok AS ({tok}) "
        "SELECT tok, cast(min(doc_id) as bigint) AS fd FROM tok GROUP BY tok"
    )


def _heaps_fit(d: str, doc_m: str, first: str) -> str:
    # Shared: the token table (read by both aggs), doc_m (three consumers)
    # and first_occ (the vocab side of the vocab x checkpoint cross join).
    x = "round(ln(cast(cum_n as double)), 9)"
    y = "round(ln(cast(cum_v as double)), 9)"
    n = "cast(count(*) as double)"
    sx = S.dsum(x, d)
    sy = S.dsum(y, d)
    sxy = S.dsum(f"round(({x}) * ({y}), 9)", d)
    sxx = S.dsum(f"round(({x}) * ({x}), 9)", d)
    slope = f"(({n} * {sxy} - {sx} * {sy}) / nullif({n} * {sxx} - {sx} * {sx}, cast(0 as double)))"
    return f"""
    WITH doc_m AS ({doc_m}),
    ordered AS (
        SELECT doc_id, m,
            row_number() OVER (ORDER BY doc_id) AS rk,
            cast(sum(m) OVER (ORDER BY doc_id) as bigint) AS cum_n
        FROM doc_m
    ),
    dtot AS (SELECT cast(count(*) as bigint) AS nd FROM doc_m),
    checkpoints AS (
        -- 8 evenly spaced corpus prefixes (every ceil(D/8)-th doc)
        SELECT o.doc_id, o.rk, o.cum_n
        FROM ordered o CROSS JOIN dtot
        WHERE o.rk % {S.idiv('dtot.nd + 7', '8', d)} = 0
    ),
    first_occ AS ({first}),
    vgrid AS (
        -- vocab x 8-row checkpoint grid: V(prefix) = tokens first seen in it
        SELECT c.rk, c.cum_n,
            {S.isum('CASE WHEN f.fd <= c.doc_id THEN 1 ELSE 0 END', d)}
                AS cum_v
        FROM first_occ f CROSS JOIN checkpoints c
        GROUP BY c.rk, c.cum_n
    )
    SELECT cast(count(*) as bigint) AS n_checkpoints,
        round({slope}, 6) AS beta_heaps,
        round(({sy} - {slope} * {sx}) / {n}, 6) AS ln_k_heaps
    FROM vgrid
    WHERE cum_v > 0 AND cum_n > 0
    """


pair(
    "profile_heaps_law",
    _heaps_fit,
    shared={"tok": _heaps_tokens, "doc_m": _heaps_doc_m, "first": _heaps_first},
    tags=("profiling", "text"),
    doc="Heaps'-law fit V(N) = K*N^beta of vocabulary growth against "
    "corpus size — the second corpus law next to text_zipf_fit: healthy "
    "natural-language mixes grow vocabulary with beta in ~0.4-0.6, while "
    "template/boilerplate floods flatten the curve and ID/hash floods "
    "push it toward 1. Computed without any cumulative-distinct pass: "
    "each token's FIRST document (one hash-agg over the localCheckpointed "
    "token table) turns V(prefix) into a count of first-occurrences "
    "inside the prefix, evaluated on an 8-row checkpoint grid (the "
    "allowlisted vocab x 8 cross join); the least-squares fit runs on 8 "
    "points with 9-dp-quantized log terms. The doc-order cumsum windows "
    "run over the DOC-COUNT grid, not tokens; at 100 TB the rank-based "
    "checkpoint picker would switch to approx doc_id quantiles (the "
    "corpus-prefix definition is inherently ordered — the single-pass "
    "first-occurrence trick is what removes the O(N) cumulative-distinct "
    "scan, which is the part that cannot scale).",
)


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------


def _hurst_rs(d: str) -> str:
    pb = "PARTITION BY event_type, w, b"
    zc = (
        f"cast(sum(cast(round(dev, 9) as decimal(38,9)))"
        f" OVER ({pb} ORDER BY rk) as double)"
    )
    lx = "round(ln(cast(w as double)), 9)"
    ly = "round(ln(ars), 9)"
    n = "cast(count(*) as double)"
    sx = S.dsum(lx, d)
    sy = S.dsum(ly, d)
    sxy = S.dsum(f"round(({lx}) * ({ly}), 9)", d)
    sxx = S.dsum(f"round(({lx}) * ({lx}), 9)", d)
    slope = (
        f"(({n} * {sxy} - {sx} * {sy})"
        f" / nullif({n} * {sxx} - {sx} * {sx}, cast(0 as double)))"
    )
    return f"""
    WITH daily AS ({_mk_daily(d)}),
    ranked AS (
        SELECT event_type, v,
            row_number() OVER (PARTITION BY event_type ORDER BY di) AS rk
        FROM daily
    ),
    scales AS (
        SELECT 8 AS w UNION ALL SELECT 16 UNION ALL SELECT 32
    ),
    cells AS (
        SELECT r.event_type, s.w, {S.idiv('r.rk - 1', 's.w', d)} AS b,
            r.rk, r.v
        FROM ranked r CROSS JOIN scales s
    ),
    blocks AS (
        SELECT event_type, w, b, rk, v,
            cast(count(*) OVER ({pb}) as bigint) AS bn,
            cast(sum(v) OVER ({pb}) as bigint) AS bs
        FROM cells
    ),
    devs AS (
        -- full blocks only; the block mean is an exact int/int ratio
        SELECT event_type, w, b, rk,
            cast(v as double) - cast(bs as double) / cast(w as double) AS dev
        FROM blocks WHERE bn = w
    ),
    z AS (
        SELECT event_type, w, b,
            {zc} AS zc,
            round(dev * dev, 9) AS dev2
        FROM devs
    ),
    rs AS (
        SELECT event_type, w, b,
            cast(max(zc) - min(zc) as double) AS r_range,
            sqrt({S.dsum('dev2', d)} / cast(w as double)) AS s_dev
        FROM z GROUP BY event_type, w, b
    ),
    avg_rs AS (
        SELECT event_type, w,
            {S.dsum('round(r_range / s_dev, 9)', d)}
                / cast(count(*) as double) AS ars
        FROM rs WHERE s_dev > 0
        GROUP BY event_type, w
    )
    SELECT event_type,
        cast(count(*) as bigint) AS n_scales,
        round({slope}, 6) AS hurst
    FROM avg_rs WHERE ars > 0
    GROUP BY event_type
    HAVING count(*) >= 2
    ORDER BY event_type
    """


pair(
    "window_hurst_rs",
    _hurst_rs,
    tags=("window", "series"),
    doc="Hurst exponent by rescaled-range analysis on each type's daily "
    "value series: split into full blocks at scales 8/16/32 days, per "
    "block R = range of the cumulative deviation walk and S = population "
    "stddev, H = log-log slope of the block-averaged R/S against scale — "
    "H>0.5 persistent (trending), H<0.5 mean-reverting, the long-memory "
    "diagnostic read next to window_acf_lags' short lags. Determinism: "
    "block sums/counts are exact integers, the cumulative deviation walk "
    "is a DECIMAL cumsum of 9-dp-quantized terms (order-independent "
    "inside the ordered window), every transcendental term re-quantized "
    "before its decimal sum. All windows partition by (type, scale, "
    "block) over the calendar-bounded daily grid; the 3-row scale grid "
    "is the allowlisted literal cross join.",
)


# ---------------------------------------------------------------------------
# Markov entropy rate of the event-transition chain
# ---------------------------------------------------------------------------


def _entropy_rate(d: str) -> str:
    # H = -sum_ij (c_ij / tot) * ln(c_ij / c_i): the empirical-occupancy
    # weighting, which IS the stationary weighting of the empirical chain.
    term = (
        "round((cast(c as double) / cast(tot as double))"
        " * ln(cast(c as double) / cast(ci as double)), 9)"
    )
    return f"""
    WITH pairs AS (
        SELECT prev, event_type AS nxt
        FROM (
            SELECT event_type,
                lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events
        ) t WHERE prev IS NOT NULL
    ),
    cells AS (
        SELECT prev, nxt, cast(count(*) as bigint) AS c
        FROM pairs GROUP BY prev, nxt
    ),
    rows_ AS (
        -- both totals as windows over the state-squared cell grid
        SELECT prev, nxt, c,
            cast(sum(c) OVER (PARTITION BY prev) as bigint) AS ci,
            cast(sum(c) OVER () as bigint) AS tot
        FROM cells
    )
    SELECT cast(sum(c) as bigint) AS n_transitions,
        cast(count(DISTINCT prev) as bigint) AS n_states,
        round(-({S.dsum(term, d)}), 6) AS entropy_rate_nats,
        round(-({S.dsum(term, d)})
            / nullif(ln(cast(nullif(count(DISTINCT prev), 0) as double)),
                cast(0 as double)), 6)
            AS entropy_rate_norm
    FROM rows_
    """


pair(
    "events_entropy_rate",
    _entropy_rate,
    tags=("events", "eval"),
    doc="Entropy rate of the user event-transition Markov chain, "
    "empirical-occupancy weighted: H = -sum (c_ij/total)*ln(c_ij/c_i) in "
    "nats plus the ln(n_states)-normalized form — how PREDICTABLE the "
    "next event is given the current one, the information-theoretic "
    "summary of events_transition_matrix (near 0 = deterministic flows, "
    "near 1 = uniform wandering; bot traffic and scripted rug flows sit "
    "at the extremes). One lag window pass, one hash-agg to the "
    "state-squared cell grid, totals as windows over that grid; each "
    "transcendental term 9-dp-quantized into the decimal sum.",
)


# ---------------------------------------------------------------------------
# Permutation entropy (Bandt-Pompe ordinal complexity) of the daily series
# ---------------------------------------------------------------------------


def _perm_entropy(d: str) -> str:
    w = "PARTITION BY event_type ORDER BY rk"
    # ordinal ranks of the (v1, v2, v3) triple with POSITION tie-break:
    # for an earlier element, ties count as smaller (<=); for a later one,
    # strictly smaller (<) — every comparison is on exact integers.
    r1 = ("(CASE WHEN v2 < v1 THEN 1 ELSE 0 END"
          " + CASE WHEN v3 < v1 THEN 1 ELSE 0 END)")
    r2 = ("(CASE WHEN v1 <= v2 THEN 1 ELSE 0 END"
          " + CASE WHEN v3 < v2 THEN 1 ELSE 0 END)")
    r3 = ("(CASE WHEN v1 <= v3 THEN 1 ELSE 0 END"
          " + CASE WHEN v2 <= v3 THEN 1 ELSE 0 END)")
    term = (
        "round((cast(c as double) / cast(nt as double))"
        " * ln(cast(c as double) / cast(nt as double)), 9)"
    )
    return f"""
    WITH daily AS ({_mk_daily(d)}),
    ranked AS (
        SELECT event_type, v,
            row_number() OVER (PARTITION BY event_type ORDER BY di) AS rk
        FROM daily
    ),
    triples AS (
        SELECT event_type, v AS v1,
            lead(v, 1) OVER ({w}) AS v2,
            lead(v, 2) OVER ({w}) AS v3
        FROM ranked
    ),
    pats AS (
        SELECT event_type, {r1} * 9 + {r2} * 3 + {r3} AS pat
        FROM triples WHERE v2 IS NOT NULL AND v3 IS NOT NULL
    ),
    cells AS (
        SELECT event_type, pat, cast(count(*) as bigint) AS c
        FROM pats GROUP BY event_type, pat
    ),
    grid AS (
        SELECT event_type, pat, c,
            cast(sum(c) OVER (PARTITION BY event_type) as bigint) AS nt
        FROM cells
    )
    SELECT event_type,
        cast(max(nt) as bigint) AS n_triples,
        cast(count(*) as bigint) AS n_patterns,
        round(-({S.dsum(term, d)}), 6) AS perm_entropy_nats,
        round(-({S.dsum(term, d)}) / ln(cast(6 as double)), 6)
            AS perm_entropy_norm
    FROM grid
    GROUP BY event_type
    HAVING max(nt) >= 8
    ORDER BY event_type
    """


pair(
    "window_perm_entropy",
    _perm_entropy,
    tags=("window", "series"),
    doc="Permutation entropy (Bandt-Pompe, order 3) of each type's daily "
    "value series: the distribution of ordinal patterns of consecutive "
    "sample triples, in nats and normalized by ln 6 — the "
    "complexity-vs-determinism diagnostic that is immune to monotone "
    "value distortions (it sees only orderings). Ranks use exact integer "
    "comparisons with the standard position tie-break, so the pattern id "
    "is engine-exact; one window pass builds the triples on the "
    "calendar-bounded daily grid, one hash-agg counts the at-most-6 "
    "patterns per type, and each p*ln(p) term is 9-dp-quantized into the "
    "decimal sum.",
)


