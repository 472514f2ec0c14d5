"""Tests for the vectorized UDF surface (M4) and multimodal plumbing."""

from __future__ import annotations

import pytest

from rugpull_data_pipeline_spark.functions.udfs import (
    amm_quote_price,
    lookup_enrich,
    pct_change,
)
from rugpull_data_pipeline_spark.multimodal import (
    attach_blob_column,
    decode_image_features,
    extract_blob_metadata,
    sample_frames,
)
from tests.helpers import DOC_TEXT, _mk_docs


def test_amm_quote_price(spark):
    df = spark.createDataFrame(
        [(10.0, 2.0), (5.0, 0.0), (7.5, 2.5)], "base double, native double"
    )
    got = df.select(amm_quote_price("base", "native").alias("q")).collect()
    assert [r.q for r in got] == [5.0, None, 3.0]


def test_pct_change(spark):
    df = spark.createDataFrame([(110.0, 100.0), (90.0, 0.0)], "n double, o double")
    got = [r.c for r in df.select(pct_change("n", "o").alias("c")).collect()]
    assert got[0] == pytest.approx(0.1)
    assert got[1] is None


def test_lookup_enrich_batched_fake_http(spark):
    calls = []

    def fake_fetch(keys):
        calls.append(list(keys))
        return {
            k: {"pool_id": f"pool_{k}", "base_mint": f"mint_{k}"}
            for k in keys
            if not k.endswith("9")  # simulate unknown keys → null fields
        }

    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(30)], "addr string"
    ).coalesce(1)
    out = lookup_enrich(
        df, "addr", fake_fetch, "pool_id string, base_mint string", batch_size=10
    ).collect()
    assert len(out) == 30
    by_key = {r.addr: r for r in out}
    assert by_key["k1"].pool_id == "pool_k1"
    assert by_key["k9"].pool_id is None  # unknown key tolerated (P6-style)
    assert all(len(c) <= 10 for c in calls)  # batched like the reference API


def test_blob_metadata_jvm_side(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    meta = extract_blob_metadata(attach_blob_column(docs))
    rows = meta.collect()
    assert len(rows) == 50
    assert all(r.media_type == "image" and r.n_bytes > 0 for r in rows)


def test_decode_features_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    blobs = attach_blob_column(docs)
    a = {r.doc_id: r.features for r in decode_image_features(blobs).collect()}
    b = {r.doc_id: r.features for r in decode_image_features(blobs).collect()}
    assert a == b
    assert all(len(v) == 8 and all(0 <= x < 1 for x in v) for v in a.values())


def test_sample_frames_flatmap_shape(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    blobs = attach_blob_column(docs)
    frames = sample_frames(blobs, every_n_bytes=64).collect()
    n_bytes = {r.doc_id: r.n_bytes for r in extract_blob_metadata(blobs).collect()}
    for doc_id, nb in n_bytes.items():
        expect = max(1, -(-nb // 64))
        got = [r for r in frames if r.doc_id == doc_id]
        assert len(got) == expect
        assert sorted(r.frame_idx for r in got) == list(range(expect))


def test_resize_blobs_target_and_determinism(spark, sf_dir):
    from rugpull_data_pipeline_spark.multimodal.columns import resize_blobs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    blobs = attach_blob_column(docs)
    a = {r.doc_id: (r.out_bytes, r.resized_hash) for r in resize_blobs(blobs).collect()}
    b = {r.doc_id: (r.out_bytes, r.resized_hash) for r in resize_blobs(blobs).collect()}
    assert a == b
    n_bytes = {r.doc_id: r.n_bytes for r in extract_blob_metadata(blobs).collect()}
    for doc_id, (out, h) in a.items():
        # never larger than the target, never empty for non-empty input
        assert 0 < out <= 32
        # k-th-byte stub: output length is ceil(n / ceil(n/32))
        k = max(1, -(-n_bytes[doc_id] // 32))
        assert out == -(-n_bytes[doc_id] // k)
        assert len(h) == 32  # md5 hex


def test_multimodal_oracles_byte_exact_on_non_ascii(spark):
    """The resize/energy kernels fold UTF-8 BYTES; their oracles must agree
    even when characters are multi-byte (é, €, emoji) — the divergence the
    char-domain oracle had before it was rewritten over hex(encode(text))."""
    import duckdb
    import pandas as pd

    from rugpull_data_pipeline_spark.multimodal.columns import (
        resize_blobs,
        window_energy,
    )
    from rugpull_data_pipeline_spark.plans.multimodal_q import (
        _ENERGY_ORACLE,
        _RESIZE_ORACLE,
    )
    from rugpull_data_pipeline_spark.tmpdirs import scratch_dir

    docs = spark.createDataFrame(
        [
            (1, "héllo wörld é" * 7),          # 2-byte codepoints
            (2, "€uro sign price: 42€" * 5),   # 3-byte codepoints
            (3, "emoji \U0001f680 mix " * 9),  # 4-byte codepoint
            (4, "plain ascii baseline"),
        ],
        "doc_id long, text string",
    )
    pq = scratch_dir("nonascii_docs_") + "/documents.parquet"
    docs.coalesce(1).write.parquet(pq)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")

    src = attach_blob_column(spark.read.parquet(pq))
    for build, oracle, keys in (
        (lambda: resize_blobs(src).orderBy("doc_id"), _RESIZE_ORACLE, ["doc_id"]),
        (
            lambda: window_energy(src).orderBy("doc_id", "win_idx"),
            _ENERGY_ORACLE,
            ["doc_id", "win_idx"],
        ),
    ):
        got = build().toPandas().sort_values(keys).reset_index(drop=True)
        want = con.execute(oracle).fetchdf().sort_values(keys).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got[sorted(got.columns)], want[sorted(want.columns)], check_dtype=False
        )
    con.close()


def test_phash_words_known_pattern_and_neardup_pairing(spark):
    from rugpull_data_pipeline_spark.multimodal.columns import phash_words

    # 64 bytes: first 32 are 0xFF, last 32 are 0x00 -> blocks 0..31 sit
    # above the global mean, 32..63 at/below -> w0 = w1 = 0xFFFF, w2 = w3 = 0.
    blob = bytes([255] * 32 + [0] * 32)
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    got = {r.w: r.wv for r in phash_words(df).collect()}
    assert got == {0: 0xFFFF, 1: 0xFFFF, 2: 0, 3: 0}

    # empty payload -> all-zero words (defined, not an error)
    empty = spark.createDataFrame([(2, bytearray(b""))], "doc_id long, blob binary")
    assert {r.wv for r in phash_words(empty).collect()} == {0}


def test_phash_neardup_finds_clone_pairs(hand):
    from rugpull_data_pipeline_spark.plans.multimodal_q import (
        multimodal_phash_neardup,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    _mk_docs(
        hand,
        [(1, t1), (2, t1), (3, "zzz qqq xxx completely different text payload")],
        DOC_TEXT,
    )
    got = [
        (r.doc_a, r.doc_b, r.hamming_bits)
        for r in multimodal_phash_neardup(hand, "unused").collect()
    ]
    assert (1, 2, 0) in got  # identical payloads -> hamming 0
    assert all(a == 1 and b == 2 for a, b, _h in got) or all(
        h <= 20 for _a, _b, h in got
    )


def test_phash_words_byte_exact_on_non_ascii(spark):
    """The aHash kernel folds UTF-8 BYTES; the words the oracle's SQL
    derives from hex(encode(text)) must match bit-for-bit on multi-byte
    codepoints."""
    import duckdb
    import pandas as pd

    from rugpull_data_pipeline_spark.multimodal.columns import phash_words
    from rugpull_data_pipeline_spark.tmpdirs import scratch_dir

    docs = spark.createDataFrame(
        [
            (1, "héllo wörld é" * 7),
            (2, "€uro sign price: 42€" * 5),
            (3, "emoji \U0001f680 mix " * 9),
            (4, "plain ascii baseline"),
        ],
        "doc_id long, text string",
    )
    pq = scratch_dir("nonascii_phash_") + "/documents.parquet"
    docs.coalesce(1).write.parquet(pq)

    from rugpull_data_pipeline_spark.multimodal.columns import attach_blob_column

    got = (
        phash_words(attach_blob_column(spark.read.parquet(pq)))
        .toPandas()
        .sort_values(["doc_id", "w"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = con.execute(
        """
        WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                octet_length(encode(text)) AS nb FROM documents),
        bytes AS (SELECT doc_id, nb, i,
                cast(('0x' || substring(h, cast(2*i+1 as int), 2)) as bigint) AS v,
                cast((i * 64) // nb as int) AS blk
            FROM b, unnest(range(0, nb)) AS t(i) WHERE nb > 0),
        blocks AS (SELECT doc_id, nb, blk, sum(v) AS bs, count(*) AS bl
            FROM bytes GROUP BY 1, 2, 3),
        tot AS (SELECT doc_id, sum(v) AS ts FROM bytes GROUP BY 1),
        bits AS (SELECT bl.doc_id, bl.blk,
                CASE WHEN bl.bs * bl.nb > t.ts * bl.bl THEN 1 ELSE 0 END AS bit
            FROM blocks bl JOIN tot t USING (doc_id)),
        wgrid AS (SELECT d.doc_id, wi.w
            FROM (SELECT DISTINCT doc_id FROM documents) d,
                 unnest(range(0, 4)) AS wi(w)),
        words AS (SELECT g.doc_id, cast(g.w as int) AS w,
                cast(coalesce(sum(bit << (blk % 16)), 0) as int) AS wv
            FROM wgrid g
            LEFT JOIN bits ON bits.doc_id = g.doc_id AND bits.blk // 16 = g.w
            GROUP BY 1, 2)
        SELECT doc_id, w, wv FROM words ORDER BY doc_id, w
        """
    ).fetchdf()
    con.close()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_vad_segments_islands_and_threshold(hand):
    from rugpull_data_pipeline_spark.plans.multimodal_q import (
        multimodal_vad_segments,
    )

    # doc 1: loud/quiet/loud 32-byte windows -> two single-window segments;
    # doc 2: loud/loud/quiet -> one merged [0,1] segment.
    _mk_docs(
        hand,
        [(1, "z" * 32 + " " * 32 + "z" * 32), (2, "z" * 64 + " " * 32)],
        DOC_TEXT,
    )
    rows = multimodal_vad_segments(hand, "unused").collect()
    segs = [(r.doc_id, r.seg_start, r.seg_end, r.n_wins) for r in rows]
    assert segs == [(1, 0, 0, 1), (1, 2, 2, 1), (2, 0, 1, 2)]
    z_energy = 32 * 122 * 122
    assert rows[0].seg_energy == z_energy
    assert rows[2].seg_energy == 2 * z_energy
