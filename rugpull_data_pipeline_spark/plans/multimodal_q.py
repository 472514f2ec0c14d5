"""Multimodal-column queries: the registry surface for multimodal/columns.py.

Media payloads ride as opaque ``binary`` columns with typed metadata; the
kernels (decode / feature-extract / frame-sample) run as Arrow-batched
``mapInPandas``. The codecs are deterministic stubs (the container has no
PIL/ffmpeg — see multimodal/columns.py), which buys something unusual here:
even the Pandas-UDF operators get full DuckDB oracles, because the stub
kernels (sha256-derived features, md5 frame hashes) are expressible in SQL.
The oracle therefore verifies the ENTIRE plumbing — binary encoding, Arrow
batch transfer, UDF signatures, flatMap row fan-out — not just the plan shape.

Scale notes: payloads never visit the driver; ``mapInPandas`` batches are
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` × payload size;
feature vectors are fixed-width so every downstream shuffle moves small
columnar data, never the blobs. The one shuffle of payloads is the spread of
the scan ahead of the kernel: the ordered queries range-partition it on
``doc_id`` (``ordered_python_stage``), so the range sampling job reads the
scan instead of re-running the kernel, and each partition is sorted after
it; the near-dup and VAD queries, whose kernel output feeds joins and
group-bys, spread it round-robin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import ordered_python_stage
from ..multimodal.columns import (
    attach_blob_column,
    decode_image_features,
    extract_blob_metadata,
    resize_blobs,
    sample_frames,
    window_energy,
)
from .registry import register

# --- blob + typed metadata (fully JVM-side) --------------------------------

_META_ORACLE = """
SELECT doc_id,
    'image' AS media_type,
    'fake-rgb8' AS format,
    cast(doc_id % 64 + 16 as int) AS width,
    cast(doc_id % 48 + 16 as int) AS height,
    cast(octet_length(encode(text)) as bigint) AS n_bytes
FROM documents
ORDER BY doc_id
"""


@register(
    "multimodal_blob_metadata",
    oracle=_META_ORACLE,
    tags=("multimodal",),
    doc="Opaque binary media column + typed metadata struct, projected "
    "JVM-side (no UDF): the scan/partition layer of the multimodal pipeline.",
)
def multimodal_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return extract_blob_metadata(attach_blob_column(docs)).orderBy("doc_id")


# --- decode + feature extraction (mapInPandas, Arrow batches) ---------------

_FEAT_ORACLE = "SELECT doc_id,\n" + ",\n".join(
    f"    ('0x' || substring(sha256(text), {8 * i + 1}, 8))::bigint"
    f" / 4294967296.0 AS f{i}"
    for i in range(8)
) + "\nFROM documents\nORDER BY doc_id"


@register(
    "multimodal_decode_features",
    oracle=_FEAT_ORACLE,
    tags=("multimodal", "udf"),
    doc="blob → fixed-size feature vector via Arrow-batched mapInPandas "
    "(stub kernel: sha256-derived floats — deterministic, so the DuckDB "
    "oracle checks the full UDF plumbing bit-for-bit).",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return ordered_python_stage(
        attach_blob_column(docs),
        lambda blobs: decode_image_features(blobs).select(
            "doc_id", *[F.col("features")[i].alias(f"f{i}") for i in range(8)]
        ),
        "doc_id",
    )


# --- video-style frame sampling (flatMap-shaped mapInPandas) ----------------

# One-pass byte-chunk extraction: regexp_extract_all splits the hex stream
# into 128-hex-char (= 64-byte) cells in a single O(n) scan, and the two
# parallel unnests zip. Per-chunk substring(h, i*128+1, 128) is O(position)
# in DuckDB, which turns a megabyte-scale document into an O(n^2/64) oracle
# — 55 s per giant row, found by the --giant-payloads sweep.
_FRAME_ORACLE = """
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
        octet_length(encode(text)) AS nb
    FROM documents
)
SELECT doc_id, cast(i as int) AS frame_idx, md5(hx) AS frame_hash
FROM (
    SELECT doc_id,
        unnest(range(0, cast(ceil(nb / 64.0) as bigint))) AS i,
        unnest(regexp_extract_all(h, '.{1,128}')) AS hx
    FROM b WHERE nb > 0
) c
UNION ALL
SELECT doc_id, 0, md5('') FROM b WHERE nb = 0
ORDER BY doc_id, frame_idx
"""


@register(
    "multimodal_frame_sample",
    oracle=_FRAME_ORACLE,
    tags=("multimodal", "udf"),
    doc="Frame sampling: one input row fans out to K frame rows inside "
    "mapInPandas (flatMap shape). Stub kernel hashes each 64-BYTE chunk "
    "via its uppercase-hex rendering (DuckDB md5 is VARCHAR-only); the "
    "oracle reproduces the byte chunking over hex(encode(text)), "
    "verifying the fan-out exactly even on multibyte corpora.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return ordered_python_stage(
        attach_blob_column(docs),
        lambda blobs: sample_frames(blobs, every_n_bytes=64),
        "doc_id",
        "frame_idx",
    )


# --- binary-file landing zone (binaryFile source vs read_blob oracle) -------

_N_BLOBS, _BLOB_SEED = 64, 17


def _blob_dir() -> str:
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), f"rugpull_blobs_{_N_BLOBS}_{_BLOB_SEED}")


def _ensure_blobs() -> str:
    """Deterministic media-like blob corpus (idempotent, seeded): stand-in
    for an image/audio landing directory. Same contract as the domain block
    corpora — whichever engine reads first, the bytes are identical."""
    import os
    import random

    from ..tmpdirs import published_dir

    d = _blob_dir()
    if os.path.exists(os.path.join(d, ".done")):
        return d
    rng = random.Random(_BLOB_SEED)
    with published_dir(d) as tmp:
        for i in range(_N_BLOBS):
            payload = bytes(rng.randrange(256) for _ in range(rng.randint(32, 512)))
            with open(os.path.join(tmp, f"blob_{i:03d}.bin"), "wb") as fh:
                fh.write(payload)
        with open(os.path.join(tmp, ".done"), "w") as fh:
            fh.write("ok")
    return d


_BINARY_INGEST_ORACLE_TEMPLATE = """
SELECT regexp_extract(filename, '[^/]+$') AS fname,
    cast(size as bigint) AS n_bytes,
    substring(hex(content), 1, 16) AS head_hex,
    md5(hex(content)) AS checksum
FROM read_blob('{d}/*.bin')
ORDER BY fname
"""


@register(
    "multimodal_binary_ingest",
    oracle=_BINARY_INGEST_ORACLE_TEMPLATE.format(d=_blob_dir()),
    inputs=(_ensure_blobs,),
    tags=("multimodal",),
    doc="Media landing zone: Spark's binaryFile source over a blob "
    "directory (sources/io.read_binary_files), checksummed row-per-file — "
    "oracle-checked against DuckDB's independent read_blob on the SAME "
    "files, so the binary payload path is verified byte-for-byte. At scale "
    "this is the first stage of every image/audio pipeline; payloads stay "
    "executor-side from the very first scan.",
)
def multimodal_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import read_binary_files

    df = read_binary_files(spark, _blob_dir(), glob="*.bin")
    hx = F.hex(F.col("content"))
    return (
        df.select(
            F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("fname"),
            F.col("length").cast("long").alias("n_bytes"),
            F.substring(hx, 1, 16).alias("head_hex"),
            F.md5(hx).alias("checksum"),
        )
        .orderBy("fname")
    )



# --- image-resize plumbing (byte-domain nearest-neighbor stub) --------------

_RESIZE_TARGET = 32

# The kernel operates on UTF-8 BYTES (blob = encode(text, 'UTF-8')), so the
# oracle must too: DuckDB exposes the byte stream as hex(encode(text)) and
# byte p (1-based) is cast('0x' || substring(h, 2p-1, 2) as int). The hash
# is md5 over the UPPERCASE-HEX encoding of the resampled bytes — chosen
# because this DuckDB build has no md5(BLOB); the Python kernel hashes the
# same hex text, so the contract stays engine-identical for non-ASCII input
# (char-position arithmetic would diverge from byte-position there).
_RESIZE_ORACLE = f"""
WITH k AS (
    SELECT doc_id, hex(encode(text)) AS h,
        octet_length(encode(text)) AS nb,
        greatest(cast(ceil(octet_length(encode(text)) / {_RESIZE_TARGET}.0)
            as bigint), 1) AS step
    FROM documents
),
px AS (
    SELECT doc_id, i, substring(h, cast(2 * i - 1 as int), 2) AS hx
    FROM k, unnest(range(1, nb + 1, step)) AS t(i)
),
agg AS (
    SELECT doc_id, count(*) AS nsel, string_agg(hx, '' ORDER BY i) AS hxs
    FROM px GROUP BY doc_id
)
SELECT k.doc_id,
    cast(coalesce(a.nsel, 0) as int) AS out_bytes,
    md5(coalesce(a.hxs, '')) AS resized_hash
FROM k LEFT JOIN agg a ON a.doc_id = k.doc_id
ORDER BY k.doc_id
"""


@register(
    "multimodal_resize_batch",
    oracle=_RESIZE_ORACLE,
    tags=("multimodal", "udf"),
    doc="Image-resize plumbing: blob in, downsampled blob out via "
    "Arrow-batched mapInPandas (stub kernel keeps every k-th byte, "
    "k = ceil(n/target) — the byte-domain analogue of nearest-neighbor "
    "resampling; a real PIL kernel drops in behind the same schema). The "
    "DuckDB oracle reproduces the resample byte-for-byte (UTF-8 byte domain), so "
    "the batch shape, partition-parallel fan-out, and payload handling "
    "are verified bit-for-bit; output carries the hash, not the media, so "
    "downstream stages never shuffle blobs.",
)
def multimodal_resize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return ordered_python_stage(
        attach_blob_column(docs),
        lambda blobs: resize_blobs(blobs, target_bytes=_RESIZE_TARGET),
        "doc_id",
    )


# --- audio-style windowed energy (flatMap + per-window integer reduce) ------

# Byte-exact oracle: the kernel windows and squares UTF-8 BYTES, so the
# oracle windows octet_length(encode(text)) and reads byte values out of
# hex(encode(text)) — ord()-of-character would diverge on any non-ASCII
# text (multi-byte codepoints shift both the window boundaries and the
# folded values).
# One-pass byte stream: the hex is split into 2-char cells in a single
# O(n) regexp scan, the parallel unnests zip (byte index, byte value), and
# window aggregation is a GROUP BY on i // 32 — replacing the per-byte
# substring(h, ...) reads whose O(position) cost made the oracle
# O(n^2) on megabyte rows (found by the --giant-payloads sweep: the old
# shape was still computing one giant doc after 12 minutes).
_ENERGY_ORACLE = """
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
        octet_length(encode(text)) AS nb
    FROM documents
),
bytes AS (
    SELECT doc_id,
        unnest(range(0, nb)) AS i,
        unnest(list_transform(regexp_extract_all(h, '..'),
                              x -> cast(('0x' || x) as bigint))) AS v
    FROM b
)
SELECT doc_id, cast(i // 32 as int) AS win_idx,
    cast(count(*) as int) AS win_len,
    cast(sum(v * v) as bigint) AS energy
FROM bytes GROUP BY doc_id, i // 32
UNION ALL
SELECT doc_id, 0, 0, 0 FROM b WHERE nb = 0
ORDER BY doc_id, win_idx
"""


@register(
    "multimodal_window_energy",
    oracle=_ENERGY_ORACLE,
    tags=("multimodal", "udf", "series"),
    doc="Audio frame-energy shape: blob → one row per 32-byte window with "
    "the exact integer sum of squared byte values — the VAD/loudness "
    "primitive every audio pipeline starts with (a real kernel decodes "
    "PCM first; the stub folds raw bytes so the oracle reproduces the "
    "arithmetic exactly). flatMap-shaped Arrow-batched mapInPandas, "
    "integer math end-to-end — completes the decode / feature-extract / "
    "resize / frame-sample / window-reduce kernel set.",
)
def multimodal_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    return ordered_python_stage(
        attach_blob_column(docs),
        lambda blobs: window_energy(blobs, window_bytes=32),
        "doc_id",
        "win_idx",
    )


def _spread(blobs: DataFrame) -> DataFrame:
    """Round-robin a blob frame over every worker ahead of a kernel whose
    output only feeds joins and group-bys (no global order to keep)."""
    return blobs.repartition(blobs.sparkSession.sparkContext.defaultParallelism)


# --- perceptual-hash near-dup (aHash words + pigeonhole join) ---------------

# Byte-exact oracle: reproduces the kernel's integer aHash bit-for-bit from
# hex(encode(text)) — block membership blk = i*64//n, bit decided by the
# integer cross-product sum_b * n > total * len_b, words as 16-bit packs.
_PHASH_CAP = 64
_PHASH_HAM_MAX = 20

_PHASH_ORACLE = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
        octet_length(encode(text)) AS nb
    FROM documents
),
raw AS (
    -- one-pass zipped byte stream (see _ENERGY_ORACLE: the per-byte
    -- substring read was O(n^2) on megabyte rows)
    SELECT doc_id, nb,
        unnest(range(0, nb)) AS i,
        unnest(list_transform(regexp_extract_all(h, '..'),
                              x -> cast(('0x' || x) as bigint))) AS v
    FROM b
),
bytes AS (
    SELECT doc_id, nb, i, v, cast((i * 64) // nb as int) AS blk FROM raw
),
blocks AS (
    SELECT doc_id, nb, blk, sum(v) AS bs, count(*) AS bl
    FROM bytes GROUP BY doc_id, nb, blk
),
tot AS (SELECT doc_id, sum(v) AS ts FROM bytes GROUP BY doc_id),
bits AS (
    SELECT bl.doc_id, bl.blk,
        CASE WHEN bl.bs * bl.nb > t.ts * bl.bl THEN 1 ELSE 0 END AS bit
    FROM blocks bl JOIN tot t ON t.doc_id = bl.doc_id
),
wgrid AS (
    SELECT d.doc_id, wi.w
    FROM (SELECT DISTINCT doc_id FROM documents) d,
         unnest(range(0, 4)) AS wi(w)
),
words AS (
    SELECT g.doc_id, cast(g.w as int) AS w,
        cast(coalesce(sum(bit << (blk % 16)), 0) as int) AS wv
    FROM wgrid g
    LEFT JOIN bits ON bits.doc_id = g.doc_id AND bits.blk // 16 = g.w
    GROUP BY g.doc_id, g.w
),
capped AS (
    SELECT doc_id, w, wv FROM (
        SELECT doc_id, w, wv,
            count(*) OVER (PARTITION BY w, wv) AS bsz
        FROM words
    ) f WHERE bsz <= {_PHASH_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
        ON a.w = b.w AND a.wv = b.wv AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
    cast(sum(bit_count(xor(wa.wv, wb.wv))) as int) AS hamming_bits
FROM cand c
JOIN words wa ON wa.doc_id = c.doc_a
JOIN words wb ON wb.doc_id = c.doc_b AND wb.w = wa.w
GROUP BY c.doc_a, c.doc_b
HAVING cast(sum(bit_count(xor(wa.wv, wb.wv))) as int) <= {_PHASH_HAM_MAX}
ORDER BY doc_a, doc_b
"""


@register(
    "multimodal_phash_neardup",
    oracle=_PHASH_ORACLE,
    tags=("multimodal", "dedup", "udf"),
    doc="Image near-dup by perceptual hash: the aHash kernel (Arrow-batched "
    "mapInPandas, integer-exact block means over raw bytes — a DCT pHash "
    "over decoded pixels drops in behind the same schema) emits each "
    "media object as four 16-bit words; candidates form ONLY where a word "
    "matches exactly (pigeonhole: hamming <= 3 guarantees a shared word), "
    "buckets capped at 64, then the exact Hamming distance over the full "
    "64 bits verifies each pair (<= 20 of 64 reported). The words ARE the "
    "index: 8 bytes per object travel through the shuffle, never "
    "payloads — the image-dedup shape a multimodal corpus runs next to "
    "MinHash text dedup.",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..multimodal.columns import phash_words

    docs = spark.table("documents")
    words = phash_words(_spread(attach_blob_column(docs))).localCheckpoint()
    capped = (
        words.withColumn(
            "bsz", F.count("*").over(Window.partitionBy("w", "wv"))
        )
        .where(F.col("bsz") <= _PHASH_CAP)
        .drop("bsz")
    )
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.wv") == F.col("b.wv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    wa, wb = words.alias("wa"), words.alias("wb")
    return (
        cand.join(wa, F.col("wa.doc_id") == F.col("doc_a"))
        .join(
            wb,
            (F.col("wb.doc_id") == F.col("doc_b"))
            & (F.col("wb.w") == F.col("wa.w")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.bit_count(
                    F.col("wa.wv").bitwiseXOR(F.col("wb.wv"))
                )
            ).cast("int").alias("hamming_bits")
        )
        .where(F.col("hamming_bits") <= _PHASH_HAM_MAX)
        .orderBy("doc_a", "doc_b")
    )


# --- VAD-style voiced-segment extraction (islands over frame energy) --------

# The oracle recomputes the 32-byte frame energies exactly like
# _ENERGY_ORACLE (same one-pass zipped byte stream; the old per-byte
# substring shape was O(n^2) on megabyte rows), then applies the same
# integer threshold (strictly above the per-doc mean, cross-multiplied so
# no division happens) and the classic gaps-and-islands grouping
# win_idx - row_number().
_VAD_ORACLE = """
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
        octet_length(encode(text)) AS nb
    FROM documents
),
bytes AS (
    SELECT doc_id,
        unnest(range(0, nb)) AS i,
        unnest(list_transform(regexp_extract_all(h, '..'),
                              x -> cast(('0x' || x) as bigint))) AS v
    FROM b
),
en AS (
    SELECT doc_id, cast(i // 32 as int) AS win_idx,
        cast(sum(v * v) as bigint) AS energy
    FROM bytes GROUP BY doc_id, i // 32
    UNION ALL
    SELECT doc_id, 0, 0 FROM b WHERE nb = 0
),
tot AS (
    SELECT doc_id, cast(sum(energy) as bigint) AS te,
        cast(count(*) as bigint) AS nw
    FROM en GROUP BY doc_id
),
voiced AS (
    SELECT en.doc_id, en.win_idx, en.energy,
        en.win_idx - row_number() OVER (
            PARTITION BY en.doc_id ORDER BY en.win_idx) AS grp
    FROM en JOIN tot ON tot.doc_id = en.doc_id
    WHERE en.energy * tot.nw > tot.te
)
SELECT doc_id,
    cast(min(win_idx) as int) AS seg_start,
    cast(max(win_idx) as int) AS seg_end,
    cast(count(*) as int) AS n_wins,
    cast(sum(energy) as bigint) AS seg_energy
FROM voiced
GROUP BY doc_id, grp
ORDER BY doc_id, seg_start
"""


@register(
    "multimodal_vad_segments",
    oracle=_VAD_ORACLE,
    tags=("multimodal", "udf", "series"),
    doc="VAD-style voiced-segment extraction composed ON TOP of the frame-"
    "energy kernel: frames strictly louder than their document's mean "
    "energy (integer cross-multiplied compare, no division) are merged "
    "into maximal consecutive runs via the gaps-and-islands "
    "win_idx - row_number() trick — the segmenter an audio curation "
    "pipeline runs after energy extraction to keep speech and drop "
    "silence. Everything after the Arrow-batched kernel is built-in "
    "DataFrame ops partitioned by doc_id; per-doc totals join back "
    "co-partitioned, and segment rows are bounded by frames/2.",
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spark.table("documents")
    en = window_energy(_spread(attach_blob_column(docs)), window_bytes=32)
    tot = en.groupBy("doc_id").agg(
        F.sum("energy").cast("bigint").alias("te"),
        F.count(F.lit(1)).cast("bigint").alias("nw"),
    )
    voiced = (
        en.join(tot, "doc_id")
        .where(F.col("energy") * F.col("nw") > F.col("te"))
        .withColumn(
            "grp",
            F.col("win_idx")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("win_idx")
            ),
        )
    )
    return (
        voiced.groupBy("doc_id", "grp")
        .agg(
            F.min("win_idx").cast("int").alias("seg_start"),
            F.max("win_idx").cast("int").alias("seg_end"),
            F.count(F.lit(1)).cast("int").alias("n_wins"),
            F.sum("energy").cast("bigint").alias("seg_energy"),
        )
        .drop("grp")
        .orderBy("doc_id", "seg_start")
    )
