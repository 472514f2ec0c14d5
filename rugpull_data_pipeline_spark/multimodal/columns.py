"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

A 100 TB training-data pipeline treats media as binary payloads with a typed
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched Pandas UDFs over ``mapInPandas``. The Spark-side plumbing here
(schemas, partition-sized batching, UDF signatures, deterministic outputs)
is real and tested; the actual codecs (PIL/ffmpeg/torchaudio) are not
dependencies of this package, so the decode kernels are STUBS — a
deterministic hash-derived fake. Swapping in a real codec changes only the
inner function, never the plan shape.

Scale notes: payloads never pass through the driver; each ``mapInPandas``
batch holds ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, so
executor memory bounds batch size × payload size. Feature vectors are
fixed-size arrays → columnar, shuffle-friendly.

The kernels run on the partitioning they are given. A single-file scan is
one partition, which would run a kernel serially on one worker, so callers
spread the input first: range-partitioned on ``doc_id`` through
``functions.udfs.ordered_python_stage`` when the output is read in
``doc_id`` order (the kernel then runs once, and a per-partition sort
replaces the global one), round-robin when the output only feeds joins or
group-bys.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOB_METADATA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image|audio|video
        T.StructField("format", T.StringType()),       # png|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_blob_column(docs: DataFrame) -> DataFrame:
    """Fixture adapter: derive a deterministic binary payload + metadata from
    ``documents`` so the multimodal plumbing has real bytes to move around.
    (In production this column comes from the lakehouse scan directly.)"""
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        blob.alias("blob"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("fake-rgb8").alias("format"),
            (F.pmod(F.col("doc_id"), F.lit(64)) + F.lit(16)).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(48)) + F.lit(16)).cast("int").alias("height"),
            F.length(blob).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_blob_metadata(df: DataFrame) -> DataFrame:
    """Project typed metadata out of the struct — stays fully JVM-side."""
    return df.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


_FEATURE_DIM = 8


def _stub_features(payload: bytes, dim: int = _FEATURE_DIM) -> list[float]:
    """Deterministic fake 'decode + embed': sha256-derived floats in [0, 1).

    STUB — replace with a real codec+model when the container ships one.
    """
    h = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)
    ]


def decode_image_features(df: DataFrame) -> DataFrame:
    """blob → fixed-size feature vector via mapInPandas (Arrow batches).

    The partition-parallel batch shape (pdf of N rows in, pdf of N rows out,
    payload column dropped on output so shuffles downstream move only
    features) is the production plumbing; only the kernel is stubbed.
    """
    from ..session import ship_package

    ship_package(df.sparkSession)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "features": pdf["blob"].map(_stub_features),
                }
            )

    return df.select("doc_id", "blob").mapInPandas(mapper, schema)


def sample_frames(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Video frame-sampling plumbing: one input row → K frame rows
    (flatMap-shaped mapInPandas). The stub emits one 'frame' per
    ``every_n_bytes`` chunk with its offset; a real ffmpeg kernel would emit
    decoded keyframes at the same cadence."""
    from ..session import ship_package

    ship_package(df.sparkSession)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_hash", T.StringType()),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_hash": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                for i in range(0, max(len(blob), 1), every_n_bytes):
                    # Hash the UPPERCASE-HEX rendering of the BYTE chunk, not
                    # the raw bytes: chunking is genuinely byte-based (binary
                    # payload semantics), but DuckDB's md5 only takes VARCHAR
                    # and it has no blob substring — hex() is the one
                    # byte-faithful rendering both engines can slice and
                    # hash identically. Raw-byte md5 chunking diverged from
                    # the char-based oracle the moment the corpus contained
                    # a multibyte character (caught by the r9 unicode-text
                    # sweep: frame COUNTS split on octet vs char length).
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i // every_n_bytes)
                    out["frame_hash"].append(
                        hashlib.md5(
                            blob[i : i + every_n_bytes].hex().upper().encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.select("doc_id", "blob").mapInPandas(mapper, schema)


def resize_blobs(df: DataFrame, target_bytes: int = 32) -> DataFrame:
    """Image-resize plumbing: blob in, smaller blob out (mapInPandas).

    The stub 'resample' keeps every k-th byte (k = ceil(n/target)) — the
    byte-domain analogue of nearest-neighbor downsampling — so the output
    payload is deterministic and the DuckDB oracle can reproduce it
    byte-for-byte (UTF-8 byte domain). A real kernel (PIL.Image.resize) drops in
    behind the same schema: (doc_id, out_bytes, resized_hash), payload
    hashed rather than carried so downstream stages never shuffle media.
    """
    from ..session import ship_package

    ship_package(df.sparkSession)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("out_bytes", T.IntegerType()),
            T.StructField("resized_hash", T.StringType()),
        ]
    )

    def _resize(payload: bytes) -> tuple[int, str]:
        if len(payload) == 0:
            return 0, hashlib.md5(b"").hexdigest()
        k = max(1, -(-len(payload) // target_bytes))  # ceil div
        r = payload[::k]
        # Hash the UPPERCASE-HEX encoding of the resampled bytes, not the
        # raw bytes: the DuckDB oracle has no md5(BLOB), so the shared
        # contract is md5 over hex text (identical information, and
        # byte-exact for non-ASCII payloads where char-domain hashing
        # would diverge).
        return len(r), hashlib.md5(r.hex().upper().encode("ascii")).hexdigest()

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf["blob"].map(_resize)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_bytes": out.map(lambda t: t[0]),
                    "resized_hash": out.map(lambda t: t[1]),
                }
            )

    return df.select("doc_id", "blob").mapInPandas(mapper, schema)


def window_energy(df: DataFrame, window_bytes: int = 32) -> DataFrame:
    """Audio windowed-energy plumbing: blob in → one row per fixed-size
    window with its energy (sum of squared byte values, exact integer) —
    the frame-energy/VAD shape every audio pipeline starts with. A real
    kernel would decode PCM first; the stub treats the raw bytes as
    samples, so the DuckDB oracle can reproduce the arithmetic
    byte-for-byte (UTF-8 byte domain)."""
    from ..session import ship_package

    ship_package(df.sparkSession)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("win_idx", T.IntegerType()),
            T.StructField("win_len", T.IntegerType()),
            T.StructField("energy", T.LongType()),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "win_idx": [], "win_len": [], "energy": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                for i in range(0, max(len(blob), 1), window_bytes):
                    win = blob[i : i + window_bytes]
                    out["doc_id"].append(doc_id)
                    out["win_idx"].append(i // window_bytes)
                    out["win_len"].append(len(win))
                    out["energy"].append(sum(b * b for b in win))
            yield pd.DataFrame(out)

    return df.select("doc_id", "blob").mapInPandas(mapper, schema)


_PHASH_BITS = 64
_PHASH_WORDS = 4  # 4 x 16-bit words (pigeonhole blocks for the near-dup join)


def phash_words(df: DataFrame) -> DataFrame:
    """Perceptual-hash plumbing: blob → 64-bit average-hash as FOUR 16-bit
    words, long-form (doc_id, w, wv) — one row per word.

    The stub kernel is the aHash algorithm applied to raw bytes instead of
    decoded luma pixels: split the payload into 64 position blocks
    (block(i) = i*64//n), set bit b when block b's mean exceeds the global
    mean, decided by the exact integer cross-product sum_b * n > total *
    len_b (no floating point anywhere, so the DuckDB oracle reproduces
    every bit). A real kernel (DCT over decoded pixels) drops in behind
    the same (doc_id, w, wv) schema. Emitting 16-bit words rather than one
    64-bit value IS the index layout: the near-dup join buckets on exact
    word matches (pigeonhole: hamming <= 3 guarantees a shared word), so
    downstream never touches payloads — 4 small ints per media object.
    """
    from ..session import ship_package

    ship_package(df.sparkSession)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("wv", T.IntegerType()),
        ]
    )

    def _words(payload: bytes) -> list[int]:
        n = len(payload)
        if n == 0:
            return [0] * _PHASH_WORDS
        sums = [0] * _PHASH_BITS
        lens = [0] * _PHASH_BITS
        for i, v in enumerate(payload):
            b = i * _PHASH_BITS // n
            sums[b] += v
            lens[b] += 1
        total = sum(sums)
        words = [0] * _PHASH_WORDS
        for b in range(_PHASH_BITS):
            if sums[b] * n > total * lens[b]:
                words[b // 16] |= 1 << (b % 16)
        return words

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "w": [], "wv": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                for w, wv in enumerate(_words(blob)):
                    out["doc_id"].append(doc_id)
                    out["w"].append(w)
                    out["wv"].append(wv)
            yield pd.DataFrame(out)

    return df.select("doc_id", "blob").mapInPandas(mapper, schema)
