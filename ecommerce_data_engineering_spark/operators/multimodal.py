"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Design for 100 TB multimodal corpora: media travels as an opaque
``binary`` column next to a typed metadata struct; heavy per-item work
(decode, resize, frame-sample, feature-extract) runs as Arrow-batched
``mapInPandas`` so each Python worker sees a columnar batch, not a row.

The decode kernels are REAL for BMP images and PCM-16 WAV audio —
zero-dependency ``struct``-level codecs (functions/codecs.py) parse
actual media bytes, header fields and payload content alike, so the
whole Arrow pipeline is exercised with genuine decoding.  Formats that
need an external library (JPEG/FLAC/MP4…) have no kernel here; swapping
in PIL/soundfile/pyav replaces one kernel body, never the Spark
plumbing.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions import codecs

MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_kind", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ])),
])

DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_kind", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("checksum", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def to_media_table(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Wrap a text table as a media table (payload = utf-8 bytes).

    In production the payload column is read straight from parquet
    binary (images/audio); here text bytes stand in so the pipeline is
    runnable on the fixtures.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit("text").alias("media_kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.col("lang").alias("lang"),
            F.length(F.encode(F.col(text_col), "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched "decode" smoke path: mapInPandas over the payload
    column, computing deterministic pseudo-dimensions + checksum from
    the bytes (the schema/batching check).  The real BMP decoder is
    :func:`decode_image`."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            checksums = payloads.map(
                lambda b: hashlib.md5(bytes(b or b"")).hexdigest()
            )
            n_bytes = payloads.map(lambda b: len(b or b""))
            # deterministic fake dimensions derived from content length
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_kind": pdf["media_kind"],
                "n_bytes": n_bytes.astype("int64"),
                "checksum": checksums,
                "width": (n_bytes % 640 + 1).astype("int32"),
                "height": (n_bytes % 480 + 1).astype("int32"),
            })

    return media.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


# ------------------------------------------------- synthetic real media

def synth_bmp_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic BMP payload per doc_id (the fixture-side encoder):
    width = 1 + id%16, height = 1 + id%12, every pixel byte = id%256.
    Runs as Arrow-batched mapInPandas — the same shape a production
    thumbnail/transcode stage has (binary in, binary out)."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                w, h = 1 + i % 16, 1 + i % 12
                payloads.append(
                    codecs.bmp_encode(w, h, bytes([i % 256]) * (w * h * 3)))
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "media_kind": "image/bmp",
                "payload": payloads,
            })

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return docs.select(id_col).mapInPandas(encode, schema=schema)


def synth_wav_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PCM-16 WAV payload per doc_id: sample_rate =
    8000 + (id%4)*4000, channels = 1 + id%2, frames = 16 + id%64,
    every sample = (id%256) − 128."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                rate, ch, frames = 8000 + (i % 4) * 4000, 1 + i % 2, 16 + i % 64
                payloads.append(
                    codecs.wav_encode(rate, ch, [(i % 256) - 128] * (frames * ch)))
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "media_kind": "audio/wav",
                "payload": payloads,
            })

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return docs.select(id_col).mapInPandas(encode, schema=schema)


DECODED_IMAGE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_kind", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("pixel_sum", T.LongType()),
])


def decode_image(media: DataFrame) -> DataFrame:
    """REAL image decode (BMP): parse header → width/height, and sum the
    decoded pixel bytes — proving the kernel read the payload content,
    not just the header.  Arrow-batched mapInPandas."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"width": [], "height": [], "n_bytes": [], "pixel_sum": []}
            for payload in pdf["payload"]:
                raw = bytes(payload or b"")
                w, h, pixels = codecs.bmp_decode(raw)
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(len(raw))
                out["pixel_sum"].append(sum(pixels))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "media_kind": pdf["media_kind"],
                "width": pd.Series(out["width"], dtype="int32"),
                "height": pd.Series(out["height"], dtype="int32"),
                "n_bytes": pd.Series(out["n_bytes"], dtype="int64"),
                "pixel_sum": pd.Series(out["pixel_sum"], dtype="int64"),
            })

    return media.mapInPandas(decode, schema=DECODED_IMAGE_SCHEMA)


DECODED_AUDIO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_kind", T.StringType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sample_sum", T.LongType()),
])


def decode_audio(media: DataFrame) -> DataFrame:
    """REAL audio decode (PCM-16 WAV): parse the RIFF header → rate/
    channels/frames, and sum the decoded samples (payload proof)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"rate": [], "ch": [], "frames": [], "n_bytes": [], "ssum": []}
            for payload in pdf["payload"]:
                raw = bytes(payload or b"")
                rate, ch, frames, samples = codecs.wav_decode(raw)
                out["rate"].append(rate)
                out["ch"].append(ch)
                out["frames"].append(frames)
                out["n_bytes"].append(len(raw))
                out["ssum"].append(sum(samples))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "media_kind": pdf["media_kind"],
                "sample_rate": pd.Series(out["rate"], dtype="int32"),
                "n_channels": pd.Series(out["ch"], dtype="int32"),
                "n_frames": pd.Series(out["frames"], dtype="int64"),
                "n_bytes": pd.Series(out["n_bytes"], dtype="int64"),
                "sample_sum": pd.Series(out["ssum"], dtype="int64"),
            })

    return media.mapInPandas(decode, schema=DECODED_AUDIO_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling stand-in: emit one row per sampled offset.

    For video this would be one decoded frame per N; the byte-offset
    explosion demonstrates the same fan-out shape (explode inside the
    JVM, no Python in the loop)."""
    return media.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0),
                       F.greatest(F.length("payload") - 1, F.lit(0)),
                       F.lit(every_n_bytes))
        ).alias("frame_offset"),
    )


FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_kind", T.StringType()),
    T.StructField("features", T.ArrayType(T.FloatType())),
])


def resize_media(media: DataFrame, max_bytes: int = 128) -> DataFrame:
    """'Resize' stand-in: truncate the payload to ``max_bytes`` —
    JVM-side binary slice, the same shape as a thumbnail/clip step
    (payload-in, smaller-payload-out, metadata updated)."""
    clipped = F.substring(F.col("payload"), 1, max_bytes)
    return media.select(
        "doc_id", "media_kind",
        clipped.alias("payload"),
        F.struct(
            F.col("meta.source").alias("source"),
            F.col("meta.lang").alias("lang"),
            F.length(clipped).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via Arrow-batched
    mapInPandas — the embedding-model slot.  Stub: deterministic
    FEATURE_DIM-dim vector from md5 of the bytes (so downstream
    similarity plumbing is testable end-to-end without a model)."""

    def vec(b):
        h = hashlib.md5(bytes(b or b"")).digest()
        return [h[i] / 255.0 for i in range(FEATURE_DIM)]

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_kind": pdf["media_kind"],
                "features": pdf["payload"].map(vec),
            })

    return media.mapInPandas(feat_batches, schema=FEATURES_SCHEMA)
