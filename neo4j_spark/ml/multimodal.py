"""Multimodal (image/audio/video) column plumbing.

Binary payloads are opaque ``binary`` columns + typed metadata structs;
decode/resize/frame-sample run as Arrow-batched ``mapInPandas`` stages so
each executor processes whole record batches.  The actual codecs are NOT
available in this environment — the decode kernel is stubbed with a
deterministic fake (clearly marked) while the Spark-side plumbing (schema,
batching, partitioning) is real and tested.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

IMAGE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def attach_fake_binary(df: DataFrame, id_col: str = "doc_id",
                       payload_from: str = "text") -> DataFrame:
    """Build a deterministic binary payload column (stand-in for real blobs)."""
    return df.select(F.col(id_col),
                     F.encode(F.col(payload_from), "utf-8").alias("payload"))


def _fake_decode(payload: bytes) -> tuple:
    """STUB: deterministic fake 'decode' - replace with PIL/libav in prod.

    Emits (width, height, channels, 8-dim feature) derived from payload bytes
    so tests are reproducible without image libraries installed."""
    if payload is None:
        return (0, 0, 0, [0.0] * 8)
    n = len(payload)
    width = 16 + n % 64
    height = 16 + (n // 64) % 64
    feat = [float((payload[i % n] if n else 0) + i) / 255.0 for i in range(8)]
    return (width, height, 3, feat)


def decode_images(df: DataFrame, id_col: str = "doc_id",
                  payload_col: str = "payload") -> DataFrame:
    """mapInPandas decode: Arrow batches in, typed metadata + features out.

    At scale: repartition by file locality first; each batch stays columnar
    until the per-record decode kernel."""

    def batch_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [_fake_decode(p) for p in pdf[payload_col]]
            out = pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "width": [r[0] for r in rows],
                "height": [r[1] for r in rows],
                "channels": [r[2] for r in rows],
                "feature": [r[3] for r in rows],
            })
            yield out

    return df.mapInPandas(batch_fn, IMAGE_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 10,
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic frame sampling stand-in: keep ids where id % n == 0 —
    the real kernel would emit every Nth decoded video frame."""
    return df.filter((F.col(id_col) % every_n) == 0)


RESIZED_SCHEMA = T.StructType(
    IMAGE_SCHEMA.fields[:1] + [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("orig_width", T.IntegerType()),
        T.StructField("orig_height", T.IntegerType()),
    ])


def resize_images(decoded: DataFrame, target: int = 224) -> DataFrame:
    """mapInPandas resize stage over decoded metadata.

    STUB kernel: rescales the metadata (and keeps the feature vector) —
    in production the batch holds pixel buffers and the kernel calls a
    batched resize; the Spark plumbing (schema, Arrow batching) is what
    this exercises."""

    def batch_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": target,
                "height": target,
                "channels": pdf["channels"],
                "feature": pdf["feature"],
                "orig_width": pdf["width"],
                "orig_height": pdf["height"],
            })
            yield out

    return decoded.mapInPandas(batch_fn, RESIZED_SCHEMA)


AUDIO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("mfcc", T.ArrayType(T.FloatType())),
])


def audio_features(df: DataFrame, id_col: str = "doc_id",
                   payload_col: str = "payload") -> DataFrame:
    """mapInPandas audio feature extraction (STUB kernel: deterministic
    pseudo-MFCCs from payload bytes; production swaps in librosa/libav)."""

    def batch_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "duration_s": [len(p or b"") / 16000.0 for p in payloads],
                "sample_rate": 16000,
                "mfcc": [[float((p[i % len(p)] if p else 0)) / 128.0 - 1.0
                          for i in range(13)] for p in payloads],
            })

    return df.mapInPandas(batch_fn, AUDIO_SCHEMA)
