"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The decode step itself is stubbed (no image/audio libraries in this
runtime): :func:`decode_image` raises ``NotImplementedError`` unless a
deterministic fake decoder is requested.  Everything *around* the decode —
schema contract, Arrow batch shape, ``mapInPandas`` partition flow,
metadata extraction — is real and tested, so dropping in PIL/librosa later
is a one-function change.

Scale posture: media bytes stay in Parquet binary columns; the decode /
feature-extract stages are ``mapInPandas`` over Arrow batches (no Python
per-row cost), map-side only.  ``spark.sql.files.maxPartitionBytes`` governs
batch memory, and wide binary columns should be pruned before any shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: schema fragment for a multimodal asset column group
MEDIA_SCHEMA = ("media_id bigint, kind string, content binary, "
                "mime string, width int, height int, duration_ms int")


def attach_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap metadata that does NOT require decoding: byte length and a
    64-bit content hash (dedup key) — pure JVM expressions."""
    return (df.withColumn("n_bytes", F.length(F.col(content_col)))
              .withColumn("content_hash", F.xxhash64(F.col(content_col))))


def decode_image(content: bytes, fake: bool = False) -> dict:
    """Decode one image's bytes → ``{width, height, mode}``.

    STUB: real decoding needs an image library that is not in this runtime.
    With ``fake=True`` returns a deterministic fake derived from the bytes
    (stable across runs/partitions) so the distributed plumbing can be
    exercised end-to-end.
    """
    if fake:
        h = int.from_bytes(content[:8].ljust(8, b"\0"), "big") if content else 0
        return {"width": 16 + h % 1024, "height": 16 + (h >> 10) % 1024,
                "mode": "RGB"}
    raise NotImplementedError(
        "image decoding requires an image library (e.g. PIL) not present in "
        "this runtime; pass fake=True to exercise the pipeline")


def extract_image_features(df: DataFrame, content_col: str = "content",
                           fake_decode: bool = False) -> DataFrame:
    """Decode images and emit (original columns minus content) + width/height.

    ``mapInPandas`` keeps the binary column out of any shuffle and processes
    whole Arrow batches per call.
    """
    carry = [c for c in df.columns if c != content_col]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != content_col
    ) + ", width int, height int"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            meta = pdf[content_col].map(
                lambda b: decode_image(bytes(b) if b is not None else b"",
                                       fake=fake_decode))
            out = pdf[carry].copy()
            out["width"] = meta.map(lambda m: m["width"]).astype("int32")
            out["height"] = meta.map(lambda m: m["height"]).astype("int32")
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def extract_audio_features(df: DataFrame, content_col: str = "content",
                           sample_rate: int = 16000,
                           fake_decode: bool = False) -> DataFrame:
    """Audio feature plumbing: content → (duration_ms, n_samples, rms).

    STUB decoder (no audio lib in this runtime): ``fake_decode`` derives
    deterministic pseudo-features from the byte length/content so the
    mapInPandas contract (schema, batching, null handling) is exercised;
    a librosa/soundfile decoder is a one-function swap.
    """
    if not fake_decode:
        raise NotImplementedError(
            "audio decoding requires an audio library (e.g. soundfile) not "
            "present in this runtime; pass fake_decode=True to exercise "
            "the pipeline")
    carry = [c for c in df.columns if c != content_col]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != content_col
    ) + ", duration_ms int, n_samples int, rms double"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = pdf[content_col].map(lambda b: len(b) if b is not None else 0)
            out = pdf[carry].copy()
            # fake: 2 bytes/sample at the nominal rate
            out["n_samples"] = (n // 2).astype("int32")
            out["duration_ms"] = (out["n_samples"] * 1000
                                  // sample_rate).astype("int32")
            out["rms"] = pdf[content_col].map(
                lambda b: round(sum(b[:64]) / max(1, len(b[:64])) / 255.0, 6)
                if b else 0.0)
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def sample_video_frames(df: DataFrame, content_col: str = "content",
                        every_n_ms: int = 1000,
                        fake_decode: bool = True) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame with a frame index
    and timestamp.  The frame *extraction* is stubbed (deterministic fake
    frame count from the byte length); the explode/partition shape is real.
    """
    if not fake_decode:
        raise NotImplementedError(
            "video decoding requires a media library not present in this "
            "runtime; fake_decode=True exercises the pipeline")
    n_frames = (F.length(F.col(content_col)) % 10 + 1).cast("int")
    return (df.withColumn("__n", n_frames)
              .withColumn("frame_idx",
                          F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
              .withColumn("frame_ts_ms", F.col("frame_idx") * every_n_ms)
              .drop("__n", content_col))
