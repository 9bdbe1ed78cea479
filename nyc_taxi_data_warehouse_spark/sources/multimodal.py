"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Spark-side contract (real and tested): binary payload + typed metadata
struct, Arrow-batched `mapInPandas` for decode/feature-extraction, schema
declared up front so downstream plans bind without executing Python.

No image codec ships with the engine: `decode_image_batch` /
`resize_image_batch` are deterministic stand-ins (byte statistics,
truncate/pad to the pixel budget) that exercise the real Spark plumbing —
partitioning, UDF signature, Arrow batch shapes — codec-free. A real
codec slots into the same `mapInPandas` function bodies.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id string, n_bytes int, width int, height int, "
    "mean_byte double, feature_hash string"
)


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata over an opaque binary column — cheap, JVM-side."""
    return df.withColumn("n_bytes", F.length(F.col(payload_col)).cast("int"))


def decode_image_batch(df: DataFrame) -> DataFrame:
    """Feature-extract images via Arrow-batched mapInPandas (never a
    per-row Python UDF): byte count, declared width/height, mean byte
    value and an md5 of the payload — the deterministic stand-in for a
    codec decode, with the same schema contract and per-partition
    batching."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        def mean_byte(b) -> float:
            if not b:
                return 0.0
            a = np.frombuffer(b, dtype=np.uint8)
            # int64 sum / len is exact (< 2^53), bit-identical to Python's
            # sum(b)/len(b) — keeps the DuckDB oracle twin in lockstep
            return float(a.sum(dtype=np.int64) / len(a))

        for pdf in batches:
            payloads = pdf["payload"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda b: len(b or b"")).astype("int32"),
                    "width": pdf.get("width", pd.Series([0] * len(pdf))).fillna(0).astype("int32"),
                    "height": pdf.get("height", pd.Series([0] * len(pdf))).fillna(0).astype("int32"),
                    "mean_byte": payloads.map(mean_byte),
                    "feature_hash": payloads.map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                }
            )
            yield out

    return df.mapInPandas(decode, IMAGE_FEATURES_SCHEMA)


RESIZE_SCHEMA = "media_id string, width int, height int, payload binary"


def resize_image_batch(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize images via Arrow-batched mapInPandas — same plumbing contract
    as :func:`decode_image_batch`: rewrites the metadata and truncates/pads
    the payload to the target pixel budget, so batch shapes and schema
    binding are exercised without a codec."""
    budget = target_w * target_h

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].map(
                lambda b: (b or b"")[:budget].ljust(budget, b"\x00")
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([target_w] * len(pdf), dtype="int32"),
                    "height": pd.Series([target_h] * len(pdf), dtype="int32"),
                    "payload": payloads,
                }
            )

    return df.mapInPandas(resize, RESIZE_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_nth: int = 30, bytes_per_frame: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: the shuffle/partition layout for frame
    extraction (group by media, explode frame indices) with the decode left
    to :func:`decode_image_batch`. Uses metadata only — no codec.
    `bytes_per_frame` approximates frame count from payload size."""
    n_frames = F.greatest(
        (F.col("n_bytes") / F.lit(bytes_per_frame)).cast("int"), F.lit(0)
    )
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames, F.lit(every_nth))).alias("frame_idx"),
    )
