"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video are treated as ``binary`` columns with a metadata struct
(mime, width/height or sample_rate/duration). The Spark-side plumbing —
schema, partition sizing, Arrow batch shape, mapInPandas signatures — is
real and tested; the actual codecs are NOT in this container, so decode is
a clearly-marked stub (deterministic fake features keyed on the payload
hash) behind ``OAAS_FAKE_DECODE``. Swap ``_decode_stub`` for PIL/ffmpeg
in production.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16


def synthesize_media(spark, n: int = 200) -> DataFrame:
    """Deterministic fake media table (seeded payload from media_id)."""
    return spark.range(0, n).select(
        F.col("id").alias("media_id"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
        F.struct(
            F.when(F.col("id") % 5 == 0, F.lit("video/mp4"))
            .when(F.col("id") % 3 == 0, F.lit("image/png"))
            .otherwise(F.lit("image/jpeg"))
            .alias("mime"),
            (F.lit(64) + (F.col("id") % 4) * 32).cast("int").alias("width"),
            (F.lit(64) + (F.col("id") % 3) * 32).cast("int").alias("height"),
            # videos get a frame sequence; stills are single-frame
            F.when(F.col("id") % 5 == 0, (F.lit(4) + (F.col("id") % 13)).cast("int"))
            .otherwise(F.lit(1).cast("int"))
            .alias("n_frames"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> np.ndarray:
    """STUB: deterministic fake 'decoded features'. Real impl: PIL/ffmpeg.

    Raises NotImplementedError if the payload looks like a real container
    format we can't decode here."""
    if payload is None:
        return np.zeros(FEATURE_DIM, dtype=np.float64)
    if payload[:4] in (b"\x89PNG", b"\xff\xd8\xff\xe0", b"RIFF"):
        raise NotImplementedError("real codec decode not available in this container")
    h = hashlib.sha256(payload).digest()
    # float64, not float32: the fake is exact integer/65535.0 arithmetic,
    # which any engine reproduces bit-for-bit in doubles — making even the
    # stubbed decode DuckDB-oracle-checkable (float32 rounding would not be)
    return np.frombuffer(h[: FEATURE_DIM * 2], dtype=np.uint16).astype(np.float64) / 65535.0


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: binary payload -> array<float>.

    The iterator-of-batches shape is the Arrow analog of the reference's
    per-batch builder loop; the Arrow batch size
    (``spark.sql.execution.arrow.maxRecordsPerBatch``) bounds executor
    memory exactly like the reference's LimitedAllocator bounds the IPC reader
    (/root/reference/pkg/otel/common/arrow/allocator.go:24-51)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_stub(p).tolist() if p is not None else None
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media.mapInPandas(op, schema="media_id long, features array<double>")


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame-sampling plumbing: one output row per kept frame index.
    Decode of actual frames is stubbed; the explode/partitioning is real."""
    return media.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )
