"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The decode/feature kernels are STUBBED (this container ships no image/audio
libraries) behind ``decoder=`` hooks — the Spark-side plumbing (schemas,
mapInPandas batch shape, partition sizing, metadata passthrough) is real and
tested with a deterministic fake decoder. Swap ``fake_image_decoder`` for a
PIL/ffmpeg-backed callable on a real cluster; nothing else changes.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA",
    "fake_image_decoder",
    "fake_audio_decoder",
    "decode_and_featurize",
    "frame_sample_plan",
    "with_frame_samples",
]

# canonical multimodal table shape: opaque payload + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

def feature_schema(df: DataFrame, id_col: str = "media_id") -> StructType:
    """Output schema of decode_and_featurize; media_id keeps the input's
    type (string UUIDs and numeric ids both work)."""
    return StructType(
        [
            df.schema[id_col],
            StructField("kind", StringType(), False),
            # containsNull=True: a failed decode is a NULL array, and the
            # JVM row materializer validates the child vector's nullability
            StructField("feat", ArrayType(FloatType(), True), True),
            StructField("decode_ok", BooleanType(), False),
        ]
    )


def fake_image_decoder(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for a real decoder: features derive from the
    payload bytes so tests are stable. A real build replaces this with e.g.
    PIL decode + resize + channel means (NotImplementedError if neither)."""
    if payload is None:
        raise ValueError("null payload")
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        raise ValueError("empty payload")
    chunks = np.array_split(arr.astype(np.float32), dim)
    return np.array([c.mean() if c.size else 0.0 for c in chunks], dtype=np.float32)


def fake_audio_decoder(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic audio stand-in: 'waveform' stats over the byte stream
    (per-chunk mean + range — what an MFCC-ish extractor would batch). A
    real build replaces this with ffmpeg/librosa."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    chunks = np.array_split(arr, dim // 2 or 1)
    feat = []
    for c in chunks:
        # guard empty chunks (payload shorter than dim//2): mean() of an
        # empty slice is NaN and would poison downstream cosine/dedup while
        # still reporting decode_ok=true
        feat.extend(
            [float(c.mean()) if c.size else 0.0,
             float(c.max() - c.min()) if c.size else 0.0]
        )
    return np.array(feat[:dim], dtype=np.float32)


def decode_and_featurize(
    df: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = fake_image_decoder,
    decoders: dict | None = None,
) -> DataFrame:
    """payload binary -> feature vector via mapInPandas.

    ``decoders`` optionally dispatches per kind (e.g. {"image": ...,
    "audio": ...}); rows whose kind has no entry fall back to ``decoder``.

    Real-scale notes: an Arrow batch is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows × payload size
    (``get_spark`` sets no byte cap). Large payloads need a smaller
    ``spark.sql.files.maxPartitionBytes`` or a lower row cap, both passed
    through ``get_spark(extra_conf=...)``. Decode failures become
    decode_ok=false rows rather than task failures (poison-pill isolation).
    """
    table = decoders or {}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, oks = [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                try:
                    fn = table.get(kind, decoder)
                    feats.append([float(x) for x in fn(payload)])
                    oks.append(True)
                except Exception:
                    feats.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feat": feats,
                    "decode_ok": oks,
                }
            )

    return df.select("media_id", "kind", "payload").mapInPandas(
        gen, schema=feature_schema(df)
    )


def frame_sample_plan(duration_ms: int, fps_target: float = 1.0, max_frames: int = 32) -> list[int]:
    """Deterministic frame-sampling timestamps for video payloads (ms).
    Pure planning logic — the actual frame grab is the stubbed decoder's job."""
    if duration_ms <= 0:
        return []
    n = min(max_frames, max(1, int(duration_ms / 1000.0 * fps_target)))
    step = duration_ms / n
    return [int(step * i + step / 2) for i in range(n)]


def with_frame_samples(
    df: DataFrame,
    duration_col: str = "duration_ms",
    fps_target: float = 1.0,
    max_frames: int = 32,
    out: str = "frame_ts_ms",
) -> DataFrame:
    """Explode each video row into one row per sampled frame timestamp (ms).

    Pure Catalyst (sequence/transform — whole-stage codegen, no Python),
    computing exactly frame_sample_plan per row: n = min(max_frames,
    max(1, floor(dur/1000*fps))), timestamps at the midpoints of n equal
    slices. Rows with duration <= 0 produce no frames. This is the plumbing
    a 100 TB video pipeline fans out on BEFORE the expensive decode — frame
    rows are tiny, so repartitioning them to match decoder parallelism is
    free relative to the payload fetch."""
    from pyspark.sql import functions as F

    d = F.col(duration_col).cast("double")
    n = F.least(
        F.lit(max_frames),
        F.greatest(F.lit(1), F.floor(d / 1000.0 * F.lit(fps_target)).cast("int")),
    )
    step = d / n
    ts = F.when(
        d > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: (step * i.cast("double") + step / 2).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn(out, F.explode(ts))
