"""Multimodal columns: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns with a metadata struct,
processed by Arrow-batched ``mapInPandas`` stages. The Spark-side
plumbing — schema, batch shape, partition-preserving iteration,
deterministic output — is real and tested; the codec work is
STUBBED (no image, audio or video library is a dependency):
clearly-marked deterministic fakes derive the features
(``fake_decode``), resized images and frames from the payload bytes,
so the distributed plumbing can be exercised end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 16


def fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic FAKE decoder: derives a FEATURE_DIM float vector
    from the payload's sha1 — stands in for a real embedding model so
    the Arrow/mapInPandas plumbing is testable."""
    h = hashlib.sha1(payload).digest()
    raw = np.frombuffer((h * ((FEATURE_DIM * 4) // len(h) + 1))[: FEATURE_DIM * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / 2**32).astype(np.float32)


def extract_features(media: DataFrame) -> DataFrame:
    """Binary media → per-item feature rows (``fake_decode``) via
    Arrow-batched mapInPandas (one Python worker pass per partition;
    payloads never leave the executor)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = [fake_decode(p, k) for p, k in zip(pdf["payload"], pdf["kind"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "content_hash": pdf["payload"].map(
                        lambda b: hashlib.sha1(b).hexdigest()
                    ),
                    "feature": [f.tolist() for f in feats],
                }
            )

    return media.mapInPandas(process, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize stage, STUBBED: emits a deterministic payload
    derived from the source bytes + target dims so partitioning/batching
    is testable.
    Plumbing notes for the real op: the Arrow batch carries raw bytes
    to the worker once; output partitioning is inherited (narrow op)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf[pdf["kind"] == "image"]
            if pdf.empty:
                continue
            tag = f"resized:{width}x{height}:".encode()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": [
                        tag + hashlib.sha1(p).digest() for p in pdf["payload"]
                    ],
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(process, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame sampling: one row per sampled frame (1→N explode in
    the Python stage), STUBBED: N deterministic frame payloads +
    timestamps derived from the source bytes."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf[pdf["kind"] == "video"]
            if pdf.empty:
                continue
            rows = {"media_id": [], "frame_idx": [], "ts_ms": [], "frame": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for k in range(n_frames):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(k)
                    rows["ts_ms"].append(k * 1000)
                    rows["frame"].append(
                        hashlib.sha1(payload + bytes([k])).digest()
                    )
            yield pd.DataFrame(rows)

    return media.mapInPandas(process, schema=FRAME_SCHEMA)


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize a media table from documents (text bytes as the
    opaque payload) — deterministic fixture for plumbing tests."""
    from pyspark.sql import functions as F

    return documents.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(0).cast("int").alias("width"),
        F.lit(0).cast("int").alias("height"),
        F.lit(0).cast("long").alias("duration_ms"),
    )
