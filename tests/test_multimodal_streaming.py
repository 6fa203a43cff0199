"""Multimodal plumbing + streaming detection tests."""

from __future__ import annotations

import tempfile

import numpy as np
import pandas as pd

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.stores import zone_from_ring
from spinix_spark.multimodal import (
    FEATURE_DIM,
    extract_features,
    fake_decode,
    media_from_documents,
)

K0 = "c5vj26evvhfjvfseauk0"
AULG = "c5vj26evvhfjvfseaulg"


def test_fake_decode_deterministic():
    a = fake_decode(b"hello", "image")
    b = fake_decode(b"hello", "audio")
    assert a.shape == (FEATURE_DIM,)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, fake_decode(b"other", "image"))


def test_multimodal_features(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = media_from_documents(docs)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert len(r.feature) == FEATURE_DIM
    assert len(r.content_hash) == 40
    # deterministic across runs
    rows2 = extract_features(media_from_documents(docs)).collect()
    assert sorted(r.content_hash for r in rows) == sorted(
        r.content_hash for r in rows2
    )


def test_resize_and_frame_sample(spark):
    from spinix_spark.multimodal import resize_images, sample_frames

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = media_from_documents(docs)
    n_img = media.where("kind = 'image'").count()
    n_vid = media.where("kind = 'video'").count()

    resized = resize_images(media, 224, 224)
    rows = resized.collect()
    assert len(rows) == n_img
    assert all(r.width == 224 and r.height == 224 for r in rows)
    assert all(bytes(r.payload).startswith(b"resized:224x224:") for r in rows)

    frames = sample_frames(media, n_frames=3)
    frows = frames.collect()
    assert len(frows) == n_vid * 3
    assert sorted({r.frame_idx for r in frows}) == [0, 1, 2]
    # deterministic: same media → same frame bytes
    frows2 = sample_frames(media_from_documents(docs), n_frames=3).collect()
    assert sorted(bytes(r.frame) for r in frows) == sorted(
        bytes(r.frame) for r in frows2
    )


G3_RING = np.array(
    [
        (42.9238589, -72.2800060),
        (42.9231989, -72.2802743),
        (42.9232461, -72.2790616),
        (42.9239689, -72.2787397),
        (42.9238746, -72.2799953),
        (42.9238589, -72.2800060),
    ]
)


def _points_pdf(n_batches=1):
    return pd.DataFrame(
        {
            "url": [f"https://fixture.test/{K0}/{i}" for i in range(3)],
            "device_id": [K0] * 3,
            "layer_id": ["0" * 20] * 3,
            "lat": [42.9236075, 10.0, 42.9236075],
            "lon": [-72.2792333, 10.0, -72.2792333],
            "datetime": [1000, 1001, 1002],
            "speed": [0.0] * 3,
            "status": [0] * 3,
        }
    )


def test_stream_detect_available_now(spark, tmp_path):
    from spinix_spark.streaming import stream_detect

    src = str(tmp_path / "src")
    pdf = _points_pdf()
    spark.createDataFrame(pdf).write.parquet(src)
    points_stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)

    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    engine.add_rule(f"devices({K0}) INTERSECTS polygon({AULG})")

    collected = []

    def sink(events_df, batch_id):
        collected.extend(events_df.collect())

    q = stream_detect(
        points_stream, engine, sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert len(collected) == 2  # both in-polygon updates fire
    assert all(e.op == "INTERSECTS" for e in collected)
    # snapshot advanced after the batch
    assert engine.devices.lookup(K0) is not None
