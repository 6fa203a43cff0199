"""Hadoop-FileSystem helper round-trips (io/hdfs.py) — the metadata
layer under the bucketed state tables and lineage manifests. Runs on
the local ``file:`` scheme here; the same calls hit s3a/gs/abfs on a
real cluster."""

from __future__ import annotations

import json

from spinix_spark.io import hdfs


def test_text_roundtrip_and_atomic_replace(spark, tmp_path):
    p = str(tmp_path / "m" / "chunk-1.json")
    assert hdfs.read_text(spark, p) is None
    assert not hdfs.exists(spark, p)
    hdfs.write_text_atomic(spark, p, json.dumps({"status": "done", "k": 1}))
    assert hdfs.exists(spark, p)
    assert json.loads(hdfs.read_text(spark, p))["k"] == 1
    # overwrite commits atomically (tmp renamed over the old file)
    hdfs.write_text_atomic(spark, p, json.dumps({"status": "done", "k": 2}))
    assert json.loads(hdfs.read_text(spark, p))["k"] == 2
    assert not hdfs.exists(spark, p + ".tmp")


def test_list_and_delete(spark, tmp_path):
    base = str(tmp_path / "d")
    assert not hdfs.exists(spark, base)
    hdfs.mkdirs(spark, base + "/a")
    hdfs.write_text_atomic(spark, base + "/b.txt", "x")
    assert hdfs.exists(spark, base + "/a") and hdfs.exists(spark, base + "/b.txt")
    hdfs.delete(spark, base + "/a")
    assert not hdfs.exists(spark, base + "/a") and hdfs.exists(spark, base + "/b.txt")
    hdfs.delete(spark, base)
    assert not hdfs.exists(spark, base)
    hdfs.delete(spark, base)  # deleting an absent path is a no-op


def test_unicode_and_large_text(spark, tmp_path):
    p = str(tmp_path / "u.json")
    payload = "héllo ✓ " * 10_000  # > one 4096-byte copy buffer
    hdfs.write_text_atomic(spark, p, payload)
    assert hdfs.read_text(spark, p) == payload
