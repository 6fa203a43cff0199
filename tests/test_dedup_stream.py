"""Streaming near-dup admission filter: history suppression,
within-batch first-writer-wins, state append through the bucketed
table, and dirty-bucket-only state writes."""

from __future__ import annotations

import pandas as pd

from spinix_spark.streaming.dedup_stream import stream_neardup_filter

# >= SHINGLE_W words; A/A2 share every 3-shingle except none differ →
# identical text = identical signature = same buckets; C is disjoint
DOC_A = "the quick brown fox jumps over the lazy dog again today"
DOC_C = "completely different words about spark streaming state tables here now"


def _feed(spark, src, batch_rows):
    pdf = pd.DataFrame(batch_rows, columns=["doc_id", "text"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)


def _run(spark, tmp_path, got):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 10)
        .parquet(str(tmp_path / "src"))
    )

    def sink(df, batch_id):
        got[batch_id] = sorted(r.doc_id for r in df.collect())

    q = stream_neardup_filter(
        stream,
        sink,
        work_dir=str(tmp_path / "work"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)


def test_streaming_admission(spark, tmp_path):
    src = str(tmp_path / "src")
    got: dict[int, list] = {}
    # batch 0: A admitted; A-dup (same text, higher id) loses the
    # within-batch race; C admitted
    _feed(spark, src, [(1, DOC_A), (2, DOC_A), (3, DOC_C)])
    _run(spark, tmp_path, got)
    assert got[0] == [1, 3]

    # batch 1: another A-dup is suppressed BY HISTORY; a fresh doc
    # passes
    fresh = "brand new sentences mentioning geofences tiles and rasters properly"
    _feed(spark, src, [(4, DOC_A), (5, fresh)])
    _run(spark, tmp_path, got)
    assert got[1] == [5]

    # batch 2: duplicates of BOTH historical docs suppressed
    _feed(spark, src, [(6, DOC_C), (7, fresh)])
    _run(spark, tmp_path, got)
    assert got[2] == []


def test_streaming_admission_dirty_buckets_only(spark, tmp_path):
    """A batch whose docs all duplicate history writes NO new state
    version — admission state I/O is O(admitted), not O(batch)."""
    from spinix_spark.streaming.state_table import BucketedVersionTable

    src = str(tmp_path / "src")
    got: dict[int, list] = {}
    _feed(spark, src, [(1, DOC_A), (2, DOC_C)])
    _run(spark, tmp_path, got)
    table = BucketedVersionTable(
        spark, str(tmp_path / "work" / "buckets"), key_col="bkey"
    )
    bv0 = table.bucket_versions()
    assert bv0 and all(vs == [0] for vs in bv0.values())

    _feed(spark, src, [(10, DOC_A), (11, DOC_C)])  # all duplicates
    _run(spark, tmp_path, got)
    assert got[1] == []
    assert table.bucket_versions() == bv0  # no bucket rewritten


# sha256 of the sorted "doc_id\tbkey\n" lines of batch_band_buckets
# over the first 60 sf0.001 documents, taken before the band rows moved
# onto queries_text._wide_band_rows: the bkey strings are persisted
# admission state, so their text must never move
BKEY_DIGEST = "cf9ce75f0f86bfe288ebc9e64f8f150062eac6d92a2eaaf535677eb0a11bda4f"


def test_band_bucket_keys_are_pinned(spark):
    import hashlib

    from spinix_spark.streaming.dedup_stream import batch_band_buckets

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(60)
    )
    rows = sorted((int(r.doc_id), r.bkey) for r in batch_band_buckets(docs).collect())
    assert len(rows) == 60 * 4
    text = "".join(f"{d}\t{k}\n" for d, k in rows)
    assert hashlib.sha256(text.encode()).hexdigest() == BKEY_DIGEST
