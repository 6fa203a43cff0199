"""Streaming near-dup ADMISSION filter — the LLM-ingest shape: each
micro-batch of documents is admitted only if it is not a near-duplicate
of anything already admitted (in history OR earlier in the same batch).

Mechanism: a document's MinHash signature yields BANDS band-bucket
keys (the same 16-hash / 4-band family as the batch queries,
queries_text.py); the set of every ADMITTED document's bucket keys is
the stream's state, persisted in a
:class:`~spinix_spark.streaming.state_table.BucketedVersionTable`
hash-bucketed on the bucket key. Per micro-batch:

1. compute the batch's (doc_id, bkey) band buckets (pure Catalyst);
2. read ONLY the state buckets the batch touches (dirty-bucket read —
   O(batch), not O(history));
3. drop docs with any bkey in history, or that lose the
   first-writer-wins race within the batch (min doc_id per bkey —
   deterministic, no chaining: a doc colliding only with a DROPPED
   doc is still dropped, the bucket was claimed);
4. write the admitted docs' bkeys, merged with the history of their
   buckets, as those buckets' next version (O(admitted) write);
5. hand the admitted docs to the sink.

Bucket collision ⇒ near-dup is the standard conservative streaming
admission rule (band probability s^r per band): exact-Jaccard
verification needs the full shingle store and belongs to the batch
pipeline (queries_text.spark_jaccard_lsh / neardup_drop_ids) — run it
as a periodic compaction if admission must be exact.

Replay idempotency rides the state table's per-bucket
"newest version STRICTLY BELOW batch_id" contract: a checkpointed
replay of batch N re-reads the pre-N bucket set, so its admissions
are bit-identical.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spinix_spark.queries_text import (
    _SPARK_X,
    BANDS,
    N_HASHES,
    _minhash_sql_wide_noexplode,
    _wide_band_rows,
    spark_shingles_all,
)
from spinix_spark.streaming.state_table import BucketedVersionTable

BANDS_VIEW = "_sd_batch_docs"


def batch_band_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, bkey) — one row per (doc, band): bkey =
    'band:min0,min1,...' over the band's signature rows. Pure
    Catalyst; the band rows are the batch LSH queries'
    (``queries_text._wide_band_rows``), so the hash family and band
    layout are theirs. The bkey strings are the persisted admission
    state: their text must not change."""
    spark = docs.sparkSession
    docs.select("doc_id", "text").createOrReplaceTempView(BANDS_VIEW)
    sig = _minhash_sql_wide_noexplode(
        spark_shingles_all(table=BANDS_VIEW), _SPARK_X
    )
    mcols = ", ".join(f"CAST(m{r} AS STRING)" for r in range(N_HASHES // BANDS))
    return spark.sql(
        f"SELECT doc_id, CONCAT_WS(':', CAST(band AS STRING), "
        f"CONCAT_WS(',', {mcols})) AS bkey FROM ({_wide_band_rows(f'({sig})')}) b"
    )


def admission_batch(
    batch_df: DataFrame, table: BucketedVersionTable, batch_id: int
) -> DataFrame:
    """One micro-batch of the admission fold (steps 1-4 of the module
    contract): returns the ADMITTED rows of ``batch_df`` and appends
    their band keys as the touched state buckets' version
    ``batch_id``. Shared by the Structured Streaming ``foreachBatch``
    path and the batch-replay gate query
    (queries_text.spark_stream_admission) — one implementation, two
    drivers, so the driver's value oracle exercises the real code."""
    bk = batch_band_buckets(batch_df).cache()
    touched = table.dirty_buckets(bk)
    hist = table.read_latest(batch_id, buckets=touched)
    # historical collision: any band bucket already admitted
    if hist is not None:
        hist_hit = (
            bk.join(hist, "bkey", "left_semi").select("doc_id").distinct()
        )
    else:
        hist_hit = bk.select("doc_id").where(F.lit(False))
    # within-batch first-writer-wins: min doc_id per bkey (NON-chaining:
    # a doc colliding only with a dropped doc is still dropped — the
    # bucket was claimed)
    batch_hit = (
        bk.withColumn("_mn", F.min("doc_id").over(Window.partitionBy("bkey")))
        .where(F.col("doc_id") != F.col("_mn"))
        .select("doc_id")
        .distinct()
    )
    dropped = hist_hit.unionByName(batch_hit).distinct()
    admitted = batch_df.join(dropped, "doc_id", "left_anti").cache()
    # state append: admitted docs' bkeys join their prior buckets; a
    # touched bucket whose docs were ALL dropped gets no new version
    # (history there is already authoritative)
    adm_keys = (
        bk.join(admitted.select("doc_id"), "doc_id", "left_semi")
        .select("bkey")
        .distinct()
    )
    if hist is not None:
        adm_keys = (
            table.in_buckets_of(hist, adm_keys).unionByName(adm_keys).distinct()
        )
    table.write_version(adm_keys, batch_id)
    bk.unpersist()
    return admitted


def stream_neardup_filter(
    docs_stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    work_dir: str,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    n_buckets: int = 256,
    retain_versions: int = 2,
):
    """Admission-filter a streaming documents DataFrame
    (``doc_id``, ``text``, other columns pass through).
    ``sink(admitted_df, batch_id)`` receives each batch's admitted
    rows. State: the admitted bucket-key set under
    ``work_dir/buckets`` (Hadoop-FS path — object stores fine)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        table = BucketedVersionTable(
            spark,
            posixpath.join(work_dir, "buckets"),
            key_col="bkey",
            n_buckets=n_buckets,
        )
        admitted = admission_batch(batch_df, table, batch_id)
        sink(admitted, batch_id)
        if retain_versions is not None:
            table.prune(retain_versions)
        admitted.unpersist()

    writer = docs_stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
