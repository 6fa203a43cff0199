"""Structured Streaming detection.

The reference's hot path is one-device-at-a-time ``Engine.Detect``
(engine.go:190-225); its natural streaming form is a micro-batch
pipeline: each micro-batch is evaluated against the device-position
snapshot as of the previous batch (the evaluate-then-insert ordering,
engine.go:218-221), then merged into it. Both forms here run
``writeStream.foreachBatch`` over detect_batch_spark, so they share its
rule gate, trigger fold and state rows:

- ``stream_detect``: the dimension-scale form — carries the snapshot
  on the driver and the trigger state as a local-checkpointed
  DataFrame (zones/rules stay broadcast). The stream's
  checkpointLocation restores only the source offsets; a restart
  resumes with empty trigger state.
- ``stream_detect_scalable``: the fact-scale form — each device's
  position and trigger state live in one bucketed, versioned parquet
  table; nothing fact-sized reaches the driver.

``streaming_tile_rollup`` is the windowed tile raster with a
watermark. The keyed ``applyInPandasWithState`` form, with per-device
state in Spark's state store, is keyed_detect.keyed_stream_detect.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import (
    STATE_STRUCT,
    detect_batch_spark,
    merge_states,
    split_output,
)


# stream_detect / snapshot_from_points collect to the driver by design
# (dimension-scale demo forms); refuse loudly past this row count so the
# foot-gun can't silently OOM the driver at fact scale
COLLECT_GUARD_ROWS = 1_000_000


def stream_detect(
    points_stream: DataFrame,
    engine: Engine,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Run detection over a streaming points DataFrame — the
    DIMENSION-SCALE demo form: it maintains the device snapshot on the
    driver (collects each micro-batch), which is only appropriate when
    the device universe is small. The fact-scale forms are
    :func:`stream_detect_scalable` (positions and trigger state in one
    parquet table, no fact-side collect) and
    keyed_detect.keyed_stream_detect (per-device trigger state in
    Spark's state store).

    ``sink(events_df, batch_id)`` receives each micro-batch's event
    rows. The engine's snapshot and trigger state advance between
    micro-batches (batch N sees positions as of batch N-1). The trigger
    state is carried as detect_batch_spark's ``(device_id, states)``
    frame, merged each batch (merge_states) and local-checkpointed, so
    no state row reaches the driver.

    Both live only in memory (the carry and ``engine.devices``), so
    ``checkpoint_dir`` restores just the source offsets: a restarted
    query resumes after the last committed batch with an EMPTY trigger
    state and whatever device snapshot the new engine holds. Use
    :func:`stream_detect_scalable` when state must survive a
    restart."""
    carry: DataFrame | None = None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal carry
        batch_df = batch_df.cache()
        # guard probe: limit(GUARD+1).count() short-circuits after
        # GUARD+1 rows instead of counting the whole batch — the probe
        # costs O(GUARD) regardless of batch size, and the cache it
        # seeds is reused by the detect scan below (one full pass).
        n = batch_df.limit(COLLECT_GUARD_ROWS + 1).count()
        if n > COLLECT_GUARD_ROWS:
            raise ValueError(
                f"stream_detect micro-batch exceeds {COLLECT_GUARD_ROWS} "
                "rows: this demo form collects each batch to the driver "
                "to advance the snapshot; use stream_detect_scalable "
                "(bucketed parquet snapshot, no driver collect) at this "
                "scale"
            )
        # one pipeline run feeds both the sink and the carry
        out = detect_batch_spark(batch_df, engine, states=carry).cache()
        events, states = split_output(out)
        sink(events, batch_id)
        merged = merge_states(carry, states).localCheckpoint()
        if carry is not None:
            _release_checkpoint(carry)
        carry = merged
        out.unpersist()
        engine.devices.merge_batch(
            [r.asDict() for r in batch_df.collect()]
        )
        batch_df.unpersist()

    writer = points_stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint()``ed frame now:
    ``DataFrame.unpersist`` leaves them to the JVM garbage collector."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def stream_detect_scalable(
    points_stream: DataFrame,
    engine: Engine,
    sink: Callable[[DataFrame, int], None],
    work_dir: str,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    at_salt: int = 0,
    retain_versions: int = 2,
    n_buckets: int = 256,
):
    """Fact-scale micro-batch detection: NOTHING fact-sized ever
    reaches the driver, and per-batch state writes are O(delta), not
    O(device universe).

    The stream's state is one table, ``work_dir/devices``: one row per
    device holding its latest position (``device_id, layer_id, lat,
    lon, datetime``, the reference's one record per device,
    devices.go:105-147) and a ``states`` array of its per-rule trigger
    and dwell state (spark_pipeline.STATE_STRUCT, the element
    keyed_detect's GroupState stores too). The table is hash-bucketed
    on device_id and versioned per bucket
    (:class:`~spinix_spark.streaming.state_table.BucketedVersionTable`),
    and all its metadata goes through the Hadoop FileSystem API, so
    ``work_dir`` may be an ``s3a://``/``gs://``/``hdfs://`` path.

    Batch N reads the table once, as of N-1. Its positions are the
    device snapshot, from which the pair join (engine/devices_at.py)
    gives every ``devices(@)`` node its verdict; its ``states`` arrays,
    as stored, join the rules' device_id shuffle as the prior trigger
    state (detect_batch_spark(states=...)). Zones and rules stay
    broadcast (dimension-sized). Evaluate-then-insert
    (engine.go:218-221): after the sink, the prior rows of the buckets
    batch N touches (a semi-join on the bucket id) are merged with the
    batch, as each device's latest position plus its prior states
    overlaid with the batch's emissions (merge_states), and written as
    version N of only those buckets.

    ``retain_versions`` bounds the on-disk history PER BUCKET: each
    bucket keeps its newest ``retain_versions + 1`` versions. The
    replay-idempotency contract (read newest version strictly below
    the replayed batch id, per bucket) only ever needs one predecessor,
    so the default of 2 keeps a safety margin while the footprint stays
    O(retain × table) instead of O(stream lifetime). Pass
    retain_versions=None to keep every version (debugging/audit).
    ``n_buckets`` is a layout constant for the stream's lifetime —
    only non-empty buckets materialise, so the 256 default costs
    nothing at small scale.

    A ``work_dir`` that holds the older two-table layout
    (``snapshot/`` and ``state/``) is refused: resuming from it would
    silently drop every carried trigger state.
    """
    from spinix_spark.engine.devices_at import (
        empty_snapshot_ref_reasons,
        snapshot_df_from_points,
    )
    from spinix_spark.io.hdfs import exists
    from spinix_spark.streaming.state_table import BucketedVersionTable

    # devices(@) rules get their verdict from the devices table through
    # the pair join, whatever their shape; only a rule that reads
    # engine.devices (explicit device refs, a buffered @ candidate)
    # would see an empty snapshot here and silently match nothing
    reasons = empty_snapshot_ref_reasons(engine)
    if reasons:
        raise ValueError(
            "stream_detect_scalable: rule(s) would evaluate against an "
            "empty broadcast device snapshot at fact scale: "
            + "; ".join(reasons)
        )
    old = [
        n
        for n in ("snapshot", "state")
        if exists(points_stream.sparkSession, posixpath.join(work_dir, n))
    ]
    if old:
        raise ValueError(
            f"stream_detect_scalable: {work_dir} holds "
            f"{', '.join(n + '/' for n in old)} from the two-table state "
            "layout; state now lives in one per-device table (devices/) "
            "and cannot be resumed from it. Use an empty work_dir."
        )

    pos_cols = [
        c
        for c in ("device_id", "layer_id", "lat", "lon", "datetime")
        if c in points_stream.columns
    ]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        table = BucketedVersionTable(
            batch_df.sparkSession,
            posixpath.join(work_dir, "devices"),
            n_buckets=n_buckets,
        )
        pts = batch_df.select(*pos_cols)
        prior = table.read_latest(batch_id)
        if prior is None:
            prior = pts.limit(0).withColumn(
                "states", F.lit(None).cast(ArrayType(STATE_STRUCT))
            )
        out = detect_batch_spark(
            batch_df,
            engine,
            states=prior.select("device_id", "states"),
            devices_df=prior.select(*pos_cols),
            at_salt=at_salt,
        ).cache()  # one pipeline run feeds both the sink and the table
        events, states = split_output(out)
        sink(events, batch_id)
        # every state row emitted is a batch device's, so the batch's
        # buckets hold all of them
        touched = table.in_buckets_of(prior, pts)
        rows = snapshot_df_from_points(
            touched.select(*pos_cols).unionByName(pts)
        ).join(
            merge_states(touched.select("device_id", "states"), states),
            "device_id",
            "left",
        )
        table.write_version(rows, batch_id)
        out.unpersist()
        if retain_versions is not None:
            table.prune(retain_versions)

    writer = points_stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_tile_rollup(
    points_stream: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Windowed tile raster over a points stream with late-data
    handling: event-time watermark + tumbling window, grouped by
    (window, cell). State for closed windows is dropped by the
    watermark; the aggregation is partial map-side then keyed by
    (window, cell) — the streaming form of engine/tiles.py rollup."""
    return (
        points_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration), F.col("cell"))
        .agg(
            F.count("*").alias("n_points"),
            F.approx_count_distinct("device_id").alias("n_devices"),
        )
    )
