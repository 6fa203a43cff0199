"""Keyed streaming detection: per-device state in Spark's state store.

``stream_detect`` (detect_stream.py) carries snapshot/trigger state on
the driver between micro-batches — fine for dimension-scale state.
This module is the fact-scale form: the stream is keyed by device_id
and evaluated in ``applyInPandasWithState``, so

- each device's per-rule trigger and dwell state lives in the state
  store, sharded by the grouping key (RocksDB/HDFS-backed on a real
  cluster, checkpointed with the query), as the same state rows
  detect_batch_spark emits (``spark_pipeline.STATE_COLS``);
- all of a device's rows in a micro-batch are concatenated and sorted
  once by (datetime, url), then run through the kernel stage that
  detect_batch_spark uses (``spark_pipeline.kernel_event_frames``: bbox
  gate, ``eval_spec_full`` with its one trigger and dwell fold, columnar
  event rows) — the reference's sequential evaluate-then-insert order
  per device (engine.go:218-221), independent of Arrow batch
  boundaries;
- zones + compiled rules ride a broadcast variable.

Scope (documented): zone rules, attribute rules, trigger state, and
dwell (``:time duration|after``) under ``Engine(eval_dwell=True)``.
Device-vs-device ``@`` verbs need a cross-device snapshot and route
through the micro-batch form or the pair-join operators instead
(engine/joins.py) — a keyed stream cannot see other keys by design.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.runtime import Reference
from spinix_spark.engine.spark_pipeline import (
    STATE_COLS,
    STATE_STRUCT,
    _state_rows_frame,
    _state_seed_rows,
    kernel_event_frames,
)
from spinix_spark.engine.stores import DeviceSnapshot, StateStore

EVENT_SCHEMA = StructType(
    [
        StructField("device_id", StringType()),
        StructField("url", StringType()),
        StructField("rule_id", StringType()),
        StructField("left_kw", StringType()),
        StructField("right_kw", StringType()),
        StructField("op", StringType()),
        StructField("right_refs", ArrayType(StringType())),
        StructField("datetime", LongType()),
    ]
)

# state: the device's (rule) state rows — STATE_COLS minus the
# grouping key
STATE_SCHEMA = StructType([StructField("states", ArrayType(STATE_STRUCT))])


def make_keyed_detect_fn(payload_broadcast):
    """Build the applyInPandasWithState update function. ``payload``:
    {"zones": ZoneStore, "rules": [(rule_id, CompiledSpec, bbox)],
    "eval_dwell": bool}."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (device_id,) = key
        p = payload_broadcast.value
        chunks = [c for c in pdfs if not c.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(
            [c for c in ("datetime", "url") if c in pdf.columns]
        ).reset_index(drop=True)
        states = StateStore()
        if state.exists:
            states.load(_state_seed_rows(device_id, state.get[0]))
        ref = Reference(zones=p["zones"], devices=DeviceSnapshot(), states=states)
        frames = kernel_event_frames(p["rules"], pdf, ref, p["eval_dwell"])
        snap = states.snapshot()
        if snap:
            rows = _state_rows_frame(snap)[STATE_COLS[1:]].to_dict("records")
            state.update((rows,))
        if frames:
            yield pd.concat(frames, ignore_index=True)[EVENT_SCHEMA.names]

    return update


def keyed_stream_detect(points_stream: DataFrame, engine: Engine) -> DataFrame:
    """points stream → per-device keyed detection with store-backed
    trigger and dwell state. Returns the streaming events DataFrame; attach a
    writeStream sink + checkpointLocation to run.

    Raises on rules with device-vs-device nodes: a keyed stream cannot
    see other keys, so the per-key evaluation runs against an EMPTY
    device snapshot — ``devices(...)`` verbs would silently match
    nothing (and even constant candidates would be stale, since their
    positions update under other keys). Those rules route through
    stream_detect_scalable (pair-join @ strategy) instead."""
    from spinix_spark.dsl.compiler import (
        EqualDevicesOp,
        SpDDevicesOp,
        SpDevicesOp,
    )

    for r in engine.rules.values():
        for n in r.spec.nodes:
            if isinstance(n, (SpDevicesOp, SpDDevicesOp, EqualDevicesOp)):
                raise ValueError(
                    f"rule {r.rule_id}: device-vs-device nodes "
                    f"({type(n).__name__}) are outside keyed_stream_detect's "
                    "scope (per-key evaluation has no cross-device snapshot "
                    "— the verb would silently match nothing); use "
                    "stream_detect_scalable"
                )
    sc = points_stream.sparkSession.sparkContext
    payload = {
        "zones": engine.zones,
        "rules": [(r.rule_id, r.spec, r.bbox) for r in engine.rules.values()],
        "eval_dwell": engine.eval_dwell,
    }
    b = sc.broadcast(payload)
    fn = make_keyed_detect_fn(b)
    return points_stream.groupBy("device_id").applyInPandasWithState(
        fn,
        outputStructType=EVENT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
