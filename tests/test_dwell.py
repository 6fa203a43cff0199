"""Dwell-time (``:time duration|after``) evaluation — an op that
EXCEEDS the reference: spinix parses the suffix and marks the rule
stateful (runtime.go:270-285) but never calls State.LastVisit/
SetLastVisit (state.go:237-247) from any evaluater. Evaluation is
opt-in (``Engine(eval_dwell=True)``); default-off keeps reference row
parity (test_flag_off_parity pins that).

Semantics pinned here (the dwell half of runtime.fold_state, the one
per-row pass that also advances the trigger):
- a visit opens at the first gated event where the node's predicate
  holds for the object and clears at the first gated miss;
- ``duration D`` is level-triggered: every in-visit event with
  t - first_visit >= D matches;
- ``after D`` is edge-triggered: only the first such event per visit;
- visit state (incl. the ``after`` fired mark, sign-encoded) carries
  across batches through the ``visits`` JSON state column.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, merge_states, split_output
from spinix_spark.engine.stores import zone_from_ring

ZID = "c5vj26evvhfjvfseaumt"
RING = np.array([(9.99, 9.99), (9.99, 10.01), (10.01, 10.01), (10.01, 9.99)])
IN = (10.0, 10.0)
OUT = (10.5, 10.5)
LAYER = "0" * 20
PROPS = "{ :center 10.0 10.0 :radius 200km }"


def _engine(kind: str = "duration", dur: str = "100s", dwell: bool = True) -> Engine:
    engine = Engine(eval_dwell=dwell)
    engine.zones.add(zone_from_ring(ZID, RING))
    engine.add_rule(
        f"device intersects polygon({ZID}) :time {kind} {dur} {PROPS}",
        rule_id="r" + "d" * 19,
    )
    return engine


def _pdf(seq: list[tuple[int, bool]], device: str = "d" + "0" * 19) -> pd.DataFrame:
    rows = [
        {
            "device_id": device,
            "layer_id": LAYER,
            "lat": (IN if inside else OUT)[0],
            "lon": (IN if inside else OUT)[1],
            "datetime": t,
            "url": f"u://{t}",
        }
        for t, inside in seq
    ]
    return pd.DataFrame(rows)


SEQ = [
    (1000, True),   # visit 1 opens (fv=1000)
    (1080, True),   # dwell 80 < 100
    (1120, True),   # dwell 120 -> qualifies
    (1150, True),   # dwell 150 -> qualifies (duration only)
    (1200, False),  # miss clears visit 1
    (1300, True),   # visit 2 opens (fv=1300)
    (1450, True),   # dwell 150 -> qualifies
]


def _event_times(engine: Engine, pdf: pd.DataFrame) -> list[int]:
    ev = engine.detect_batch(pdf)
    return sorted(int(t) for t in ev["datetime"])


def test_duration_level_triggered():
    assert _event_times(_engine("duration"), _pdf(SEQ)) == [1120, 1150, 1450]


def test_after_edge_triggered():
    assert _event_times(_engine("after"), _pdf(SEQ)) == [1120, 1450]


def test_visit_clear_and_reopen():
    # miss resets the anchor: 1300's visit needs its own 100 s
    seq = [(1000, True), (1090, False), (1120, True), (1180, True)]
    assert _event_times(_engine("duration"), _pdf(seq)) == []


def test_flag_off_parity():
    # eval_dwell=False: the suffix only marks the rule stateful (the
    # reference's behavior) — every in-zone event matches
    times = _event_times(_engine("duration", dwell=False), _pdf(SEQ))
    assert times == [1000, 1080, 1120, 1150, 1300, 1450]


def test_per_device_isolation():
    # two devices interleaved in time: visits must not cross-talk.
    # detect_batch folds in row order, so feed device-grouped rows
    # (the Spark path sorts (device_id, datetime) the same way).
    a = _pdf(SEQ, device="d" + "0" * 18 + "1")
    b = _pdf([(1000, True), (1050, False), (1500, True)], device="d" + "0" * 18 + "2")
    engine = _engine("duration")
    ev = engine.detect_batch(pd.concat([a, b], ignore_index=True))
    got = sorted((r["device_id"][-1], int(r["datetime"])) for _, r in ev.iterrows())
    assert got == [("1", 1120), ("1", 1150), ("1", 1450)]


def test_state_rows_carry_visits():
    engine = _engine("after")
    engine.detect_batch(_pdf(SEQ[:3]))  # open visit, fired at 1120
    st = engine.states.lookup_or_make("d" + "0" * 19, "r" + "d" * 19)
    # fired -> sign-encoded as -(first+1), sign-safe at epoch 0
    assert st["visits"] == {f"0:{ZID}": -1001}


@pytest.mark.parametrize("kind,expect2", [("duration", [1500, 1700]), ("after", [])])
def test_spark_state_carry(spark, kind, expect2):
    """Two detect_batch_spark batches with the states carry: batch 1
    ends with an open, already-fired visit; batch 2 continues it
    without a miss — ``after`` must stay silent (fired mark carried
    through the visits JSON column), ``duration`` keeps matching."""
    engine = _engine(kind)
    b1 = spark.createDataFrame(_pdf(SEQ[:3]))
    b2 = spark.createDataFrame(_pdf([(1500, True), (1700, True)]))
    ev1, st1 = split_output(detect_batch_spark(b1, engine))
    assert sorted(int(r["datetime"]) for r in ev1.collect()) == [1120]
    srows = st1.collect()
    assert len(srows) == 1
    visits = json.loads(srows[0]["visits"])
    fired = kind == "after"
    assert visits == {f"0:{ZID}": -1001 if fired else 1000}
    ev2, st2 = split_output(
        detect_batch_spark(b2, engine, states=merge_states(None, st1))
    )
    assert sorted(int(r["datetime"]) for r in ev2.collect()) == expect2
    # the carried-forward state keeps the (possibly fired) anchor
    visits2 = json.loads(st2.collect()[0]["visits"])
    assert visits2 == {f"0:{ZID}": -1001 if fired else 1000}


def test_spark_matches_driver_fold(spark):
    """The Spark kernel path and the driver-side detect_batch produce
    the same dwell events for a multi-device batch."""
    a = _pdf(SEQ, device="d" + "0" * 18 + "1")
    b = _pdf([(900, True), (1040, True), (1100, False), (1200, True)],
             device="d" + "0" * 18 + "2")
    pdf = pd.concat([a, b], ignore_index=True)
    drv = _engine("duration")
    expected = sorted(
        (r["device_id"], int(r["datetime"]))
        for _, r in drv.detect_batch(pdf).iterrows()
    )
    eng = _engine("duration")
    ev, _ = split_output(detect_batch_spark(spark.createDataFrame(pdf), eng))
    got = sorted((r["device_id"], int(r["datetime"])) for r in ev.collect())
    assert got == expected and len(got) > 0


def test_stream_scalable_dwell_state(spark, tmp_path):
    """Dwell visit state persists across micro-batches through the
    bucketed state table (stream_detect_scalable): the visit opened in
    batch 0 qualifies in batch 1, a batch-2 miss clears it and the
    re-opened visit qualifies again within the batch."""
    from spinix_spark.streaming.detect_stream import stream_detect_scalable

    batches = [
        _pdf([(1000, True), (1080, True)]),
        _pdf([(1120, True)]),
        _pdf([(1200, False), (1300, True), (1450, True)]),
    ]
    src = str(tmp_path / "src")
    for b in batches:
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    engine = _engine("duration")
    got: dict[int, list] = {}
    q = stream_detect_scalable(
        stream,
        engine,
        lambda ev, b: got.__setitem__(b, ev.collect()),
        work_dir=str(tmp_path / "work"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    times = {b: sorted(int(r["datetime"]) for r in rows) for b, rows in got.items()}
    assert times == {0: [], 1: [1120], 2: [1450]}
    # the persisted state table carries the visit anchor between batches
    from spinix_spark.streaming.state_table import BucketedVersionTable

    state_t = BucketedVersionTable(spark, str(tmp_path / "work" / "devices"))
    rows = state_t.read_latest(2).select(F.inline("states")).collect()
    assert rows and json.loads(rows[0]["visits"]) == {f"0:{ZID}": 1000}


def test_after_epoch_zero_fired_mark():
    """A visit OPENED at unix ts 0 must still record the ``after``
    fired mark (ADVICE r6: the old sign-encoding stored -first, and
    -0 == 0 lost the mark, re-firing every later qualifying event).
    The mark is now stored as -(first+1)."""
    seq = [(0, True), (50, True), (120, True), (180, True)]
    assert _event_times(_engine("after"), _pdf(seq)) == [120]


def test_dwell_survives_trigger_reset():
    """Pinned divergence (stores.state_reset docstring, ADVICE r6):
    a ``:reset`` interval clears the TRIGGER fields only — the dwell
    visit clock survives, so the event still fires once the visit age
    crosses the threshold even though resets occurred in between.
    (The reference's Reset() clears objectsVisits, but the reference
    never reads them; clearing here would wipe every dwell clock on
    each gated row whenever no :reset is configured, since a zero
    interval means always-reset.)"""
    engine = Engine(eval_dwell=True)
    engine.zones.add(zone_from_ring(ZID, RING))
    engine.add_rule(
        f"device intersects polygon({ZID}) :time duration 100s"
        " { :center 10.0 10.0 :radius 200km :trigger every 1s"
        " :reset after 50s }",
        rule_id="r" + "d" * 19,
    )
    # resets occur between the events (50 s interval < 100 s gap), yet
    # the visit opened at t=1000 still qualifies at t=1100
    assert _event_times(engine, _pdf([(1000, True), (1100, True)])) == [1100]
