"""Keyed streaming detect: store-backed per-device state."""

from __future__ import annotations

import numpy as np
import pandas as pd

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.stores import zone_from_ring
from spinix_spark.streaming.keyed_detect import keyed_stream_detect

K0 = "c5vj26evvhfjvfseauk0"
OG = "c5vj26evvhfjvfseauog"
AULG = "c5vj26evvhfjvfseaulg"

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


def test_keyed_stream_detect_trigger_once(spark, tmp_path):
    # two devices; K0 sends 3 in-zone updates, OG sends 1 out-of-zone
    pdf = pd.DataFrame(
        {
            "device_id": [K0, K0, K0, OG],
            "url": [f"u{i}" for i in range(4)],
            "layer_id": ["0" * 20] * 4,
            "lat": [42.9236075, 42.9236075, 42.9236075, 10.0],
            "lon": [-72.2792333] * 3 + [10.0],
            "datetime": [1000, 1001, 1002, 1000],
            "speed": [0.0] * 4,
            "status": [0] * 4,
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)

    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    # trigger once: only the FIRST in-zone update fires per device
    engine.add_rule(
        f"device INTERSECTS polygon({AULG})"
        " { :center 42.9236 -72.2795 :radius 5km :trigger once }",
        rule_id="r" + "0" * 19,
    )

    out = keyed_stream_detect(stream, engine)
    q = (
        out.writeStream.format("memory")
        .queryName("keyed_events")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM keyed_events").collect()
    assert len(rows) == 1  # trigger-once suppressed updates 2 and 3
    assert rows[0].device_id == K0 and rows[0].right_refs == [AULG]
    assert rows[0].datetime == 1000  # the first (event-time ordered) update


def test_keyed_stream_rejects_device_vs_device(spark):
    """The keyed form has no cross-device snapshot: devices(...) verbs
    must raise loudly instead of silently matching nothing."""
    import pytest

    from spinix_spark.engine.detect import Engine
    from spinix_spark.streaming.keyed_detect import keyed_stream_detect

    eng = Engine()
    eng.add_rule(
        "device :radius 300m intersects devices(@)"
        " { :center 42.92 -72.27 :radius 50km }",
        rule_id="r" + "9" * 19,
    )
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(ValueError, match="stream_detect_scalable"):
        keyed_stream_detect(stream, eng)


def _run_keyed(spark, engine, batches, tmp_path):
    """Feed each pandas batch to keyed_stream_detect as its own
    micro-batch (one availableNow run per batch over a growing parquet
    source, one checkpoint); returns the event rows of each run."""
    src = str(tmp_path / "src")
    runs = []
    for pdf in batches:
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        got = []
        q = (
            keyed_stream_detect(stream, engine)
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        runs.append(got)
    return runs


def test_keyed_trigger_once_across_arrow_chunks(spark, tmp_path):
    """A group's rows arrive in several Arrow chunks and out of event
    order: the fold must see the whole group sorted by (datetime, url),
    so ``:trigger once`` fires at the earliest update, 1000."""
    times = [1005, 1004, 1003, 1002, 1001, 1000]
    pdf = pd.DataFrame(
        {
            "device_id": K0,
            "url": [f"u{t}" for t in times],
            "layer_id": "0" * 20,
            "lat": 42.9236075,
            "lon": -72.2792333,
            "datetime": times,
            "speed": 0.0,
            "status": 0,
        }
    )
    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    engine.add_rule(
        f"device INTERSECTS polygon({AULG})"
        " { :center 42.9236 -72.2795 :radius 5km :trigger once }",
        rule_id="r" + "0" * 19,
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        (rows,) = _run_keyed(spark, engine, [pdf], tmp_path)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert [r.datetime for r in rows] == [1000]


def test_keyed_dwell_matches_simulator(spark, tmp_path):
    """One dwell-fuzz world (tests/test_dwell_fuzz.py) through the keyed
    surface with ``Engine(eval_dwell=True)``: two micro-batches, visit
    state carried in the state store, events equal the independent
    simulator's."""
    from test_dwell_fuzz import _engine, _rows, _simulate

    batches = [_rows(42 + i, n=120, n_dev=5) for i in range(2)]
    want = _simulate(batches, "after", 25)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "13")
    try:
        runs = _run_keyed(
            spark,
            _engine("after", 25),
            [b.drop(columns=["_hit"]) for b in batches],
            tmp_path,
        )
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    got = [(bno, r.device_id, r.datetime) for bno, rows in enumerate(runs) for r in rows]
    assert sorted(got) == want and len(want) > 0


def test_keyed_match_rows_equal_engine(spark, tmp_path):
    """Full match rows of the keyed surface equal Engine.detect_batch's
    for a two-node OR rule with a trigger-less props block, including
    rows where both nodes match and one row emits two matches."""
    rule = (
        f"device intersects polygon({AULG}) or speed range [30 .. 120]"
        " { :center 42.9236 -72.2795 :radius 5km }"
    )
    in_zone = (42.9236075, -72.2792333)
    off_zone = (42.9300000, -72.2700000)  # in the rule bbox
    spots = [in_zone, in_zone, off_zone, off_zone]
    speeds = [50.0, 0.0, 60.0, 0.0]  # both, zone only, speed only, neither
    n = 12
    pdf = pd.DataFrame(
        {
            "device_id": [(K0, OG)[i % 2] for i in range(n)],
            "url": [f"u{i}" for i in range(n)],
            "layer_id": "0" * 20,
            "lat": [spots[i % 4][0] for i in range(n)],
            "lon": [spots[i % 4][1] for i in range(n)],
            "datetime": [1000 + 10 * i for i in range(n)],
            "speed": [speeds[i % 4] for i in range(n)],
            "status": 0,
        }
    )

    def engine():
        eng = Engine()
        eng.zones.add(zone_from_ring(AULG, G3_RING))
        eng.add_rule(rule, rule_id="r" + "0" * 19)
        return eng

    want = sorted(
        (e["device_id"], e["url"], e["rule_id"], m["left_kw"], m["right_kw"],
         m["op"], tuple(sorted(m["right_refs"])), e["datetime"])
        for e in engine().detect_batch(pdf).to_dict("records")
        for m in e["matches"]
    )
    (rows,) = _run_keyed(spark, engine(), [pdf], tmp_path)
    got = sorted(
        (r.device_id, r.url, r.rule_id, r.left_kw, r.right_kw, r.op,
         tuple(sorted(r.right_refs)), r.datetime)
        for r in rows
    )
    assert got == want
    per_url = pd.Series([g[1] for g in got]).value_counts()
    assert (per_url == 2).any() and (per_url == 1).any()
