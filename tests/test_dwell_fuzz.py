"""Randomized parity for the dwell half of the state fold
(runtime.fold_state).

An INDEPENDENT pure-Python simulator replays the documented dwell
semantics (visit opens on first hit, clears on first miss;
``duration D`` level-triggered, ``after D`` edge-triggered) over
random per-device hit sequences; the driver-side engine fold — and,
for a sample of seeds, the distributed kernel path with tiny Arrow
batches and the DataFrame state carry — must match event-for-event
across consecutive batches. Also pins the structural invariants:
after-events are a subset of duration-events, at most one per
(device, visit).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, merge_states, split_output
from spinix_spark.engine.stores import zone_from_ring

ZID = "c5vj26evvhfjvfseaumt"
RING = np.array([(9.99, 9.99), (9.99, 10.01), (10.01, 10.01), (10.01, 9.99)])
IN = (10.0, 10.0)
OUT = (10.5, 10.5)
LAYER = "0" * 20
RULE_ID = "r" + "e" * 19


def _engine(kind: str, dur_s: int) -> Engine:
    engine = Engine(eval_dwell=True)
    engine.zones.add(zone_from_ring(ZID, RING))
    engine.add_rule(
        f"device intersects polygon({ZID}) :time {kind} {dur_s}s"
        " { :center 10.0 10.0 :radius 200km }",
        rule_id=RULE_ID,
    )
    return engine


def _rows(seed: int, n: int = 90, n_dev: int = 6) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    dev = rng.integers(0, n_dev, n)
    # unique (device, datetime): distinct global times, shuffled
    times = rng.permutation(np.arange(n) * 7 + 100)
    hit = rng.random(n) < 0.6
    pdf = pd.DataFrame(
        {
            "url": [f"u{i:03d}" for i in range(n)],
            "device_id": [f"d{int(d):019d}" for d in dev],
            "layer_id": LAYER,
            "lat": np.where(hit, IN[0], OUT[0]),
            "lon": np.where(hit, IN[1], OUT[1]),
            "datetime": times.astype(np.int64),
            "_hit": hit,
        }
    )
    return pdf.sort_values(["device_id", "datetime"]).reset_index(drop=True)


def _simulate(batches: list[pd.DataFrame], kind: str, dur_s: int):
    """Independent reference fold — per device: (first_visit, fired)."""
    state: dict[str, tuple[int, bool]] = {}
    events = []
    for bno, pdf in enumerate(batches):
        for _, r in pdf.iterrows():
            d = r["device_id"]
            if not r["_hit"]:
                state.pop(d, None)
                continue
            t = int(r["datetime"])
            fv, fired = state.get(d, (t, False))
            if t - fv >= dur_s:
                if kind == "duration":
                    events.append((bno, d, t))
                elif not fired:
                    events.append((bno, d, t))
                    fired = True
            state[d] = (fv, fired)
    return sorted(events)


def _drive(batches: list[pd.DataFrame], kind: str, dur_s: int):
    engine = _engine(kind, dur_s)
    events = []
    for bno, pdf in enumerate(batches):
        ev = engine.detect_batch(pdf.drop(columns=["_hit"]))
        events += [(bno, r["device_id"], int(r["datetime"])) for _, r in ev.iterrows()]
    return sorted(events)


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("kind", ["duration", "after"])
def test_engine_matches_simulator(seed, kind):
    rng = np.random.default_rng(seed + 1000)
    dur_s = int(rng.integers(5, 120))
    batches = [_rows(seed * 3 + i) for i in range(2)]
    assert _drive(batches, kind, dur_s) == _simulate(batches, kind, dur_s)


def test_after_subset_of_duration():
    for seed in range(6):
        batches = [_rows(seed * 7 + i) for i in range(2)]
        dur = _simulate(batches, "duration", 30)
        aft = _simulate(batches, "after", 30)
        assert set(aft) <= set(dur)


@pytest.mark.parametrize("kind", ["duration", "after"])
def test_spark_matches_simulator(spark, kind):
    """Distributed kernel path, tiny Arrow batches, states carry
    across two batches — must equal the independent simulator."""
    seed = 42
    dur_s = 25
    batches = [_rows(seed + i, n=120, n_dev=5) for i in range(2)]
    want = _simulate(batches, kind, dur_s)
    engine = _engine(kind, dur_s)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "13")
    try:
        carry = None
        got = []
        for bno, pdf in enumerate(batches):
            df = spark.createDataFrame(pdf.drop(columns=["_hit"]))
            out = detect_batch_spark(df, engine, states=carry).cache()
            ev, st = split_output(out)
            got += [
                (bno, r["device_id"], int(r["datetime"])) for r in ev.collect()
            ]
            carry = merge_states(carry, st).localCheckpoint()
            out.unpersist()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert sorted(got) == want and len(want) > 0
