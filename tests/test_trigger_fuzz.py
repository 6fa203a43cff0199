"""Randomized distributed-vs-sequential parity for the trigger fold.

A pure-Python simulator replays checkTrigger/changeState
(runtime.go:103-163) sequentially in the pipeline's canonical
(device_id, datetime, url) order; detect_batch_spark — run
multi-partition with tiny Arrow batches and the DataFrame state
carry — must produce the same fired events and final state values for
random datasets and random trigger props, across consecutive batches,
and for one fixed ``every`` sequence with hand-checked events.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import (
    detect_batch_spark,
    merge_states,
    split_output,
)

LAYER = "0" * 20
RULE_ID = "r" + "5" * 19

PROPS = [
    ":trigger once",
    ":trigger every 40s",
    ":trigger 3 times interval 10s",
    ":trigger 2 times interval 0s :reset after 90s",
]


def _rows(seed: int, n: int = 120, n_dev: int = 8) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "url": [f"u{i:03d}" for i in range(n)],
            "device_id": [
                f"d{int(v):019d}" for v in rng.integers(0, n_dev, n)
            ],
            "layer_id": [LAYER] * n,
            "lat": [42.92] * n,
            "lon": [-72.27] * n,
            # coarse timestamps force plenty of ties (url tie-break)
            "datetime": 1000 + rng.integers(0, 12, n) * 25,
            "speed": [0.0] * n,
            "status": rng.integers(0, 2, n),
        }
    )


def _parse_props(props: str):
    import re

    repeat, delay, times, interval, reset = "none", 0.0, 0, 0.0, 24 * 3600.0
    if "once" in props:
        repeat = "once"
    m = re.search(r"every (\d+)s", props)
    if m:
        repeat, delay = "every", float(m.group(1))
    m = re.search(r"(\d+) times interval (\d+)s", props)
    if m:
        repeat, times, interval = "times", int(m.group(1)), float(m.group(2))
    m = re.search(r"reset after (\d+)s", props)
    if m:
        reset = float(m.group(1))
    return repeat, delay, times, interval, reset


def _simulate(batches: list[pd.DataFrame], props: str):
    """Sequential reference fold; returns (per-batch fired url sets,
    final state dict)."""
    repeat, delay, times, interval, reset = _parse_props(props)
    states: dict[str, dict] = {}
    fired_per_batch = []
    for pdf in batches:
        fired = set()
        ordered = pdf.sort_values(["device_id", "datetime", "url"])
        for _, row in ordered.iterrows():
            st = states.setdefault(
                row["device_id"],
                {"now": 0, "last_seen": 0, "last_reset": 0, "hits": 0},
            )
            now = int(row["datetime"])
            if now > 0:
                st["now"] = now
            if (
                reset == 0
                or st["last_reset"] == 0
                or (st["now"] - st["last_reset"]) >= int(reset)
            ):
                st["last_seen"] = 0
                st["hits"] = 0
                st["last_reset"] = st["now"]
            if repeat == "every":
                trig = st["last_seen"] == 0 or (
                    st["now"] - st["last_reset"]
                ) > int(delay)
            elif repeat == "times":
                trig = (st["now"] - st["last_seen"]) >= int(interval) and st[
                    "hits"
                ] < times
            elif repeat == "once":
                trig = st["hits"] == 0
            else:
                trig = True
            if trig:
                st["last_seen"] = st["now"]
                if repeat in ("once", "times"):
                    st["hits"] += 1
                if int(row["status"]) == 1:  # the rule's node
                    fired.add(row["url"])
        fired_per_batch.append(fired)
    return fired_per_batch, states


def _assert_matches_simulator(spark, props: str, batches: list[pd.DataFrame]):
    """Run ``batches`` through detect_batch_spark (6 partitions, 16-row
    Arrow batches, DataFrame state carry) and assert fired urls and
    final states equal the simulator's; returns the fired url sets."""
    rule = f"status eq 1 {{ :center 42.92 -72.27 :radius 5km {props} }}"
    exp_fired, exp_states = _simulate(batches, props)

    engine = Engine()
    engine.add_rule(rule, rule_id=RULE_ID)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        got_fired, carry = [], None
        for pdf in batches:
            p = spark.createDataFrame(pdf).repartition(6)
            out = detect_batch_spark(p, engine, states=carry).cache()
            ev, st = split_output(out)
            got_fired.append({r.url for r in ev.collect()})
            carry = merge_states(carry, st).localCheckpoint()
            out.unpersist()
        got_states = {
            r.device_id: (s.last_seen, s.last_reset, s.hits)
            for r in carry.collect()
            for s in r.states
        }
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    assert got_fired == exp_fired, props
    for did, st in exp_states.items():
        assert got_states[did] == (
            st["last_seen"],
            st["last_reset"],
            st["hits"],
        ), f"state {did} {props}"
    return exp_fired


@pytest.mark.parametrize("props", PROPS)
@pytest.mark.parametrize("seed", [2, 19])
def test_trigger_fold_matches_sequential_simulator(spark, props, seed):
    fired = _assert_matches_simulator(
        spark, props, [_rows(seed), _rows(seed + 1000)]
    )
    # the fold actually fired something — otherwise the test is vacuous
    assert fired[0]


def test_trigger_every_fixed_sequence(spark):
    """``every 10s`` for one device at 1000, 1005, 1011, 1030: the first
    update fires, 1005 is inside the delay, and 1011/1030 are more than
    10 s past the last reset (the 24 h reset interval keeps it at
    1000), so both fire."""
    times = [1000, 1005, 1011, 1030]
    pdf = pd.DataFrame(
        {
            "url": [f"t{t}" for t in times],
            "device_id": "d" + "0" * 19,
            "layer_id": LAYER,
            "lat": 42.92,
            "lon": -72.27,
            "datetime": times,
            "speed": 0.0,
            "status": 1,
        }
    )
    fired = _assert_matches_simulator(spark, ":trigger every 10s", [pdf])
    assert fired == [{"t1000", "t1011", "t1030"}]
