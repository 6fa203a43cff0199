"""Buffered devices and line zones on the Spark detect paths: line
zones compile to Catalyst for point devices (parity with the kernel),
and buffered devices (``:radius`` / ``:bbox``) never compile — they
run on the kernel path, checked here against the sequential
``Engine.detect_batch`` reference."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
from spinix_spark.engine.stores import Zone, zone_from_ring
from spinix_spark.geo.rings import circle_ring

ZPOLY = "c5vj26evvhfjvfseaulg"
ZLINE = "c5vj26evvhfjvfseauk0"
LAYER = "0" * 20

LINE = np.array(
    [
        (42.905, -72.315),
        (42.930, -72.280),
        (42.950, -72.300),
        (42.965, -72.230),
    ]
)


def _pts(n=600, seed=3):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "device_id": [
                "d" + np.base_repr(i % 23, 32).lower().rjust(19, "0")
                for i in range(n)
            ],
            "layer_id": [LAYER] * n,
            "lat": 42.90 + rng.random(n) * 0.07,
            "lon": -72.32 + rng.random(n) * 0.1,
            "datetime": np.arange(n) + 1000,
            "speed": rng.random(n) * 200,
            "status": rng.integers(0, 5, n),
        }
    )


def _engine(rule: str) -> Engine:
    eng = Engine()
    eng.zones.add(zone_from_ring(ZPOLY, circle_ring(42.93, -72.28, 1200.0, 6)))
    eng.zones.add(
        Zone(ZLINE, LAYER, "line", lines=[LINE.astype(np.float64)])
    )
    eng.add_rule(rule, rule_id="r" + "0" * 19)
    return eng


def _canon(ev):
    return sorted(
        (r.url, r.left_kw, r.right_kw, r.op, tuple(r.right_refs))
        for r in ev.collect()
    )


def _both_paths(spark, rule: str):
    sdf = spark.createDataFrame(_pts()).repartition(5)
    ev_sql, _ = split_output(detect_batch_spark(sdf, _engine(rule), prefer_sql=True))
    ev_k, _ = split_output(detect_batch_spark(sdf, _engine(rule), prefer_sql=False))
    a, b = _canon(ev_sql), _canon(ev_k)
    assert a == b, f"rule={rule}: sql={len(a)} kernel={len(b)}"
    return a


POINT_LINE_RULES = [
    f"device INTERSECTS line({ZLINE})",
    f"device NINTERSECTS line({ZLINE}) and speed range [10 .. 180]",
    f"device NEAR line({ZLINE}) or status in [1, 2] {{ :center 42.93 -72.28 :radius 50km }}",
]


@pytest.mark.parametrize("rule", POINT_LINE_RULES)
def test_point_device_line_zone_compiles(spark, rule):
    """Line zones now compile for point devices — and the compiled
    path must match the kernel. (Hits on an exact line are
    measure-zero for random points, so NINTERSECTS/NNEAR carry the
    row weight; the INTERSECTS variant asserts plan eligibility.)"""
    eng = _engine(rule)
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    assert try_compile_rule_sql(eng, eng.rules["r" + "0" * 19]) is not None
    _both_paths(spark, rule)


BUFFERED_RULES = [
    f"device :radius 400m INTERSECTS polygon({ZPOLY})",
    # IN for a buffered device = the buffer CONTAINS the zone
    # (zone_within_poly), so the ring must out-size the 1.2 km zone
    f"device :radius 5km IN polygon({ZPOLY})",
    f"device :radius 300m NEAR line({ZLINE})",
    f"device :bbox 400m INTERSECTS polygon({ZPOLY}) and speed range [20 .. 150]",
    f"device :radius 500m NINTERSECTS polygon({ZPOLY}, {ZLINE})",
]


def test_devices_object_membership_compiles(spark):
    """spDevicesObjectOp (devices(list) vs zone) compiles: membership
    IN gate + delegated zone predicate — parity with the kernel."""
    members = ", ".join(
        "d" + np.base_repr(s, 32).lower().rjust(19, "0") for s in (1, 4, 9)
    )
    rule = f"devices({members}) intersects polygon({ZPOLY})"
    eng = _engine(rule)
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    assert try_compile_rule_sql(eng, eng.rules["r" + "0" * 19]) is not None
    rows = _both_paths(spark, rule)
    assert len(rows) > 0


@pytest.mark.parametrize("rule", BUFFERED_RULES)
def test_buffered_stays_on_kernel_by_default(spark, rule):
    """A buffered device never compiles to Catalyst, and its kernel
    path emits exactly the sequential reference's match rows."""
    eng = _engine(rule)
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    assert try_compile_rule_sql(eng, eng.rules["r" + "0" * 19]) is None
    ev, _ = split_output(
        detect_batch_spark(spark.createDataFrame(_pts()).repartition(5), eng)
    )
    want = sorted(
        (e["url"], m["left_kw"], m["right_kw"], m["op"], tuple(m["right_refs"]))
        for e in _engine(rule).detect_batch(_pts()).to_dict("records")
        for m in e["matches"]
    )
    got = _canon(ev)
    assert got == want, f"rule={rule}: spark={len(got)} reference={len(want)}"
    assert len(got) > 0
