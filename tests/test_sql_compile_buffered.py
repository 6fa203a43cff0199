"""Buffered devices, line zones and device-list membership on the
Spark detect path: no spatial verb compiles to Catalyst, and the
kernel stage must emit exactly the sequential ``Engine.detect_batch``
reference's match rows."""

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


def _kernel_vs_reference(spark, rule: str):
    """The rule does not compile; detect_batch_spark's rows equal
    Engine.detect_batch's."""
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    eng = _engine(rule)
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
    return got


POINT_LINE_RULES = [
    f"device INTERSECTS line({ZLINE})",
    f"device NINTERSECTS line({ZLINE}) and speed range [10 .. 180]",
    f"device NEAR line({ZLINE}) or status in [1, 2] {{ :center 42.93 -72.28 :radius 50km }}",
]


@pytest.mark.parametrize("rule", POINT_LINE_RULES)
def test_point_device_line_zone_matches_reference(spark, rule):
    """Line zones for point devices. (Hits on an exact line are
    measure-zero for random points, so NINTERSECTS/NNEAR carry the
    row weight.)"""
    _kernel_vs_reference(spark, rule)


BUFFERED_RULES = [
    f"device :radius 400m INTERSECTS polygon({ZPOLY})",
    # IN for a buffered device = the buffer CONTAINS the zone
    # (zone_within_poly), so the ring must out-size the 1.2 km zone
    f"device :radius 5km IN polygon({ZPOLY})",
    f"device :radius 300m NEAR line({ZLINE})",
    f"device :bbox 400m INTERSECTS polygon({ZPOLY}) and speed range [20 .. 150]",
    f"device :radius 500m NINTERSECTS polygon({ZPOLY}, {ZLINE})",
]


def test_devices_object_membership_matches_reference(spark):
    """spDevicesObjectOp (devices(list) vs zone): membership gate +
    delegated zone predicate."""
    members = ", ".join(
        "d" + np.base_repr(s, 32).lower().rjust(19, "0") for s in (1, 4, 9)
    )
    rows = _kernel_vs_reference(
        spark, f"devices({members}) intersects polygon({ZPOLY})"
    )
    assert len(rows) > 0


@pytest.mark.parametrize("rule", BUFFERED_RULES)
def test_buffered_stays_on_kernel_by_default(spark, rule):
    """A buffered device never compiles to Catalyst, and its kernel
    path emits exactly the sequential reference's match rows."""
    assert len(_kernel_vs_reference(spark, rule)) > 0
