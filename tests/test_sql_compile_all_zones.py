"""``polygon(@)`` point-device rules never compile to Catalyst: the
kernel stage evaluates them, with the Near-prefilter candidate
universe, and must emit exactly Engine.detect_batch's match rows."""

from __future__ import annotations

import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
from spinix_spark.engine.sql_compile import try_compile_rule_sql
from spinix_spark.engine.stores import zone_from_ring
from spinix_spark.geo.rings import circle_ring

K0 = "c5vj26evvhfjvfseauk0"
Z1 = "c5vj26evvhfjvfseaulg"
Z2 = "c5vj26evvhfjvfseauk0"


def _mk_engine(spec: str) -> Engine:
    # `@`-rules require :center props, and braces props mark a rule
    # stateful in the reference (PropExpr → isStateful); to exercise
    # the stateless path, build the Rule directly with a manual
    # geofence — the documented API for engine-managed rules.
    from spinix_spark.dsl import compile_spec
    from spinix_spark.engine.detect import Rule
    from spinix_spark.geo.rings import RULE_CIRCLE_STEPS, ring_bbox

    e = Engine()
    e.zones.add(zone_from_ring(Z1, circle_ring(42.92, -72.27, 700.0, 6)))
    e.zones.add(zone_from_ring(Z2, circle_ring(42.94, -72.25, 500.0, 5)))
    s = compile_spec(spec)
    s.props.center_lat, s.props.center_lon, s.props.radius_m = 42.93, -72.26, 50_000.0
    ring = circle_ring(42.93, -72.26, 50_000.0, RULE_CIRCLE_STEPS)
    r = Rule(rule_id="r" + "0" * 19, spec=s, bbox=ring_bbox(ring), ring=ring)
    e.rules[r.rule_id] = r
    return e


def _points():
    coords = [
        (42.92, -72.27),        # inside Z1
        (42.94, -72.25),        # inside Z2
        (42.9205, -72.2702),    # inside Z1 (off-center)
        (42.93, -72.26),        # between zones
        (43.2, -72.9),          # far away
    ]
    return pd.DataFrame(
        [
            {
                "url": f"u{i}",
                "device_id": K0,
                "layer_id": "0" * 20,
                "lat": la,
                "lon": lo,
                "datetime": 1000 + i,
                "speed": 50.0,
                "status": 0,
            }
            for i, (la, lo) in enumerate(coords)
        ]
    )


def _key(rows):
    return sorted(
        (r["url"], r["left_kw"], r["right_kw"], r["op"], tuple(r["right_refs"]))
        for r in rows
    )


@pytest.mark.parametrize(
    "spec",
    [
        "device INTERSECTS polygon(@)",
        "device NINTERSECTS polygon(@)",
        "device NEAR polygon(@)",
        "device NIN polygon(@)",
        "device INTERSECTS polygon(@) and speed range [30 .. 120]",
        # `@` plus an explicit id parses to refs=[Z1], all=True: the
        # kernel and Engine.detect_batch match nothing for it
        f"device INTERSECTS polygon(@{Z1})",
    ],
)
def test_all_zones_kernel_vs_engine(spark, spec):
    e1 = _mk_engine(spec)
    assert try_compile_rule_sql(e1, e1.rules["r" + "0" * 19]) is None, spec
    sdf = spark.createDataFrame(_points())
    ev, _ = split_output(detect_batch_spark(sdf, e1))
    k_spark = _key([r.asDict() for r in ev.collect()])
    k_engine = _key(
        {"url": e["url"], **m}
        for e in _mk_engine(spec).detect_batch(_points()).to_dict("records")
        for m in e["matches"]
    )
    assert k_spark == k_engine, f"{spec}: {k_spark} != {k_engine}"
