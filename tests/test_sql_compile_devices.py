"""Device-vs-devices rules on the Spark detect path: the distance
comparator to explicit devices compiles to Catalyst (candidate
positions are plan-time constants), every spatial devices verb takes
the kernel stage — and each path must emit Engine.detect_batch's match
rows."""

from __future__ import annotations

import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
from spinix_spark.engine.sql_compile import try_compile_rule_sql

K0 = "c5vj26evvhfjvfseauk0"
OG = "c5vj26evvhfjvfseauog"
KG = "c5vj26evvhfjvfseaukg"

# (spec, compiles): only the distance comparator compiles; the
# spatial verbs (membership-gated, buffered or not, and single-sided
# against a candidate list) are evaluated by the kernel stage alone.
SPECS = [
    (f"devices({K0}) INTERSECTS devices({OG}) {{ :center 42.922 -72.276 :radius 10km }}", False),
    (f"devices({K0}) NINTERSECTS devices({OG}) :radius 500m {{ :center 42.922 -72.276 :radius 10km }}", False),
    (f"devices({K0}) INTERSECTS devices({OG}) :bbox 500m {{ :center 42.922 -72.276 :radius 10km }}", False),
    (f"device NEAR devices({OG}, {KG}) :radius 300m {{ :center 42.922 -72.276 :radius 10km }}", False),
    (f"device :radius 100m eq devices({OG}) {{ :center 42.922 -72.276 :radius 10km }}", True),
]


def _strip_props(s: str) -> str:
    return s.split("{")[0].strip()


def _mk_engine(stateless: str) -> Engine:
    """A two-device snapshot and the rule WITHOUT its props braces
    (braces mark a spec stateful), its center set after compile."""
    from spinix_spark.dsl import compile_spec
    from spinix_spark.engine.detect import Rule
    from spinix_spark.geo.rings import RULE_CIRCLE_STEPS, circle_ring, ring_bbox

    e = Engine()
    e.devices.insert_or_replace(
        {"device_id": OG, "layer_id": "0" * 20, "lat": 42.9236704, "lon": -72.2768608}
    )
    e.devices.insert_or_replace(
        {"device_id": KG, "layer_id": "0" * 20, "lat": 42.9226333, "lon": -72.2732452}
    )
    s = compile_spec(stateless)
    s.props.center_lat, s.props.center_lon = 42.922, -72.276
    s.props.radius_m = 10_000.0
    ring = circle_ring(42.922, -72.276, 10_000.0, RULE_CIRCLE_STEPS)
    r = Rule(rule_id="r" + "0" * 19, spec=s, bbox=ring_bbox(ring), ring=ring)
    e.rules[r.rule_id] = r
    return e


def _points():
    rows = []
    coords = [
        (42.9214863, -72.2759164),
        (42.9236704, -72.2768608),  # exactly at OG's position
        (42.99, -72.35),
    ]
    for i, (la, lo) in enumerate(coords):
        rows.append(
            {
                "url": f"u{i}",
                "device_id": K0,
                "layer_id": "0" * 20,
                "lat": la,
                "lon": lo,
                "datetime": 1000 + i,
                "speed": 0.0,
                "status": 0,
            }
        )
    return pd.DataFrame(rows)


def _key(rows):
    return sorted(
        (r["url"], r["rule_id"], r["left_kw"], r["right_kw"], r["op"],
         tuple(r["right_refs"]))
        for r in rows
    )


@pytest.mark.parametrize("spec,compiles", SPECS)
def test_devices_rule_paths_vs_engine(spark, spec, compiles):
    stateless = _strip_props(spec)
    e = _mk_engine(stateless)
    assert (try_compile_rule_sql(e, e.rules["r" + "0" * 19]) is not None) == compiles

    want = _key(
        {"url": ev["url"], "rule_id": ev["rule_id"], **m}
        for ev in _mk_engine(stateless).detect_batch(_points()).to_dict("records")
        for m in ev["matches"]
    )
    sdf = spark.createDataFrame(_points())
    for prefer_sql in (True, False):
        ev, _ = split_output(
            detect_batch_spark(sdf, _mk_engine(stateless), prefer_sql=prefer_sql)
        )
        got = _key([r.asDict() for r in ev.collect()])
        assert got == want, f"{stateless} prefer_sql={prefer_sql}: {got} != {want}"
