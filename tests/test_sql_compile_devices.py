"""SQL-compiled path for device-vs-devices rules: candidate snapshot
positions are plan-time constants, so golden-style specs compile to
pure Catalyst — must match the kernel path row-for-row."""

from __future__ import annotations

import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
from spinix_spark.engine.sql_compile import try_compile_rule_sql

K0 = "c5vj26evvhfjvfseauk0"
OG = "c5vj26evvhfjvfseauog"
KG = "c5vj26evvhfjvfseaukg"

# (spec, expect_sql_path): two-sided devices specs with a buffered
# side only compile when EVERY membership variant is point-target —
# `devices(a) VERB devices(b) :radius X` has a buffered-target variant
# (a member of b's list) so it falls back to the kernel; single-sided
# `device VERB devices(...)` with any candidate buffer compiles.
SPECS = [
    (f"devices({K0}) INTERSECTS devices({OG}) {{ :center 42.922 -72.276 :radius 10km }}", True),
    (f"devices({K0}) NINTERSECTS devices({OG}) :radius 500m {{ :center 42.922 -72.276 :radius 10km }}", False),
    (f"devices({K0}) INTERSECTS devices({OG}) :bbox 500m {{ :center 42.922 -72.276 :radius 10km }}", False),
    (f"device NEAR devices({OG}, {KG}) :radius 300m {{ :center 42.922 -72.276 :radius 10km }}", True),
    (f"device :radius 100m eq devices({OG}) {{ :center 42.922 -72.276 :radius 10km }}", True),
]


def _strip_props(s: str) -> str:
    return s.split("{")[0].strip()


def _mk_engine(spec: str) -> Engine:
    e = Engine()
    e.devices.insert_or_replace(
        {"device_id": OG, "layer_id": "0" * 20, "lat": 42.9236704, "lon": -72.2768608}
    )
    e.devices.insert_or_replace(
        {"device_id": KG, "layer_id": "0" * 20, "lat": 42.9226333, "lon": -72.2732452}
    )
    # props braces would mark the rule stateful → strip and re-add the
    # center explicitly through add_rule's props path
    e.add_rule(spec, rule_id="r" + "0" * 19)
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


@pytest.mark.parametrize("spec,expect_sql", SPECS)
def test_devices_rule_sql_vs_kernel(spark, spec, expect_sql):
    # NOTE: specs carry props braces → stateful → ineligible. Test the
    # stateless form by adding rules without braces but seeding the
    # center via referenced-devices fallback is unavailable — so use
    # an explicit zones-free engine and strip the braces, passing the
    # center through a pre-set spec.props after compile.
    stateless = _strip_props(spec)
    e1 = Engine()
    e1.devices.insert_or_replace(
        {"device_id": OG, "layer_id": "0" * 20, "lat": 42.9236704, "lon": -72.2768608}
    )
    e1.devices.insert_or_replace(
        {"device_id": KG, "layer_id": "0" * 20, "lat": 42.9226333, "lon": -72.2732452}
    )
    from spinix_spark.dsl import compile_spec
    from spinix_spark.engine.detect import Rule
    from spinix_spark.geo.rings import RULE_CIRCLE_STEPS, circle_ring, ring_bbox

    def add_stateless(e: Engine):
        s = compile_spec(stateless)
        s.props.center_lat, s.props.center_lon = 42.922, -72.276
        s.props.radius_m = 10_000.0
        ring = circle_ring(42.922, -72.276, 10_000.0, RULE_CIRCLE_STEPS)
        r = Rule(
            rule_id="r" + "0" * 19,
            spec=s,
            bbox=ring_bbox(ring),
            ring=ring,
        )
        e.rules[r.rule_id] = r
        return r

    r1 = add_stateless(e1)
    plan = try_compile_rule_sql(e1, r1)
    assert (plan is not None) == expect_sql, stateless

    sdf = spark.createDataFrame(_points())
    ev_sql, _ = split_output(detect_batch_spark(sdf, e1, prefer_sql=True))

    e2 = Engine()
    e2.devices.insert_or_replace(
        {"device_id": OG, "layer_id": "0" * 20, "lat": 42.9236704, "lon": -72.2768608}
    )
    e2.devices.insert_or_replace(
        {"device_id": KG, "layer_id": "0" * 20, "lat": 42.9226333, "lon": -72.2732452}
    )
    add_stateless(e2)
    ev_k, _ = split_output(detect_batch_spark(sdf, e2, prefer_sql=False))

    k_sql = _key([r.asDict() for r in ev_sql.collect()])
    k_kernel = _key([r.asDict() for r in ev_k.collect()])
    assert k_sql == k_kernel, f"{stateless}: {k_sql} != {k_kernel}"
