"""What compiles to Catalyst: attribute and distance rules, and point
``devices(@)`` nodes whose pair-join verdict column is in the schema
(detect_batch_spark adds it when given the snapshot as a DataFrame).
Every other spatial verb — a point or buffered device, or a device
list, against explicit zones, ``polygon(@)``, line zones, explicit
devices or buffered ``@`` candidates — is evaluated by the kernel stage
alone, so a registry of spatial rules plans one kernel stage instead
of a union of compiled scans."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.devices_at import is_at_node
from spinix_spark.engine.runtime import at_verdict_col
from spinix_spark.engine.spark_pipeline import detect_batch_spark
from spinix_spark.engine.sql_compile import try_compile_rule_sql
from spinix_spark.engine.stores import Zone, zone_from_ring
from spinix_spark.geo.rings import circle_ring

LAYER = "0" * 20
Z = "c5vj26evvhfjvfseaulg"
ZL = "c5vj26evvhfjvfseauk0"
X1 = "c5vj26evvhfjvfseauog"
X2 = "c5vj26evvhfjvfseaukg"
PROPS = "{ :center 42.93 -72.27 :radius 20km }"

# (spec, compiles)
SHAPES = [
    # explicit zones, every verb family, alone and with a companion
    (f"device intersects polygon({Z}) {PROPS}", False),
    (f"device NEAR polygon({Z}) {PROPS}", False),
    (f"device NINTERSECTS polygon({Z}, {ZL}) {PROPS}", False),
    (f"device IN polygon({Z}) and speed range [30 .. 120] {PROPS}", False),
    # polygon(@)
    (f"device intersects polygon(@) {PROPS}", False),
    (f"device NIN polygon(@) {PROPS}", False),
    # line zones
    (f"device intersects line({ZL}) {PROPS}", False),
    # devices(list) VERB polygon
    (f"devices({X1}, {X2}) intersects polygon({Z}) {PROPS}", False),
    # device VERB devices(list): point and :radius candidates
    (f"device NEAR devices({X1}, {X2}) {PROPS}", False),
    (f"device intersects devices({X1}, {X2}) :radius 2km {PROPS}", False),
    # devices(A) VERB devices(B)
    (f"devices({X1}) intersects devices({X2}) {PROPS}", False),
    # attribute and distance rules still compile
    (f"speed range [30 .. 120] {PROPS}", True),
    (f'day eq "Wednesday" and status in [1, 2] {PROPS}', True),
    (f'datetime range ["2023-11-14T23:00:00Z" .. "2023-11-15T08:00:00Z"] {PROPS}', True),
    (f"device :radius 1km lt devices({X1}, {X2}) {PROPS}", True),
    (f"device :radius 1km gte polygon({Z}) or speed gt 100 {PROPS}", True),
    # point devices(@): compiles only with its verdict column in the
    # schema — alone, in an OR fold, twice in one rule; a buffered @
    # candidate, a zone-verb companion or a :trigger keeps the kernel
    (f"device :radius 300m intersects devices(@) {PROPS}", True),
    (f"device NEAR devices(@) or speed gt 100 {PROPS}", True),
    (
        f"device :radius 300m intersects devices(@) and device :bbox 1km NINTERSECTS"
        f" devices(@) {PROPS}",
        True,
    ),
    (f"device intersects devices(@) :radius 2km {PROPS}", False),
    (f"device :radius 300m intersects devices(@) and device IN polygon({Z}) {PROPS}", False),
    (
        "device :radius 300m intersects devices(@)"
        " { :center 42.93 -72.27 :radius 20km :trigger once }",
        False,
    ),
]
# the schema try_compile_rule_sql assumes when given none
BASE_COLUMNS = ["url", "device_id", "layer_id", "lat", "lon", "datetime", "speed", "status"]


def _engine(spec: str) -> Engine:
    eng = Engine()
    eng.zones.add(zone_from_ring(Z, circle_ring(42.93, -72.27, 900.0, 6)))
    eng.zones.add(
        Zone(ZL, LAYER, "line", lines=[np.array([(42.92, -72.28), (42.94, -72.26)])])
    )
    for did, lat in ((X1, 42.931), (X2, 42.929)):
        eng.devices.insert_or_replace(
            {"device_id": did, "layer_id": LAYER, "lat": lat, "lon": -72.27}
        )
    eng.add_rule(spec, rule_id="r" + "0" * 19)
    return eng


@pytest.mark.parametrize("spec,compiles", SHAPES)
def test_only_attribute_distance_and_at_verdict_rules_compile(spec, compiles):
    """With every point ``devices(@)`` verdict column in the schema, a
    rule compiles iff ``compiles``; without them no ``@`` rule does."""
    eng = _engine(spec)
    rule = eng.rules["r" + "0" * 19]
    verdicts = [at_verdict_col(n) for n in rule.spec.nodes if is_at_node(n)]
    plan = try_compile_rule_sql(eng, rule, columns=BASE_COLUMNS + verdicts)
    assert (plan is not None) == compiles, spec
    if verdicts:
        assert try_compile_rule_sql(eng, rule) is None, spec


def test_geo_pipeline_rules_plan_budget(spark):
    """bench.py ``geo_pipeline``'s two rules — a buffered zone verb and
    a point ``NEAR`` verb — fold in ONE kernel stage: one MapInPandas
    and no Union of a second, compiled scan."""
    from spinix_spark.io.geoparse import geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages

    eng = Engine()
    eng.zones.add(
        zone_from_ring("c5vj26evvhfjvfseaulg", circle_ring(BASE_LAT, BASE_LON, 900.0, 6))
    )
    eng.zones.add(
        zone_from_ring(
            "c5vj26evvhfjvfseauk0", circle_ring(BASE_LAT + 0.3, BASE_LON + 0.3, 1500.0, 6)
        )
    )
    eng.add_rule(
        "device :radius 300m INTERSECTS polygon(c5vj26evvhfjvfseaulg,"
        " c5vj26evvhfjvfseauk0) and speed range [30 .. 170]",
        rule_id="r" + "0" * 19,
    )
    eng.add_rule("device NEAR polygon(c5vj26evvhfjvfseaulg)", rule_id="r" + "1" * 19)
    points = geoparse_points(synthesize_pages(spark, 50)).drop("text")
    plan = detect_batch_spark(points, eng)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Union" not in plan, plan


DWELL_SPECS = [
    f"device intersects polygon({Z}) :time duration 60s"
    f" and speed range [30 .. 120] {PROPS}",
    f"device NINTERSECTS devices(@) and device intersects polygon({Z})"
    f" :time duration 60s {PROPS}",
]


@pytest.mark.parametrize("spec", DWELL_SPECS)
def test_dwell_rule_runs_one_kernel_stage(spark, spec):
    """Under ``eval_dwell`` with the snapshot as ``devices_df``, a dwell
    rule with an attribute companion and one with a ``devices(@)``
    node each fold in ONE kernel stage — no compiled scan — and emit
    Engine.detect_batch's events."""
    rng = np.random.default_rng(7)
    n = 48
    pdf = pd.DataFrame(
        {
            "url": [f"u{i:02d}" for i in range(n)],
            "device_id": [f"d{i % 4:019d}" for i in range(n)],
            "layer_id": LAYER,
            "lat": 42.93 + rng.uniform(-0.012, 0.012, n),
            "lon": -72.27 + rng.uniform(-0.012, 0.012, n),
            "datetime": 1_700_000_000 + 20 * np.arange(n),
            "speed": rng.uniform(0, 150, n),
            "status": 0,
        }
    )
    snap = pd.DataFrame(
        {
            "device_id": [f"s{i:019d}" for i in range(6)],
            "layer_id": LAYER,
            "lat": 42.93 + rng.uniform(-0.01, 0.01, 6),
            "lon": -72.27 + rng.uniform(-0.01, 0.01, 6),
            "datetime": 1_690_000_000,
        }
    )

    def engine(with_snapshot: bool) -> Engine:
        eng = Engine(eval_dwell=True)
        eng.zones.add(zone_from_ring(Z, circle_ring(42.93, -72.27, 900.0, 6)))
        if with_snapshot:
            for row in snap.to_dict("records"):
                eng.devices.insert_or_replace(row)
        eng.add_rule(spec, rule_id="r" + "0" * 19)
        return eng

    want = sorted(
        (e["url"], m["op"], tuple(sorted(m["right_refs"])))
        for e in engine(True).detect_batch(pdf).to_dict("records")
        for m in e["matches"]
    )
    out = detect_batch_spark(
        spark.createDataFrame(pdf), engine(False),
        devices_df=spark.createDataFrame(snap),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Union" not in plan, plan
    got = sorted(
        (r.url, r.op, tuple(sorted(r.right_refs)))
        for r in out.where("row_type = 'event'").collect()
    )
    assert got == want and len(want) > 0
