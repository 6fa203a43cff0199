"""G8: GeoJSON covering fixtures — every object type in the
reference's geojson test corpus must parse and be covered by ≥1 grid
cell (index_test.go:83-89 asserts the same for its H3 covering). The
fixture *data* files are read from the reference tree (data, not code).
Plus hooks + rule JSON round-trip parity."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine, Rule
from spinix_spark.engine.stores import zone_cells, zone_from_geojson, zone_from_ring
from spinix_spark.geo.cells import DEFAULT_SCHEME

FIXTURE_DIR = "/root/reference/internal/geojson/testdata"
TRACKER_DIR = "/root/reference/internal/tracker/testdata"

K0 = "c5vj26evvhfjvfseauk0"
AULG = "c5vj26evvhfjvfseaulg"


FIXTURES = sorted(glob.glob(f"{FIXTURE_DIR}/*.json")) + sorted(
    glob.glob(f"{TRACKER_DIR}/*.json")
)


@pytest.mark.parametrize(
    "path", FIXTURES, ids=[os.path.basename(p) for p in FIXTURES]
)
def test_g8_every_fixture_covered(path):
    with open(path) as f:
        text = f.read()
    zone = zone_from_geojson(K0, "0" * 20, text)
    cells = zone_cells(zone, DEFAULT_SCHEME)
    assert len(cells) >= 1
    # bbox sanity: covering cells' union bbox contains the zone bbox
    boxes = np.stack([DEFAULT_SCHEME.cell_bbox(c) for c in cells])
    b = zone.bbox
    assert boxes[:, 0].min() <= b[0] and boxes[:, 2].max() >= b[2]
    assert boxes[:, 1].min() <= b[1] and boxes[:, 3].max() >= b[3]


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


def _one_point_batch():
    return pd.DataFrame(
        [
            {
                "device_id": K0,
                "layer_id": "0" * 20,
                "lat": 42.9236075,
                "lon": -72.2792333,
                "datetime": 1000,
            }
        ]
    )


def test_hooks_before_gate_and_after_observe():
    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    engine.add_rule(f"devices({K0}) INTERSECTS polygon({AULG})")

    seen = []
    engine.after_detect = lambda rule, evs: seen.append((rule.rule_id, len(evs)))
    ev = engine.detect_batch(_one_point_batch())
    assert len(ev) == 1 and len(seen) == 1 and seen[0][1] == 1

    # before hook returning False suppresses detection entirely
    engine2 = Engine()
    engine2.zones.add(zone_from_ring(AULG, G3_RING))
    engine2.add_rule(f"devices({K0}) INTERSECTS polygon({AULG})")
    engine2.before_detect = lambda row, rule: False
    assert len(engine2.detect_batch(_one_point_batch())) == 0


def test_rule_json_roundtrip():
    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    rule = engine.add_rule(f"devices({K0}) INTERSECTS polygon({AULG})")
    s = rule.to_json()
    d = json.loads(s)
    assert d["spec"] == rule.spec.source
    engine2 = Engine()
    engine2.zones.add(zone_from_ring(AULG, G3_RING))
    rule2 = Rule.from_json(engine2, s)
    assert rule2.rule_id == rule.rule_id
    # deserialized rules carry the 1 km radius floor (rule.go:54-56)
    assert rule2.spec.props.radius_m >= 1000.0


def test_device_delete():
    from spinix_spark.engine.stores import DeviceSnapshot

    snap = DeviceSnapshot()
    snap.insert_or_replace({"device_id": K0, "lat": 1.0, "lon": 2.0})
    assert snap.lookup(K0) is not None
    snap.delete(K0)
    assert snap.lookup(K0) is None and len(snap.near(1.0, 2.0, 1000)) == 0
