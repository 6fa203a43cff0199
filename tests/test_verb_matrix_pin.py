"""Row-exact pin of the kernel's spatial-verb matrix.

Every op × target kind (point, ``:radius``, ``:bbox``) × right side
(polygon, multi-polygon, line, point and circle zones; point,
``:radius`` and two ``:bbox`` device candidates) × candidate form
(explicit refs, ``@``) is evaluated by ``runtime.eval_node`` over one
batch holding mid-latitude, dateline-straddling and pole-crossing
rows. Each case's ``ok`` mask and ``right_refs`` (order included) are
compared against a committed digest and true count in
``verb_matrix_pin.json``; the store ``near`` scans are pinned the same
way. A refactor of the verb code must leave every digest unchanged.

Regenerate the expected values (only for a deliberate semantic change):

    python tests/test_verb_matrix_pin.py > tests/verb_matrix_pin.json
"""

from __future__ import annotations

import functools
import hashlib
import json
import pathlib

import numpy as np
import pandas as pd
import pytest

from spinix_spark.dsl import compile_spec
from spinix_spark.dsl.tokens import Token
from spinix_spark.engine.runtime import DeviceBatch, Reference, eval_node
from spinix_spark.engine.stores import (
    DeviceSnapshot,
    StateStore,
    Zone,
    ZoneStore,
    zone_from_geojson,
    zone_from_ring,
)
from spinix_spark.geo.rings import circle_ring

LAYER = "0" * 20
EXPECTED = pathlib.Path(__file__).with_name("verb_matrix_pin.json")

OPS = ("INTERSECTS", "NINTERSECTS", "NEAR", "NNEAR", "IN", "NIN")
TARGETS = {"point": "device", "radius": "device :radius 400m", "bbox": "device :bbox 400m"}
ZONE_KINDS = ("polygon", "multiPolygon", "line", "point", "circle")
# a small and a large candidate box: the BBOX-candidate × buffered-target
# IN holds only where the box contains the target's box, NEAR's
# containment only where the target contains the box
DEVICE_KINDS = {
    "point": "", "radius": " :radius 300m", "bbox": " :bbox 150m", "bigbbox": " :bbox 900m",
}
FORMS = ("refs", "at")

# region -> (center lat, center lon); the dateline region's zones sit on
# the line (unnormalized lons past 180), the polar region's rows reach
# across the pole with a 400 m buffer
REGIONS = {"mid": (42.93, -72.27), "dateline": (10.0, 180.0), "polar": (89.996, 35.0)}


def _zid(i: int) -> str:
    return "c5vj26evvhfjvfseau" + f"{i:02d}"


def _did(region: str, i: int) -> str:
    return f"k{region[0]}{i:018d}"


def _ll(lat: float, lon: float) -> list[float]:
    """GeoJSON (lon, lat) order."""
    return [lon, lat]


@functools.lru_cache(maxsize=None)
def _world():
    """(zones by kind, snapshot device rows, batch rows)."""
    rng = np.random.default_rng(11)
    zones: dict[str, list[Zone]] = {k: [] for k in ZONE_KINDS}
    devices: list[dict] = []
    rows: list[tuple[float, float]] = []
    i = 0
    for region, (clat, clon) in REGIONS.items():
        polar = region == "polar"
        dlat, dlon = (0.002, 40.0) if polar else (0.006, 0.008)

        def at(fy: float, fx: float) -> tuple[float, float]:
            return clat + fy * dlat, clon + fx * dlon

        zones["polygon"].append(
            zone_from_ring(_zid(i), circle_ring(*at(0.1, -0.1), 550.0, 7), LAYER)
        )
        (a, b), (c, d) = at(-0.3, 0.3), at(0.4, -0.2)
        mp = {
            "type": "MultiPolygon",
            "coordinates": [
                [[_ll(*p) for p in circle_ring(a, b, 260.0, 5)]],
                [[_ll(*p) for p in circle_ring(c, d, 200.0, 6)]],
            ],
        }
        zones["multiPolygon"].append(zone_from_geojson(_zid(i + 1), LAYER, json.dumps(mp)))
        line = {"type": "LineString", "coordinates": [_ll(*at(-0.5, -0.6)), _ll(*at(0.1, 0.0)), _ll(*at(0.5, 0.7))]}
        zones["line"].append(zone_from_geojson(_zid(i + 2), LAYER, json.dumps(line)))
        plat, plon = at(0.2, 0.25)
        plon_n = (plon + 180.0) % 360.0 - 180.0
        point = {"type": "Point", "coordinates": [plon_n, plat]}
        zones["point"].append(zone_from_geojson(_zid(i + 3), LAYER, json.dumps(point)))
        circ = {"type": "Circle", "coordinates": _ll(*at(-0.2, 0.1)), "radius": 450.0}
        zones["circle"].append(zone_from_geojson(_zid(i + 4), LAYER, json.dumps(circ)))
        i += 5
        for k in range(3):
            lat, lon = at(float(rng.uniform(-0.8, 0.8)), float(rng.uniform(-0.8, 0.8)))
            devices.append(
                {"device_id": _did(region, k), "layer_id": LAYER, "lat": lat,
                 "lon": (lon + 180.0) % 360.0 - 180.0}
            )
        rows.append(at(0.0, 0.0))
        rows.append((plat, plon_n))  # exactly on the point zone
        rows.append((devices[-1]["lat"], devices[-1]["lon"]))  # on a candidate
        for _ in range(9):
            rows.append(at(float(rng.uniform(-1.2, 1.2)), float(rng.uniform(-1.2, 1.2))))
    # polar rows within 400 m of the pole, far in lon from its zones
    rows += [(89.9985, -150.0), (89.9992, 100.0)]
    batch = pd.DataFrame(
        {
            "device_id": [f"t{j:019d}" for j in range(len(rows))],
            "layer_id": LAYER,
            "lat": [float(min(r[0], 89.9999)) for r in rows],
            "lon": [float((r[1] + 180.0) % 360.0 - 180.0) for r in rows],
            "datetime": 0,
        }
    )
    return zones, devices, batch


def _ref(zones: list[Zone], devices: list[dict]) -> Reference:
    zs, snap = ZoneStore(), DeviceSnapshot()
    for z in zones:
        zs.add(z)
    for d in devices:
        snap.insert_or_replace(d)
    return Reference(zones=zs, devices=snap, states=StateStore())


def _digest(payload) -> str:
    return hashlib.sha256(json.dumps(payload).encode()).hexdigest()[:16]


def _cases() -> list[str]:
    out = []
    for op in OPS:
        for t in TARGETS:
            for right in [f"zone-{k}" for k in ZONE_KINDS] + [f"dev-{k}" for k in DEVICE_KINDS]:
                for form in FORMS:
                    out.append(f"{op}/{t}/{right}/{form}")
    return out


def _eval_case(case: str) -> dict:
    op, t, right, form = case.split("/")
    zones, devices, batch = _world()
    side, kind = right.split("-")
    if side == "zone":
        zs = zones[kind]
        refs = "@" if form == "at" else ", ".join(z.object_id for z in zs)
        rhs = f"{kind}({refs})"
        ref = _ref(zs, [])
    else:
        refs = "@" if form == "at" else ", ".join(d["device_id"] for d in devices)
        rhs = f"devices({refs}){DEVICE_KINDS[kind]}"
        ref = _ref([], devices)
    node = compile_spec(f"{TARGETS[t]} {op} {rhs}").nodes[0]
    res = eval_node(node, DeviceBatch(batch), ref, LAYER)
    ok = np.asarray(res.ok, dtype=bool)
    payload = [ok.astype(int).tolist(), [list(r) for r in res.right_refs]]
    return {"true": int(ok.sum()), "digest": _digest(payload)}


def _near_cases() -> list[str]:
    return [f"{store}/{m}" for store in ("zones", "devices") for m in (0, 300, 2000, 60000)]


def _eval_near(case: str) -> dict:
    store, m = case.split("/")
    zones, devices, batch = _world()
    ref = _ref([z for zs in zones.values() for z in zs], devices)
    hits = []
    for lat, lon in zip(batch["lat"], batch["lon"]):
        if store == "zones":
            hits.append([z.object_id for z in ref.zones.near(LAYER, lat, lon, float(m))])
        else:
            hits.append([d["device_id"] for d in ref.devices.near(lat, lon, float(m))])
    return {"true": sum(map(len, hits)), "digest": _digest(hits)}


@functools.lru_cache(maxsize=None)
def _expected() -> dict:
    return json.loads(EXPECTED.read_text())


def test_matrix_not_vacuous():
    """Every op has true and false rows somewhere, and every region's
    rows are in the batch."""
    want = _expected()["verbs"]
    for op in OPS:
        counts = [v["true"] for k, v in want.items() if k.startswith(op + "/")]
        assert max(counts) > 0 and min(counts) < len(_world()[2])
    assert set(want) == set(_cases())


@pytest.mark.parametrize("case", _cases())
def test_verb_matrix(case):
    assert _eval_case(case) == _expected()["verbs"][case]


def test_verb_table_rejects_other_ops():
    """An op outside the six raises instead of falling through."""
    from spinix_spark.engine.runtime import spatial_verb

    with pytest.raises(ValueError):
        spatial_verb(Token.EQ, lambda: np.ones(1, dtype=bool), lambda: np.ones(1, dtype=bool))


@pytest.mark.parametrize("case", _near_cases())
def test_store_near(case):
    assert _eval_near(case) == _expected()["near"][case]


if __name__ == "__main__":
    print(
        json.dumps(
            {
                "verbs": {c: _eval_case(c) for c in _cases()},
                "near": {c: _eval_near(c) for c in _near_cases()},
            },
            indent=1,
            sort_keys=True,
        )
    )
