"""Broadcastable in-memory stores: zones, device-position snapshot, state.

These play the role of the reference's storage layer (devices.go,
object.go, state.go) on the *small* side of the spatial join: zones and
rules are dimension-sized, so in Spark they ship to every task as
broadcast variables and candidate search is a vectorized bbox test —
the set-oriented equivalent of the reference's H3+R-tree ``Near``
scans (devices.go:166-199, object.go:115-151), whose exact candidate
universe is "entries whose bbox intersects calcRect(center, radius)".

Candidate pruning is a no-false-negative prefilter (SURVEY.md §2B.1);
the reference's additional H3-sample-cell pruning (region.go:311-336)
can *drop* candidates at cell boundaries — we keep the strictly more
faithful bbox-only universe and document the deviation (it only widens
the candidate set negated-``@`` verbs see, never narrows it).

Geometry payloads are parsed from GeoJSON strings into NumPy rings at
construction so per-batch evaluation never touches Python object
parsing.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np

from spinix_spark.dsl.compiler import NIL_XID
from spinix_spark.dsl.tokens import Token
from spinix_spark.geo.geodesy import (
    EARTH_RADIUS_M,
    MIN_DIST_METERS,
    SMALL_REGION_SIZE,
    SMALL_REGION_THRESHOLD_M,
    TINY_REGION_SIZE,
    TINY_REGION_THRESHOLD_M,
    lon_to_frame,
    normalize_distance,
)
from spinix_spark.geo.predicates import rect_contains_point
from spinix_spark.geo.rings import circle_ring, rect_from_center

CIRCLE_ZONE_STEPS = 64  # polygonization used for circle-zone ring ops


def _close_ring(arr: np.ndarray) -> np.ndarray:
    if not np.array_equal(arr[0], arr[-1]):
        arr = np.vstack([arr, arr[:1]])
    return arr


@dataclass
class Zone:
    """One geo object. ``rings``: list of closed (S, 2) lat/lon rings
    (polygons; rect as ring); ``lines``: open polylines; ``points``:
    (P, 2); circles keep center+radius for exact point containment and
    a 64-gon ring for area ops."""

    object_id: str
    layer_id: str
    kind: str  # polygon | multiPolygon | rect | circle | point | multiPoint | line | multiLine
    rings: list[np.ndarray] = field(default_factory=list)
    lines: list[np.ndarray] = field(default_factory=list)
    points: np.ndarray | None = None
    circle: tuple[float, float, float] | None = None  # lat, lon, meters
    bbox: np.ndarray | None = None  # (minlat, minlon, maxlat, maxlon)

    def __post_init__(self) -> None:
        if self.bbox is None:
            pts = []
            for r in self.rings:
                pts.append(r)
            for l in self.lines:
                pts.append(l)
            if self.points is not None:
                pts.append(np.atleast_2d(self.points))
            if pts:
                allp = np.vstack(pts)
                self.bbox = np.array(
                    [
                        allp[:, 0].min(),
                        allp[:, 1].min(),
                        allp[:, 0].max(),
                        allp[:, 1].max(),
                    ]
                )
            else:
                self.bbox = np.zeros(4)

    def center(self) -> tuple[float, float]:
        """Bbox center (tidwall Rect.Center semantics, used by
        equalObjectOp via object.data.Center(), runtime.go:1795-1800)."""
        if self.circle is not None:
            return self.circle[0], self.circle[1]
        b = self.bbox
        return (b[0] + b[2]) / 2.0, (b[1] + b[3]) / 2.0


def zone_from_geojson(object_id: str, layer_id: str, geojson_str: str) -> Zone:
    """GeoJSON text → Zone. Supports Polygon, MultiPolygon, Point,
    MultiPoint, LineString, MultiLineString, and the non-standard
    ``{"type": "Circle", "coordinates": [lon, lat], "radius": m}``.
    GeoJSON coordinate order is (lon, lat); rings stored as (lat, lon)."""
    g = json.loads(geojson_str)
    typ = g.get("type")
    if typ == "Feature":
        g = g["geometry"]
        typ = g.get("type")

    def to_latlon(coords) -> np.ndarray:
        a = np.asarray(coords, dtype=np.float64)
        return a[..., ::-1]  # (lon, lat) -> (lat, lon)

    if typ == "Polygon":
        rings = [_close_ring(to_latlon(r)) for r in g["coordinates"]]
        return Zone(object_id, layer_id, "polygon", rings=rings)
    if typ == "MultiPolygon":
        rings = [
            _close_ring(to_latlon(r)) for poly in g["coordinates"] for r in poly
        ]
        return Zone(object_id, layer_id, "multiPolygon", rings=rings)
    if typ == "Point":
        return Zone(object_id, layer_id, "point", points=to_latlon([g["coordinates"]]))
    if typ == "MultiPoint":
        return Zone(object_id, layer_id, "multiPoint", points=to_latlon(g["coordinates"]))
    if typ == "LineString":
        return Zone(object_id, layer_id, "line", lines=[to_latlon(g["coordinates"])])
    if typ == "MultiLineString":
        return Zone(
            object_id,
            layer_id,
            "multiLine",
            lines=[to_latlon(l) for l in g["coordinates"]],
        )
    if typ == "Circle":
        lon, lat = g["coordinates"]
        meters = float(g.get("radius", MIN_DIST_METERS))
        ring = circle_ring(lat, lon, meters, CIRCLE_ZONE_STEPS)
        return Zone(
            object_id,
            layer_id,
            "circle",
            rings=[ring],
            circle=(float(lat), float(lon), meters),
        )
    if typ in ("GeometryCollection", "FeatureCollection"):
        members = (
            g.get("geometries", [])
            if typ == "GeometryCollection"
            else [f.get("geometry") for f in g.get("features", [])]
        )
        rings: list[np.ndarray] = []
        lines: list[np.ndarray] = []
        pts: list[np.ndarray] = []
        for m in members:
            if m is None:
                continue
            sub = zone_from_geojson(object_id, layer_id, json.dumps(m))
            rings.extend(sub.rings)
            lines.extend(sub.lines)
            if sub.points is not None:
                pts.append(np.atleast_2d(sub.points))
        kind = "collection" if typ == "GeometryCollection" else "featureCollection"
        return Zone(
            object_id,
            layer_id,
            kind,
            rings=rings,
            lines=lines,
            points=np.vstack(pts) if pts else None,
        )
    raise ValueError(f"unsupported GeoJSON type: {typ}")


def zone_cells(zone: Zone, scheme) -> list[int]:
    """Grid-cell covering of an arbitrary zone — the engine's form of
    the reference's EnsureIndex/coverBy (internal/geojson/index.go:80-213,
    which walks the bbox in edge-length steps keeping cells the object
    touches). A bbox cover is a superset (no false negatives), which is
    all a join prefilter needs (SURVEY.md §2B.1); the reference's
    per-cell containment test only shrinks the set."""
    b = zone.bbox
    return scheme.cover_bbox(float(b[0]), float(b[1]), float(b[2]), float(b[3]))


def zone_from_ring(object_id: str, ring_latlon: np.ndarray, layer_id: str = NIL_XID) -> Zone:
    """Polygon zone from a closed (lat, lon) ring (test helper ≙
    str2obj, runtime_test.go:239-244)."""
    return Zone(object_id, layer_id, "polygon", rings=[_close_ring(np.asarray(ring_latlon, dtype=np.float64))])


# --- Near candidacy: the one bbox scan behind the stores' ``near`` and
# the kernel's ``@`` loops (Objects.Near object.go:115-151, Devices.Near
# devices.go:166-199). Candidacy is visible semantics for negated verbs.


def near_radius(meters: float, region_size: int) -> float:
    """A Near query's search radius: MIN_DIST_METERS for a bare point,
    else ``meters`` clamped to the tier ceiling (region.go:273-292)."""
    return MIN_DIST_METERS if meters <= 0 else normalize_distance(meters, region_size)


def at_search_meters(node) -> float:
    """The search radius of a ``devices(@)`` node: the target buffer
    reach with the negated-verb bump (runtime.go:1515-1525 — sequential
    ifs, replicated exactly: a reach below the TINY threshold is raised
    exactly TO it, so the second branch only fires for reaches already
    above), clamped to the TINY tier (devices.go:167-171)."""
    meters = node.left.meters()
    if node.op in (Token.NINTERSECTS, Token.NNEAR):
        if meters < TINY_REGION_THRESHOLD_M:
            meters = TINY_REGION_THRESHOLD_M
        if meters > TINY_REGION_THRESHOLD_M:
            meters = SMALL_REGION_THRESHOLD_M
    return near_radius(meters, TINY_REGION_SIZE)


def _search_disc(lat, lon, search_m: float):
    """(rect, deg, cap_n, cap_s) of search discs at ``lat``/``lon``:
    the bounding rect (unnormalized lons, possibly past ±180), the
    angular radius, and whether the disc crosses either pole — where
    it reaches every longitude, which the asin-clamped rect (dlon ≤
    90°) cannot express."""
    rect = rect_from_center(lat, lon, search_m)
    deg = math.degrees(search_m / EARTH_RADIUS_M)
    return rect, deg, lat + deg >= 90.0, lat - deg <= -90.0


def zone_candidacy(lat, lon, search_m: float):
    """``cand(bbox)`` for search discs of radius ``search_m`` centred
    at ``lat``/``lon`` (scalars or (N,) arrays): true where a zone bbox
    (..., 4) meets a disc's rect. Each zone's lon interval is rigidly
    shifted by ±360° into the center's frame (exact no-op
    mid-longitude — zones never cross ±180° per the RFC 7946 split
    convention, but the rect may overflow past it); a disc that
    crosses a pole admits every zone touching the 2·deg polar band."""
    rect, deg, cap_n, cap_s = _search_disc(lat, lon, search_m)

    def cand(b: np.ndarray) -> np.ndarray:
        zc = (b[..., 1] + b[..., 3]) / 2.0
        dl = lon_to_frame(zc, lon) - zc
        hit = (
            (rect[..., 0] <= b[..., 2])
            & (rect[..., 2] >= b[..., 0])
            & (rect[..., 1] <= b[..., 3] + dl)
            & (rect[..., 3] >= b[..., 1] + dl)
        )
        hit |= cap_n & (b[..., 2] >= 90.0 - 2.0 * deg)
        hit |= cap_s & (b[..., 0] <= -90.0 + 2.0 * deg)
        return hit

    return cand


def point_candidacy(lat, lon, search_m: float):
    """``cand(p_lat, p_lon)`` for search discs of radius ``search_m``
    centred at ``lat``/``lon``: true where a point candidate lies in a
    disc's rect, the candidate lon framed to the center (exact no-op
    mid-longitude). A disc that crosses a pole admits every candidate
    in the 2·deg polar band (a superset; the exact verb decides)."""
    rect, deg, cap_n, cap_s = _search_disc(lat, lon, search_m)

    def cand(p_lat, p_lon) -> np.ndarray:
        hit = rect_contains_point(rect, p_lat, lon_to_frame(p_lon, lon))
        hit |= cap_n & (p_lat >= 90.0 - 2.0 * deg)
        hit |= cap_s & (p_lat <= -90.0 + 2.0 * deg)
        return hit

    return cand


class ZoneStore:
    """Objects storage. ``near`` is Objects.Near (object.go:115-151):
    SMALL-tier radius clamp, bbox-candidate scan, layer filter."""

    def __init__(self) -> None:
        self._zones: dict[str, Zone] = {}
        self._bboxes: np.ndarray | None = None
        self._ids: list[str] = []
        self._layers: list[str] = []

    def add(self, zone: Zone) -> None:
        self._zones[zone.object_id] = zone
        self._bboxes = None

    def remove(self, object_id: str) -> None:
        self._zones.pop(object_id, None)
        self._bboxes = None

    def lookup(self, object_id: str) -> Zone | None:
        return self._zones.get(object_id)

    def all_zones(self) -> list[Zone]:
        return list(self._zones.values())

    def __len__(self) -> int:
        return len(self._zones)

    def _index(self) -> None:
        if self._bboxes is None:
            self._ids = list(self._zones.keys())
            self._layers = [self._zones[i].layer_id for i in self._ids]
            self._bboxes = (
                np.stack([self._zones[i].bbox for i in self._ids])
                if self._ids
                else np.zeros((0, 4))
            )

    def near(self, layer_id: str, lat: float, lon: float, meters: float) -> list[Zone]:
        self._index()
        cand = zone_candidacy(lat, lon, near_radius(meters, SMALL_REGION_SIZE))
        return [
            self._zones[self._ids[i]]
            for i in np.nonzero(cand(self._bboxes))[0]
            if self._layers[i] == layer_id
        ]


class DeviceSnapshot:
    """Latest-position-per-device snapshot — the set-oriented stand-in
    for Devices storage. ``Engine.Detect`` inserts the device only
    *after* evaluation (engine.go:218-221), so a batch is evaluated
    against the snapshot as of the previous batch, then merged.

    Columns: device_id, layer_id, lat, lon + passthrough attributes.
    """

    def __init__(self) -> None:
        self._rows: dict[str, dict] = {}
        self._arr: dict[str, np.ndarray] | None = None

    def insert_or_replace(self, row: dict) -> None:
        """Upsert by device_id (position always updated —
        devices.go:105-147's 50 m rule only affects its region index)."""
        self._rows[row["device_id"]] = dict(row)
        self._arr = None

    def merge_batch(self, rows: list[dict]) -> None:
        """Keep each device's newest row by (datetime, lat, lon), a
        missing datetime counting as 0, among its current row and
        ``rows`` — the row devices_at.snapshot_df_from_points and the
        stream's devices table keep, whatever the arrival order."""

        def newest(r: dict) -> tuple:
            dt = r.get("datetime")
            return (0 if dt is None or dt != dt else dt, r["lat"], r["lon"])

        for r in rows:
            cur = self._rows.get(r["device_id"])
            if cur is None or newest(r) > newest(cur):
                self.insert_or_replace(r)

    def lookup(self, device_id: str) -> dict | None:
        return self._rows.get(device_id)

    def all_devices(self) -> list[dict]:
        return list(self._rows.values())

    def delete(self, device_id: str) -> None:
        self._rows.pop(device_id, None)
        self._arr = None

    def __len__(self) -> int:
        return len(self._rows)

    def _index(self) -> None:
        if self._arr is None:
            ids = list(self._rows.keys())
            self._arr = {
                "device_id": np.array(ids, dtype=object),
                "layer_id": np.array(
                    [self._rows[i].get("layer_id", NIL_XID) for i in ids], dtype=object
                ),
                "lat": np.array([self._rows[i]["lat"] for i in ids], dtype=np.float64),
                "lon": np.array([self._rows[i]["lon"] for i in ids], dtype=np.float64),
            }

    def near(self, lat: float, lon: float, meters: float) -> list[dict]:
        """Devices.Near (devices.go:166-199): TINY-tier radius clamp,
        bbox-candidate scan (point entries)."""
        self._index()
        a = self._arr
        cand = point_candidacy(lat, lon, near_radius(meters, TINY_REGION_SIZE))
        return [self._rows[a["device_id"][i]] for i in np.nonzero(cand(a["lat"], a["lon"]))[0]]


def state_need_reset(st: dict, interval_s: float) -> bool:
    """State.NeedReset (state.go:199-211): zero interval or never-reset
    → reset; else reset when now - lastReset >= interval."""
    if interval_s == 0:
        return True
    if st["last_reset"] == 0:
        return True
    return (st["now"] - st["last_reset"]) >= int(interval_s)


def state_reset(st: dict) -> None:
    """State.Reset (state.go:182-186) — clears the trigger fields.

    DELIBERATE DIVERGENCE from the reference (documented per ADVICE
    r6): the reference's Reset() also clears ``objectsVisits``
    (state.go:184), but the reference never *reads* visits (the dwell
    suffix is a write-only stub there), so its clear is unobservable.
    In this engine dwell evaluation is a real opt-in op, and
    ``state_need_reset`` fires on EVERY gated row when no ``:reset``
    interval is configured (interval 0 → always reset, state.go:201) —
    clearing visits there would wipe every dwell clock per event and
    make the operator vacuous. Visits therefore survive a trigger
    reset: the ``:reset`` interval governs the TRIGGER fields, visit
    lifetime is governed by presence (a miss row clears the visit).
    Pinned by tests/test_dwell.py::test_dwell_survives_trigger_reset."""
    st["last_reset"] = 0
    st["last_seen"] = 0
    st["hits"] = 0


class StateStore:
    """Per-(device, rule) state (state.go:111-127): the trigger fields
    and the dwell ``visits`` map, both advanced by
    ``runtime.fold_state`` in one pass per row.

    Tracks *dirty* keys — states created or handed out for mutation
    since the last :meth:`clear_dirty` — so a distributed task that
    seeded itself from a broadcast of ALL prior states can emit only
    the states it actually owns/touched (one emission per key per
    batch; see spark_pipeline.detect_batch_spark)."""

    def __init__(self) -> None:
        self._states: dict[tuple[str, str], dict] = {}
        self._dirty: set[tuple[str, str]] = set()

    @staticmethod
    def _blank(device_id: str, rule_id: str) -> dict:
        return {
            "device_id": device_id,
            "rule_id": rule_id,
            "now": 0,
            "last_seen": 0,
            "last_reset": 0,
            "hits": 0,
            # dwell visit map ({"<node>:<object_id>": first_visit},
            # state.go:237-247 shape) — empty unless eval_dwell rules
            # run; persisted as a JSON string column
            "visits": {},
        }

    def lookup_or_make(self, device_id: str, rule_id: str) -> dict:
        key = (device_id, rule_id)
        st = self._states.get(key)
        if st is None:
            st = self._blank(device_id, rule_id)
            self._states[key] = st
        # the returned dict is mutated in place (runtime.fold_state),
        # so handing it out marks it dirty
        self._dirty.add(key)
        return st

    def remove_by_rule(self, rule_id: str) -> None:
        for k in [k for k in self._states if k[1] == rule_id]:
            del self._states[k]

    def remove_by_device(self, device_id: str) -> None:
        for k in [k for k in self._states if k[0] == device_id]:
            del self._states[k]

    def snapshot(self) -> list[dict]:
        return [dict(v) for v in self._states.values()]

    def dirty_snapshot(self) -> list[dict]:
        """Only the states touched since the last clear_dirty()."""
        return [dict(self._states[k]) for k in self._dirty if k in self._states]

    def clear_dirty(self) -> None:
        self._dirty.clear()

    @staticmethod
    def _norm(r: dict) -> dict:
        """Copy a state row, decoding the ``visits`` map from its
        persisted JSON-string form (DataFrame/parquet carry) back to a
        dict; absent → empty."""
        r = dict(r)
        v = r.get("visits")
        if isinstance(v, str):
            r["visits"] = json.loads(v) if v else {}
        elif not isinstance(v, dict):
            r["visits"] = {}
        return r

    def load(self, rows: list[dict]) -> None:
        """Seed prior-batch states; loading does NOT mark dirty."""
        for r in rows:
            self._states[(r["device_id"], r["rule_id"])] = self._norm(r)

    def load_if_absent(self, rows: list[dict]) -> None:
        """Seed prior states without clobbering keys this task already
        created or mutated (used by the distributed state-join path,
        where a device's prior states arrive attached to its rows and
        may be seen again on later Arrow batches)."""
        for r in rows:
            key = (r["device_id"], r["rule_id"])
            if key not in self._states:
                self._states[key] = self._norm(r)
