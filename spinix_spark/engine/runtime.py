"""Vectorized rule evaluation over a batch of device rows.

This is the computational core shared by the local engine and the Spark
``mapInPandas`` refinement stage: one compiled rule is evaluated
against N device rows at once with NumPy — no per-row Python in the
hot path (input_hint mandate).

Semantics replicate the reference's evaluater implementations
operator-for-operator (file:line cited per class below), including:

- the per-candidate existential negation semantics: ``match.Ok``
  latches true if ANY candidate satisfies the (possibly negated)
  predicate; every satisfying candidate id is appended to
  ``right_refs`` (runtime.go:1334-1341, 1632-1638; SURVEY.md §2A.1)
- the six-verb truth table of spObjectOp/spDevicesOp
  (runtime.go:1259-1333 for objects, 1530-1700 for devices), written
  once (``spatial_verb``) over each device-kind × candidate-kind
  pair's intersect/contain primitives
- one masked evaluator (``_eval_candidates``): a candidate's verb runs
  only on its rows — an explicit ref's bbox-prefilter survivors, or
  the rows whose ``@`` Near scan admits it (``stores.zone_candidacy``
  / ``stores.point_candidacy``, shared with the stores' ``near``); the
  ``@`` search-radius clamps are visible semantics for negated verbs
  (runtime.go:1515-1525, devices.go:167-171; ``stores.at_search_meters``)
- the left-to-right AND/OR fold with AND-skip and per-node Match
  capture (runtime.go:165-236)
- the distance comparators' last-candidate-wins ``Ok`` plus
  per-candidate ref collection (runtime.go:1795-1825 — replicated
  bug-for-bug)
- trigger state: reset → checkTrigger → changeState per gated row,
  hits incrementing per evaluation, not per match (runtime.go:103-163,
  224-235); ``fold_state`` runs it after node evaluation, which never
  reads state, together with the opt-in dwell visits

Determinism note: the reference stamps state time with the wall clock
(``State.SetTime(time.Now())``, runtime.go:153) but evaluates trigger
windows against *device* time (``mapper.dateTime``). For reproducible
distributed runs this engine uses device event-time for both.
"""

from __future__ import annotations

from dataclasses import dataclass

import math

import numpy as np
import pandas as pd

from spinix_spark.dsl import ast_nodes as ast
from spinix_spark.dsl.compiler import (
    NIL_XID,
    CompiledSpec,
    EqualDevicesOp,
    EqualFloatOp,
    EqualIntOp,
    EqualObjectOp,
    EqualStrOp,
    EqualTimeOp,
    InFloatOp,
    InIntOp,
    InStringOp,
    RangeDateTimeOp,
    RangeFloatOp,
    RangeIntOp,
    RangeTimeOp,
    SpDDevicesOp,
    SpDevicesObjectOp,
    SpDevicesOp,
    SpObjectOp,
)
from spinix_spark.dsl.tokens import Token
from spinix_spark.engine.stores import (
    DeviceSnapshot,
    StateStore,
    Zone,
    ZoneStore,
    at_search_meters,
    near_radius,
    point_candidacy,
    state_need_reset,
    state_reset,
    zone_candidacy,
)
from spinix_spark.geo.geodesy import (
    EARTH_RADIUS_M,
    MIN_DIST_METERS,
    SMALL_REGION_SIZE,
    haversine_m,
    lon_to_frame,
    round_to_unit,
)
from spinix_spark.geo.predicates import (
    line_intersects_ring,
    point_on_line,
    points_equal,
    points_in_ring,
    rect_contains_rect,
    ring_contains_ring,
    ring_intersects_ring,
)
from spinix_spark.geo.rings import circle_ring, rect_ring, ring_bbox


@dataclass
class Reference:
    """Storage handles passed through evaluation (≙ the reference's
    ``reference`` struct)."""

    zones: ZoneStore
    devices: DeviceSnapshot
    states: StateStore


@dataclass
class NodeResult:
    ok: np.ndarray  # bool (N,)
    left_kw: Token
    right_kw: Token
    op: Token
    left_is_target: bool = True  # Left.Refs = [target id] when ok
    right_refs: list[list[str]] | None = None  # per-device satisfied refs


class DeviceBatch:
    """Column view over a pandas DataFrame of device rows with golden
    defaults for absent attributes."""

    _FLOAT_COLS = (
        "speed",
        "battery",
        "temperature",
        "humidity",
        "luminosity",
        "pressure",
        "fuel_level",
        "alt",
    )
    _STR_COLS = ("model", "brand", "owner", "imei")

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf
        self.n = len(pdf)
        self.device_id = pdf["device_id"].to_numpy(dtype=object)
        self.layer_id = (
            pdf["layer_id"].to_numpy(dtype=object)
            if "layer_id" in pdf
            else np.full(self.n, "0" * 20, dtype=object)
        )
        self.lat = pdf["lat"].to_numpy(dtype=np.float64)
        self.lon = pdf["lon"].to_numpy(dtype=np.float64)
        self.datetime = (
            pdf["datetime"].to_numpy(dtype=np.int64)
            if "datetime" in pdf
            else np.zeros(self.n, dtype=np.int64)
        )
        self.status = (
            pdf["status"].to_numpy(dtype=np.int64)
            if "status" in pdf
            else np.zeros(self.n, dtype=np.int64)
        )
        self._cache: dict = {}

    def float_col(self, name: str) -> np.ndarray:
        if name == "status":
            return self.status.astype(np.float64)
        if name in self.pdf:
            # zero-fill nulls: the reference's device attributes are Go
            # value types (missing = zero value); this also matches the
            # SQL path's coalesce(col, 0.0). nan_to_num COPIES —
            # to_numpy may return a view of the backing pandas block,
            # and an in-place fill would mutate batch.pdf for every
            # other reader of the column.
            return np.nan_to_num(
                self.pdf[name].to_numpy(dtype=np.float64),
                nan=0.0,
                posinf=np.inf,  # only NaN is "missing"; keep ±inf as-is
                neginf=-np.inf,
            )
        return np.zeros(self.n, dtype=np.float64)

    def str_col(self, name: str) -> np.ndarray:
        if name in self.pdf:
            # zero-fill nulls BEFORE astype(str) — astype alone renders
            # None as 'None'; the reference's zero value (and the SQL
            # path's coalesce(col, '')) is the empty string
            return self.pdf[name].fillna("").astype(str).to_numpy(dtype=object)
        return np.full(self.n, "", dtype=object)

    def ts(self) -> pd.DatetimeIndex:
        if "ts" not in self._cache:
            self._cache["ts"] = pd.to_datetime(self.datetime, unit="s", utc=True)
        return self._cache["ts"]

    def rings(self, meters: float, steps: int) -> np.ndarray:
        key = ("rings", meters, steps)
        if key not in self._cache:
            self._cache[key] = circle_ring(self.lat, self.lon, meters, steps)
        return self._cache[key]


# --- attribute value mapper (runtime.go:2126-2224) ----------------------


def float_val(batch: DeviceBatch, kw: Token) -> np.ndarray:
    if kw is Token.FUELLEVEL:
        return batch.float_col("fuel_level")
    if kw is Token.PRESSURE:
        return batch.float_col("pressure")
    if kw is Token.LUMINOSITY:
        return batch.float_col("luminosity")
    if kw is Token.HUMIDITY:
        return batch.float_col("humidity")
    if kw is Token.TEMPERATURE:
        return batch.float_col("temperature")
    if kw is Token.BATTERY_CHARGE:
        return batch.float_col("battery")
    if kw is Token.STATUS:
        return batch.status.astype(np.float64)
    if kw is Token.SPEED:
        return batch.float_col("speed")
    ts = batch.ts()
    if kw is Token.YEAR:
        return ts.year.to_numpy(dtype=np.float64)
    if kw is Token.MONTH:
        return ts.month.to_numpy(dtype=np.float64)
    if kw is Token.WEEK:
        return ts.isocalendar().week.to_numpy().astype(np.float64)
    if kw is Token.DAY:
        return ts.day.to_numpy(dtype=np.float64)
    if kw is Token.HOUR:
        return ts.hour.to_numpy(dtype=np.float64)
    return np.zeros(batch.n, dtype=np.float64)


def int_val(batch: DeviceBatch, kw: Token) -> np.ndarray:
    # Go int(float64) truncates toward zero
    return np.trunc(float_val(batch, kw)).astype(np.int64)


# weekday/month renderings (time.Weekday/Month String(), runtime.go:
# 2206-2212) as lookup tables — pandas .strftime is per-element Python
# (it calls datetime.strftime row by row), a hot-path trap for string
# comparators over large Arrow batches; integer field extraction +
# NumPy fancy indexing is fully vectorized
_DAY_NAMES = np.array(
    ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"],
    dtype=object,
)
_MONTH_NAMES = np.array(
    ["January", "February", "March", "April", "May", "June", "July",
     "August", "September", "October", "November", "December"],
    dtype=object,
)


def str_val(batch: DeviceBatch, kw: Token) -> np.ndarray:
    if kw is Token.MODEL:
        return batch.str_col("model")
    if kw is Token.BRAND:
        return batch.str_col("brand")
    if kw is Token.OWNER:
        return batch.str_col("owner")
    if kw is Token.IMEI:
        return batch.str_col("imei")
    ts = batch.ts()
    if kw is Token.MONTH:
        return _MONTH_NAMES[ts.month.to_numpy() - 1]
    if kw is Token.DAY:
        return _DAY_NAMES[ts.dayofweek.to_numpy()]
    if kw is Token.DATE:
        # UTC datetime64 truncated to days renders exactly "%Y-%m-%d"
        return ts.tz_localize(None).values.astype("datetime64[D]").astype(str).astype(object)
    if kw is Token.DATETIME:
        iso = ts.tz_localize(None).values.astype("datetime64[s]").astype(str)
        return np.char.add(iso, "Z").astype(object)
    return np.full(batch.n, "", dtype=object)


def _day_anchor(batch: DeviceBatch, hour: int, minute: int) -> np.ndarray:
    """Unix seconds of today-at-hh:mm in UTC per device
    (runtime.go:1904, 1044-1046)."""
    ts = batch.ts()
    midnight = ts.normalize().asi8 // 1_000_000_000
    return midnight + hour * 3600 + minute * 60


# --- zone primitives (object side of runtime.go:1259-1333) ---------------


def _part_mid_lon(part: np.ndarray) -> float:
    """Longitude frame anchor of one zone component (ring / line):
    the midpoint of its lon extent. Zone parts never straddle ±180°
    (RFC 7946 split convention; unnormalized lons allowed), so each
    part is continuous around its own mid."""
    lons = part[:, 1]
    return float(lons.min() + lons.max()) / 2.0


def zone_intersects_poly(zone: Zone, rings: np.ndarray) -> np.ndarray:
    """Buffered device rings vs zone — per zone part, the per-row
    target rings are rigidly shifted by ±360° into the part's frame
    (``_rings_to_frame``; bitwise no-op mid-longitude) so planar
    ring-ring math is wrap-correct at the antimeridian."""
    n = rings.shape[0]
    ring_lons = rings[..., 1].mean(axis=-1)
    out = np.zeros(n, dtype=bool)
    for zr in zone.rings:
        out |= ring_intersects_ring(
            _rings_to_frame(rings, ring_lons, _part_mid_lon(zr)), zr
        )
    for zl in zone.lines:
        out |= line_intersects_ring(
            zl, _rings_to_frame(rings, ring_lons, _part_mid_lon(zl))
        )
    if zone.points is not None:
        for p in np.atleast_2d(zone.points):
            out |= points_in_ring(
                np.full(n, p[0]),
                lon_to_frame(np.full(n, p[1]), ring_lons),
                rings,
            )
    return out


def zone_within_poly(zone: Zone, rings: np.ndarray) -> np.ndarray:
    n = rings.shape[0]
    ring_lons = rings[..., 1].mean(axis=-1)
    out = np.ones(n, dtype=bool)
    any_part = False
    for zr in zone.rings:
        out &= ring_contains_ring(
            _rings_to_frame(rings, ring_lons, _part_mid_lon(zr)), zr
        )
        any_part = True
    for zl in zone.lines:
        # frame every line vertex into each row's ring frame: (n, V)
        out &= points_in_ring(
            zl[:, 0],
            lon_to_frame(zl[None, :, 1], ring_lons[:, None]),
            rings[:, None, :, :],
        ).all(axis=-1)
        any_part = True
    if zone.points is not None:
        for p in np.atleast_2d(zone.points):
            out &= points_in_ring(
                np.full(n, p[0]),
                lon_to_frame(np.full(n, p[1]), ring_lons),
                rings,
            )
            any_part = True
    return out if any_part else np.zeros(n, dtype=bool)


def zone_within_rect(zone: Zone, rect: np.ndarray) -> np.ndarray:
    # all-points-in-axis-aligned-rect ⇔ bbox within rect; the zone
    # bbox lon interval is rigidly shifted into each rect's frame
    # (exact ±360°, no-op mid-longitude) for dateline correctness
    rect = np.asarray(rect, dtype=np.float64)
    b = zone.bbox
    zc = (float(b[1]) + float(b[3])) / 2.0
    dl = lon_to_frame(zc, (rect[..., 1] + rect[..., 3]) / 2.0) - zc
    zb = np.empty(rect.shape)
    zb[..., 0] = b[0]
    zb[..., 2] = b[2]
    zb[..., 1] = b[1] + dl
    zb[..., 3] = b[3] + dl
    return rect_contains_rect(rect, zb)


def zone_intersects_point(zone: Zone, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Point device vs zone — the point lon is framed by ±360° into
    each zone part's frame (no-op mid-longitude); circle zones are
    exact haversine, inherently wrap/pole-correct."""
    n = lat.shape[0]
    out = np.zeros(n, dtype=bool)
    if zone.circle is not None:
        clat, clon, r = zone.circle
        return np.asarray(haversine_m(lat, lon, clat, clon) <= r)
    for zr in zone.rings:
        out |= points_in_ring(lat, lon_to_frame(lon, _part_mid_lon(zr)), zr)
    for zl in zone.lines:
        out |= point_on_line(lat, lon_to_frame(lon, _part_mid_lon(zl)), zl)
    if zone.points is not None:
        for p in np.atleast_2d(zone.points):
            out |= points_equal(lat, lon_to_frame(lon, float(p[1])), p[0], p[1])
    return out


def zone_within_point(zone: Zone, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    # only a point object can be "within" a point
    if zone.kind in ("point", "multiPoint") and zone.points is not None:
        out = np.ones(lat.shape[0], dtype=bool)
        for p in np.atleast_2d(zone.points):
            out &= points_equal(lat, lon_to_frame(lon, float(p[1])), p[0], p[1])
        return out
    return np.zeros(lat.shape[0], dtype=bool)


def spatial_verb(op: Token, inter, cont, inside=None):
    """The six spatial verbs (spObjectOp runtime.go:1259-1333,
    spDevicesOp runtime.go:1530-1700) over lazily evaluated primitives,
    so each verb computes only what it reads: ``inter()`` (the sides
    intersect) and ``cont()`` (NEAR's containment). ``inside`` is IN's
    containment where it is not NEAR's — a ``:bbox`` candidate against
    a buffered target, where IN asks whether the candidate's box holds
    the target's box. NNEAR is ¬C ∨ ¬I, not ¬NEAR. Works on boolean
    NumPy arrays and on Catalyst Columns alike."""
    if op is Token.INTERSECTS:
        return inter()
    if op is Token.NINTERSECTS:
        return ~inter()
    if op is Token.NEAR:
        return cont() | inter()
    if op is Token.NNEAR:
        return ~cont() | ~inter()
    inside = inside or cont
    if op is Token.IN:
        return inside()
    if op is Token.NIN:
        return ~inside()
    raise ValueError(f"not a spatial verb: {op}")


def _zone_verb_mask(
    zone: Zone, op: Token, kind: Token, batch: DeviceBatch, meters: float, steps: int
) -> np.ndarray:
    """spObjectOp for one zone against every device in the batch."""
    if kind is Token.RADIUS:
        rings = batch.rings(meters, steps)
        return spatial_verb(
            op,
            lambda: zone_intersects_poly(zone, rings),
            lambda: zone_within_poly(zone, rings),
        )
    if kind is Token.BBOX:
        rect = ring_bbox(batch.rings(meters, steps))
        return spatial_verb(
            op,
            lambda: zone_intersects_poly(zone, rect_ring(rect)),
            lambda: zone_within_rect(zone, rect),
        )
    lat, lon = batch.lat, batch.lon
    return spatial_verb(
        op,
        lambda: zone_intersects_point(zone, lat, lon),
        lambda: zone_within_point(zone, lat, lon),
    )


# --- device-vs-device predicates (runtime.go:1530-1700) ------------------


def _rings_to_frame(
    rings: np.ndarray, ring_lons: np.ndarray, frame_lon: float
) -> np.ndarray:
    """Per-target rings rigidly translated by ±360° into the frame of a
    candidate center, so planar ring-ring math is wrap-correct at the
    antimeridian. ``ring_lons`` are the centers the rings were built
    around. No copy (and bitwise no-op) when nothing straddles."""
    delta = lon_to_frame(ring_lons, frame_lon) - ring_lons
    if not np.any(delta):
        return rings
    shifted = rings.copy()
    shifted[..., 1] += delta[:, None]
    return shifted


_BUFFERED = (Token.RADIUS, Token.BBOX)


def _dd_verb_mask(
    op: Token,
    target: ast.DeviceLit,
    other: ast.DevicesLit,
    batch: DeviceBatch,
    other_lat,
    other_lon,
) -> np.ndarray:
    """spDevicesOp for one candidate device (``other``, the node's
    right literal, at ``other_lat``/``other_lon`` — scalars, or per-row
    arrays in the pair join's refine) against every batch target
    (``target``, the node's left literal).

    Planar polygonized rings (reference parity), antimeridian-framed:
    target rings / batch lons are shifted by exact ±360° into the
    candidate's frame (bitwise no-op mid-longitude). A GEODESIC
    override decides polar rows: when either circle crosses a pole,
    planar lat/lon polygon math is undefined (the ring's lons jump
    ~180° across the pole), so RADIUS verbs there are decided by the
    true spherical circle — haversine-based intersect/contain. Bitwise
    no-op for every non-polar row."""
    n = batch.n
    t_rings = (
        batch.rings(target.meters(), target.steps())
        if target.kind in _BUFFERED
        else None
    )
    if other.kind in _BUFFERED:
        oring = circle_ring(other_lat, other_lon, other.meters(), other.steps())
        if t_rings is None:
            pin = lambda: points_in_ring(
                batch.lat, lon_to_frame(batch.lon, other_lon), oring
            )
            res = spatial_verb(op, pin, pin)
        elif other.kind is Token.RADIUS:
            t_rings = _rings_to_frame(t_rings, batch.lon, other_lon)
            res = spatial_verb(
                op,
                lambda: ring_intersects_ring(t_rings, oring),
                lambda: ring_contains_ring(t_rings, oring),
            )
        else:
            t_rings = _rings_to_frame(t_rings, batch.lon, other_lon)
            trect = rect_ring(ring_bbox(t_rings))
            res = spatial_verb(
                op,
                lambda: ring_intersects_ring(trect, oring),
                lambda: ring_contains_ring(t_rings, rect_ring(ring_bbox(oring))),
                inside=lambda: ring_contains_ring(oring, trect),
            )
    elif t_rings is not None:
        # the candidate point in each target ring: frame its lon per
        # ring (each ring is continuous around its own device's lon; a
        # dateline neighbor's raw lon sits a world away in planar coords)
        pin = lambda: points_in_ring(
            np.broadcast_to(np.asarray(other_lat, dtype=np.float64), (n,)),
            lon_to_frame(
                np.broadcast_to(np.asarray(other_lon, dtype=np.float64), (n,)),
                batch.lon,
            ),
            t_rings,
        )
        res = spatial_verb(op, pin, pin)
    else:
        eq = lambda: points_equal(batch.lat, batch.lon, other_lat, other_lon)
        return spatial_verb(op, eq, eq)  # coordinate equality, pole-safe
    if Token.BBOX in (target.kind, other.kind):
        return res  # planar-rect semantics; poles documented unsupported
    t_m, o_m = float(target.meters()), float(other.meters())
    if t_m <= 0.0 and o_m <= 0.0:
        return res  # zero reach on both sides: no geodesic override
    deg_t = math.degrees(t_m / EARTH_RADIUS_M)
    deg_o = math.degrees(o_m / EARTH_RADIUS_M)
    polar = (np.abs(batch.lat) + deg_t >= 90.0) | (
        np.abs(np.asarray(other_lat, dtype=np.float64)) + deg_o >= 90.0
    )
    if not np.any(polar):
        return res
    d = haversine_m(batch.lat, batch.lon, other_lat, other_lon)
    if t_rings is not None and other.kind is Token.RADIUS:
        # target circle intersects / contains the candidate circle
        geo = spatial_verb(op, lambda: d <= t_m + o_m, lambda: d + o_m <= t_m)
    else:
        # one side is a point: every verb reads the disc test
        pin = lambda: d <= max(t_m, o_m)
        geo = spatial_verb(op, pin, pin)
    out = res.copy()
    out[polar] = np.broadcast_to(geo, out.shape)[polar]
    return out


# --- two-phase filtering helpers ----------------------------------------

# Ops whose per-candidate predicate is TRUE when the candidate is far
# away (negated verbs): outside the bbox prefilter the exact predicate
# is known without computing it.
_FAR_TRUE_OPS = frozenset({Token.NINTERSECTS, Token.NNEAR, Token.NIN})


def _deg_pad(meters: float, ref_lat: float) -> tuple[float, float]:
    """Conservative degree padding for a metric reach at a latitude.

    dlat is linear; dlon uses the spherical-cap arcsin evaluated at
    the most poleward latitude the reach can touch, ×1.001 slack —
    a strict superset of the true lon excursion at EVERY latitude.
    (The pre-round-6 form capped the latitude at 84°, which UNDER-
    covered between ~84° and the polar cap — 1/cos(87°) ≈ 19× vs the
    capped 9.6× — a prefilter false-negative window.) A reach that
    crosses a pole spans all longitudes → dlon = 360."""
    import math as _math

    m = max(meters, 0.0) + 1.0
    dlat = m / 110574.0
    edge = abs(ref_lat) + dlat
    if edge >= 90.0:
        return dlat, 360.0
    s = _math.sin(m / EARTH_RADIUS_M) / _math.cos(_math.radians(edge))
    if s >= 1.0:
        return dlat, 360.0
    return dlat, _math.degrees(_math.asin(s)) * 1.001


def _zone_prefilter(zone: Zone, batch: DeviceBatch, meters: float) -> np.ndarray:
    """Cheap candidate mask: point within the zone bbox expanded by the
    device-buffer reach — the two-phase filter of the reference
    (R-tree bbox prefilter before exact geometry, devices.go:181-192).
    Point lons are framed by ±360° into the zone's frame (exact no-op
    mid-longitude) so the dateline doesn't split the expanded bbox;
    output-transparent: the mask only needs no-false-negatives (far
    rows take the verb's known far-field value)."""
    b = zone.bbox
    ref_lat = max(abs(float(b[0])), abs(float(b[2])))
    dlat, dlon = _deg_pad(meters, ref_lat)
    lon_f = lon_to_frame(batch.lon, (float(b[1]) + float(b[3])) / 2.0)
    return (
        (batch.lat >= b[0] - dlat)
        & (batch.lat <= b[2] + dlat)
        & (lon_f >= b[1] - dlon)
        & (lon_f <= b[3] + dlon)
    )


def _device_prefilter(
    batch: DeviceBatch, lat: float, lon: float, meters: float
) -> np.ndarray:
    """Cheap candidate mask for one candidate device at ``lat``/``lon``:
    rows within the combined buffer reach (framed lons); near a pole
    the lon pad can't express the full-circle reach, so cross-pole
    rows are admitted (the exact verb's geodesic polar branch
    decides). Output-transparent, as ``_zone_prefilter``."""
    dlat, dlon = _deg_pad(meters, float(lat))
    pre = (np.abs(batch.lat - lat) <= dlat) & (
        np.abs(batch.lon - lon_to_frame(lon, batch.lon)) <= dlon
    )
    if abs(float(lat)) + dlat >= 90.0:
        pre |= np.abs(batch.lat) + dlat >= 90.0 - dlat
    return pre


def _eval_candidates(batch: DeviceBatch, scans) -> tuple[np.ndarray, list[list[str]]]:
    """The masked evaluator: ``scans`` yields (candidate id, rows, fill,
    gate, verb) and each candidate's ``verb(sub_batch)`` runs on the
    rows where ``rows`` holds only, scattered back; every other row
    takes ``fill`` — the verb's far-field value outside an explicit
    ref's prefilter, False outside the ``@`` candidacy (non-candidates
    are never examined: Near pruning is visible semantics for negated
    verbs, SURVEY.md §2B.1). No copy when ``rows`` covers the batch.
    ``ok`` latches every candidate's ``mask & gate`` and each satisfied
    row appends the id (runtime.go:1334-1341, 1632-1638)."""
    n = batch.n
    ok = np.zeros(n, dtype=bool)
    refs: list[list[str]] = [[] for _ in range(n)]
    for rid, rows, fill, gate, verb in scans:
        idx = np.flatnonzero(rows)
        if not (idx.size or fill):
            continue
        if idx.size == n:
            mask = verb(batch)
        else:
            mask = np.full(n, fill)
            if idx.size:
                mask[idx] = verb(DeviceBatch(batch.pdf.iloc[idx]))
        mask = mask & gate
        ok |= mask
        for i in np.flatnonzero(mask):
            refs[i].append(rid)
    return ok, refs


# --- node evaluation -----------------------------------------------------


def _eval_sp_object(
    node: SpObjectOp, batch: DeviceBatch, ref: Reference, layer: str
) -> NodeResult:
    layer_ok = batch.layer_id == layer
    op, kind = node.op, node.left.kind
    meters, steps = node.left.meters(), node.left.steps()

    def verb(z: Zone):
        return lambda b: _zone_verb_mask(z, op, kind, b, meters, steps)

    scans = ()
    if node.right.refs and not node.right.all:
        far = op in _FAR_TRUE_OPS
        zones = (ref.zones.lookup(rid) for rid in node.right.refs)
        scans = (
            (z.object_id, _zone_prefilter(z, batch, meters), far, layer_ok, verb(z))
            for z in zones
            if z is not None and z.layer_id == layer
        )
    elif node.right.all and not node.right.refs:
        # ``@``: per-row candidates = Objects.Near's bbox scan
        cand = zone_candidacy(
            batch.lat, batch.lon, near_radius(meters, SMALL_REGION_SIZE)
        )
        scans = (
            (z.object_id, cand(z.bbox) & layer_ok, False, layer_ok, verb(z))
            for z in ref.zones.all_zones()
            if z.layer_id == layer
        )
    ok, refs = _eval_candidates(batch, scans)
    return NodeResult(
        ok=ok,
        left_kw=Token.DEVICE,
        right_kw=node.right.kind,
        op=node.op,
        right_refs=refs,
    )


def at_verdict_col(node: SpDevicesOp) -> str:
    """The batch column that carries a point ``devices(@)`` node's
    verdict when the snapshot is a DataFrame (spark_pipeline joins it
    on; engine/devices_at.py): the sorted ids of the snapshot devices
    that satisfy the verb, null when none does. The verdict depends on
    the verb and the target buffer only, and a buffered candidate has
    no verdict column (its name carries the candidate kind)."""
    meters = repr(node.left.meters()).replace(".", "_")
    return f"_at_{node.op.name}_{node.left.kind.name}_{meters}_{node.right.kind.name}"


def _eval_sp_devices(
    node: SpDevicesOp,
    batch: DeviceBatch,
    ref: Reference,
    layer: str,
    member_mask: np.ndarray | None = None,
) -> NodeResult:
    layer_ok = batch.layer_id == layer
    active = layer_ok if member_mask is None else (layer_ok & member_mask)

    def gate(other: dict) -> np.ndarray:
        return active & (batch.layer_id == other.get("layer_id", NIL_XID))

    def verb(other: dict):
        return lambda b: _dd_verb_mask(
            node.op, node.left, node.right, b, other["lat"], other["lon"]
        )

    scans = ()
    if node.right.refs and not node.right.all:
        far = node.op in _FAR_TRUE_OPS
        reach = node.left.meters() + node.right.meters()
        others = ((rid, ref.devices.lookup(rid)) for rid in node.right.refs)
        scans = (
            (rid, _device_prefilter(batch, o["lat"], o["lon"], reach), far, gate(o), verb(o))
            for rid, o in others
            if o is not None
        )
    elif (
        node.right.all
        and not node.right.refs
        and member_mask is None
        and at_verdict_col(node) in batch.pdf
    ):
        # ``@`` with the snapshot as a DataFrame: the pair join's
        # verdict (engine/devices_at.py), null where no candidate holds.
        # Only a rule's own node has one; the devices(A) VERB
        # devices(@) form (member_mask) loops the snapshot below.
        verdict = batch.pdf[at_verdict_col(node)].to_numpy(dtype=object)
        ok = active & pd.notna(verdict)
        refs: list[list[str]] = [[] for _ in range(batch.n)]
        for i in np.nonzero(ok)[0]:
            refs[i] = list(verdict[i])
        return NodeResult(
            ok=ok, left_kw=Token.DEVICE, right_kw=Token.DEVICES, op=node.op, right_refs=refs
        )
    elif node.right.all and not node.right.refs:
        # ``@``: per-row candidates = Devices.Near's bbox scan
        cand = point_candidacy(batch.lat, batch.lon, at_search_meters(node))

        def at_scans():
            for o in ref.devices.all_devices():
                g = gate(o)
                yield o["device_id"], cand(o["lat"], o["lon"]) & g, False, g, verb(o)

        scans = at_scans()
    ok, refs = _eval_candidates(batch, scans)
    return NodeResult(
        ok=ok,
        left_kw=Token.DEVICE,
        right_kw=Token.DEVICES,
        op=node.op,
        right_refs=refs,
    )


def _membership(batch: DeviceBatch, refs: list[str]) -> np.ndarray:
    if not refs:
        return np.zeros(batch.n, dtype=bool)
    return np.isin(batch.device_id.astype(str), refs)


def _devices_lit_to_device_lit(lit: ast.DevicesLit) -> ast.DeviceLit:
    return ast.DeviceLit(kind=lit.kind, unit=lit.unit, value=lit.value)


def _eval_sp_ddevices(
    node: SpDDevicesOp, batch: DeviceBatch, ref: Reference, layer: str
) -> NodeResult:
    left_ok = _membership(batch, node.left.refs)
    right_ok = _membership(batch, node.right.refs)
    both = left_ok & right_ok
    neither = ~left_ok & ~right_ok
    excluded = both | neither
    out = NodeResult(
        ok=np.zeros(batch.n, dtype=bool),
        left_kw=Token.DEVICE,
        right_kw=Token.DEVICES,
        op=node.op,
        right_refs=[[] for _ in range(batch.n)],
    )
    if node.left.all and node.right.all:
        return out

    def run(member: np.ndarray, left_lit: ast.DevicesLit, right_lit: ast.DevicesLit):
        member = member & ~excluded
        if not member.any():
            return
        sub_op = SpDevicesOp(
            left=_devices_lit_to_device_lit(left_lit), right=right_lit, op=node.op
        )
        res = _eval_sp_devices(sub_op, batch, ref, layer, member_mask=member)
        out.ok |= res.ok
        for i in np.nonzero(res.ok)[0]:
            out.right_refs[i] = res.right_refs[i]

    # devices(@) OP devices(my) → swap (runtime.go:1393-1398)
    if node.left.all:
        run(right_ok, node.right, node.left)
        return out
    run(left_ok, node.left, node.right)
    if not node.right.all:
        run(right_ok & ~left_ok, node.right, node.left)
    return out


def _eval_sp_devices_object(
    node: SpDevicesObjectOp, batch: DeviceBatch, ref: Reference, layer: str
) -> NodeResult:
    member = _membership(batch, node.left.refs)
    sub_op = SpObjectOp(
        left=_devices_lit_to_device_lit(node.left), right=node.right, op=node.op
    )
    res = _eval_sp_object(sub_op, batch, ref, layer)
    res.ok &= member
    res.right_refs = [
        r if m else [] for r, m in zip(res.right_refs, member)
    ]
    return res


_CMP = {
    Token.EQ: lambda a, b: a == b,
    Token.LT: lambda a, b: a < b,
    Token.GT: lambda a, b: a > b,
    Token.NE: lambda a, b: a != b,
    Token.LTE: lambda a, b: a <= b,
    Token.GTE: lambda a, b: a >= b,
}


def _eval_equal_object(
    node: EqualObjectOp, batch: DeviceBatch, ref: Reference
) -> NodeResult:
    n = batch.n
    ok = np.zeros(n, dtype=bool)
    refs: list[list[str]] = [[] for _ in range(n)]
    cmp = _CMP[node.op]
    target = node.left.meters()
    # last-candidate-wins Ok, per-candidate ref append (runtime.go:1795-1825)
    for rid in node.right.refs:
        z = ref.zones.lookup(rid)
        if z is None:
            continue
        clat, clon = z.center()
        distance = round_to_unit(haversine_m(batch.lat, batch.lon, clat, clon), MIN_DIST_METERS)
        mask = np.asarray(cmp(distance, target))
        ok = mask  # overwritten, not latched
        for i in np.nonzero(mask)[0]:
            refs[i].append(rid)
    return NodeResult(
        ok=ok,
        left_kw=Token.DEVICE,
        right_kw=node.right.kind,
        op=node.op,
        right_refs=refs,
    )


def _eval_equal_devices(
    node: EqualDevicesOp, batch: DeviceBatch, ref: Reference
) -> NodeResult:
    n = batch.n
    ok = np.zeros(n, dtype=bool)
    refs: list[list[str]] = [[] for _ in range(n)]
    cmp = _CMP[node.op]
    target = node.left.meters()
    for rid in node.right.refs:
        other = ref.devices.lookup(rid)
        if other is None:
            continue
        distance = round_to_unit(
            haversine_m(batch.lat, batch.lon, other["lat"], other["lon"]),
            MIN_DIST_METERS,
        )
        mask = np.asarray(cmp(distance, target))
        ok = mask
        for i in np.nonzero(mask)[0]:
            refs[i].append(rid)
    return NodeResult(
        ok=ok,
        left_kw=Token.DEVICE,
        right_kw=Token.DEVICES,
        op=node.op,
        right_refs=refs,
    )


def eval_node(node, batch: DeviceBatch, ref: Reference, layer: str) -> NodeResult:
    if isinstance(node, SpObjectOp):
        return _eval_sp_object(node, batch, ref, layer)
    if isinstance(node, SpDevicesOp):
        return _eval_sp_devices(node, batch, ref, layer)
    if isinstance(node, SpDDevicesOp):
        return _eval_sp_ddevices(node, batch, ref, layer)
    if isinstance(node, SpDevicesObjectOp):
        return _eval_sp_devices_object(node, batch, ref, layer)
    if isinstance(node, EqualObjectOp):
        return _eval_equal_object(node, batch, ref)
    if isinstance(node, EqualDevicesOp):
        return _eval_equal_devices(node, batch, ref)
    if isinstance(node, EqualIntOp):
        return NodeResult(
            ok=np.asarray(_CMP[node.op](int_val(batch, node.keyword), node.value)),
            left_kw=node.keyword,
            right_kw=Token.INT,
            op=node.op,
        )
    if isinstance(node, EqualFloatOp):
        return NodeResult(
            ok=np.asarray(_CMP[node.op](float_val(batch, node.keyword), node.value)),
            left_kw=node.keyword,
            right_kw=Token.FLOAT,
            op=node.op,
        )
    if isinstance(node, EqualStrOp):
        # NumPy unicode arrays compare lexicographically by code point,
        # identical to Python str comparison — vectorized, no per-row loop
        vals = np.asarray(str_val(batch, node.keyword), dtype="U")
        ok = np.asarray(_CMP[node.op](vals, node.value), dtype=bool)
        return NodeResult(ok=ok, left_kw=node.keyword, right_kw=Token.STRING, op=node.op)
    if isinstance(node, EqualTimeOp):
        bound = _day_anchor(batch, node.hour, node.minute)
        return NodeResult(
            ok=np.asarray(_CMP[node.op](batch.datetime, bound)),
            left_kw=node.keyword,
            right_kw=Token.TIME,
            op=node.op,
        )
    if isinstance(node, InIntOp):
        found = np.isin(int_val(batch, node.keyword), list(node.values))
        return NodeResult(
            ok=~found if node.negate else found,
            left_kw=node.keyword,
            right_kw=Token.INT,
            op=Token.NIN if node.negate else Token.IN,
        )
    if isinstance(node, InFloatOp):
        found = np.isin(float_val(batch, node.keyword), list(node.values))
        return NodeResult(
            ok=~found if node.negate else found,
            left_kw=node.keyword,
            right_kw=Token.FLOAT,
            op=Token.NIN if node.negate else Token.IN,
        )
    if isinstance(node, InStringOp):
        found = np.isin(str_val(batch, node.keyword).astype(str), list(node.values))
        return NodeResult(
            ok=~found if node.negate else found,
            left_kw=node.keyword,
            right_kw=Token.STRING,
            op=Token.NIN if node.negate else Token.IN,
        )
    if isinstance(node, RangeIntOp):
        v = int_val(batch, node.keyword)
        ok = (
            (v <= node.begin) | (v >= node.end)
            if node.negate
            else (v >= node.begin) & (v <= node.end)
        )
        return NodeResult(
            ok=ok,
            left_kw=node.keyword,
            right_kw=Token.INT,
            op=Token.NRANGE if node.negate else Token.RANGE,
        )
    if isinstance(node, RangeFloatOp):
        v = float_val(batch, node.keyword)
        ok = (
            (v <= node.begin) | (v >= node.end)
            if node.negate
            else (v >= node.begin) & (v <= node.end)
        )
        return NodeResult(
            ok=ok,
            left_kw=node.keyword,
            right_kw=Token.FLOAT,
            op=Token.NRANGE if node.negate else Token.RANGE,
        )
    if isinstance(node, RangeTimeOp):
        d1 = _day_anchor(batch, node.begin_h, node.begin_m)
        d2 = _day_anchor(batch, node.end_h, node.end_m)
        v = batch.datetime
        ok = (v <= d1) | (v >= d2) if node.negate else (v >= d1) & (v <= d2)
        return NodeResult(
            ok=ok,
            left_kw=node.keyword,
            right_kw=Token.TIME,
            op=Token.NRANGE if node.negate else Token.RANGE,
        )
    if isinstance(node, RangeDateTimeOp):
        v = batch.datetime
        ok = (
            (v <= node.begin_unix) | (v >= node.end_unix)
            if node.negate
            else (v >= node.begin_unix) & (v <= node.end_unix)
        )
        return NodeResult(
            ok=ok,
            left_kw=node.keyword,
            right_kw=Token.DATETIME,
            op=Token.NRANGE if node.negate else Token.RANGE,
        )
    raise TypeError(f"unknown node type: {type(node)!r}")


# --- spec evaluation (state fold + node fold, runtime.go:103-236) --------


def _dwell_lit(node) -> ast.ObjectLit | None:
    """The node's ObjectLit iff it carries a live ``:time duration|
    after`` suffix on a spatial verb (dwell scope; see fold_state).
    Comparator ops (EqualObjectOp) keep the reference's stateful-mark-
    only treatment even under ``eval_dwell``."""
    if isinstance(node, (SpObjectOp, SpDevicesObjectOp)):
        lit = node.right
        if lit.dur_typ in (Token.DURATION, Token.AFTER) and lit.dur_val > 0:
            return lit
    return None


def spec_carries_state(spec: CompiledSpec, eval_dwell: bool) -> bool:
    """The state contract: a rule keeps (device, rule) state only when a
    later event can depend on it — a real ``:trigger``, or a dwell
    suffix under ``eval_dwell``. A trigger-less ``{...}`` props block
    marks a spec stateful (``is_stateful``, runtime.go:338-342) but its
    trigger gate is constant-true, so its state could decide nothing."""
    return spec.props.repeat != ast.REPEAT_NONE or (
        eval_dwell and any(_dwell_lit(n) is not None for n in spec.nodes)
    )


def fold_state(
    spec: CompiledSpec,
    batch: DeviceBatch,
    states: StateStore,
    rule_id: str,
    layer_ok: np.ndarray,
    node_results: list[NodeResult],
    eval_dwell: bool,
) -> np.ndarray:
    """The (device, rule) state machine, one fold for every detect
    surface: each layer-gated row looks up its state once, then

    - with a real ``:trigger``, maybe-resets (State.NeedReset,
      state.go:199-211), runs checkTrigger, then changeState
      (runtime.go:103-163);
    - under ``eval_dwell``, advances each dwell node's visits and
      rewrites the node's ``ok`` and ``right_refs`` (see below).

    Returns the gate: ``layer_ok``, narrowed to the rows whose trigger
    fired when the rule has one. Node evaluation never reads state, so
    folding after it gives the reference's check → evaluate →
    changeState outcome. A rule with neither a trigger nor a live
    dwell suffix keeps no state and skips the loop.

    SEQUENTIAL per row, exactly the reference's per-event ordering
    (Engine.Detect evaluates one update at a time, engine.go:190-225):
    row i+1 of a device sees the state as updated by row i, so callers
    feed rows in (device_id, datetime, url) order and the outcome is
    independent of Arrow batch boundaries and partition count.

    Dwell (``:time duration|after <dur>`` on a spatial verb) EXCEEDS
    the reference: spinix parses the suffix and marks the rule stateful
    (runtime.go:270-285, parser.go:499) but never calls
    ``State.LastVisit``/``SetLastVisit`` (state.go:237-247), so its
    suffix is a no-op; this engine evaluates it, opt-in via
    ``eval_dwell`` so the default keeps reference row parity. Per
    (node, object):

    - a *visit* opens at the first gated row where the node holds for
      the object and CLEARS at the first gated row where it does not
      (rows outside the rule bbox are never observed);
    - ``duration D`` (level-triggered): the node matches the object at
      time t iff it holds and t - first_visit >= D;
    - ``after D`` (edge-triggered): same threshold, but only the first
      qualifying row of each visit matches.

    Visits live in the state's ``visits`` map ({"<node_idx>:<object_id>":
    first_visit}, the shape of State.objectsVisits with the node index
    prefixed so two dwell nodes over one object cannot alias). A fired
    ``after`` visit stores -(first_visit + 1), sign-safe for a visit
    opened at unix ts 0 (a mark saved in the older bare ``-first`` form
    decodes 1 s early, which no later row can observe: the node stays
    suppressed while the mark is negative). Visits advance on every gated row whatever the
    other nodes and the trigger decide, and a trigger reset leaves them
    alone (stores.state_reset)."""
    trigger = spec.props.repeat != ast.REPEAT_NONE
    dwell = []  # (node result, prefix, explicit keys, duration, edge, new ok)
    if eval_dwell:
        for j, node in enumerate(spec.nodes):
            lit = _dwell_lit(node)
            if lit is not None:
                prefix = f"{j}:"
                explicit = (
                    [prefix + r for r in lit.refs] if lit.refs and not lit.all else None
                )
                dwell.append(
                    (node_results[j], prefix, explicit, float(lit.dur_val),
                     lit.dur_typ is Token.AFTER, np.zeros(batch.n, dtype=bool))
                )
    if not trigger and not dwell:
        return layer_ok
    reset_s = spec.props.reset_interval_s
    counts_hits = spec.props.repeat in (ast.REPEAT_TIMES, ast.REPEAT_ONCE)
    gate = np.zeros(batch.n, dtype=bool) if trigger else layer_ok
    for i in np.flatnonzero(layer_ok).tolist():
        # the store's own dict, already marked dirty: mutated in place
        st = states.lookup_or_make(str(batch.device_id[i]), rule_id)
        now = int(batch.datetime[i])
        if trigger:
            if now > 0:
                st["now"] = now
            if state_need_reset(st, reset_s):
                state_reset(st)
                st["last_reset"] = st["now"]  # UpdateLastResetTime
            if _check_trigger(spec, st):
                # changeState — immediately, so the device's next row sees it
                gate[i] = True
                st["last_seen"] = st["now"]
                if counts_hits:
                    st["hits"] += 1
        for res, prefix, explicit, dur, edge, new_ok in dwell:
            visits = st["visits"]
            refs = res.right_refs
            hits = {prefix + o: o for o in (refs[i] if refs is not None else ())}
            # a miss clears the visit — only keys this node owns
            owned = (
                explicit
                if explicit is not None
                else [k for k in visits if k.startswith(prefix)]
            )
            for k in owned:
                if k in visits and k not in hits:
                    del visits[k]
            ok_objs = []
            for k, obj in hits.items():
                fv = visits.setdefault(k, now)
                first = (-fv - 1) if fv < 0 else fv
                if now - first >= dur and not (edge and fv < 0):
                    ok_objs.append(obj)
                    if edge:
                        visits[k] = -(first + 1)
            new_ok[i] = bool(ok_objs)
            if refs is not None:
                refs[i] = ok_objs
    for res, *_, new_ok in dwell:
        res.ok = new_ok
    return gate


def _check_trigger(spec: CompiledSpec, st: dict) -> bool:
    """checkTrigger (runtime.go:111-131)."""
    repeat = spec.props.repeat
    if repeat == ast.REPEAT_EVERY:
        if st["last_seen"] == 0:
            return True
        return (st["now"] - st["last_reset"]) > int(spec.props.delay_s)
    if repeat == ast.REPEAT_TIMES:
        if (st["now"] - st["last_seen"]) < int(spec.props.interval_s):
            return False
        return st["hits"] < spec.props.times
    if repeat == ast.REPEAT_ONCE:
        return st["hits"] == 0
    return True


def eval_spec_full(
    spec: CompiledSpec,
    batch_pdf: pd.DataFrame,
    ref: Reference,
    rule_id: str,
    eval_dwell: bool = False,
):
    """Low-level evaluation of one rule over one batch: every node is
    evaluated vectorized, then ``fold_state`` advances the rule's
    (device, rule) trigger and dwell state in one sequential pass — the
    one state machine of every detect surface. Returns
    ``(final_ok, node_results, recorded, gate)`` where ``gate`` is the
    layer∧trigger mask and ``recorded[j]`` marks devices for which
    node j's Match would be captured (AND-skip semantics,
    runtime.go:186-231). Callers build match rows columnar from these
    arrays."""
    batch = DeviceBatch(batch_pdf)
    n = batch.n
    if n == 0 or not spec.nodes:
        z = np.zeros(0, dtype=bool)
        return z, [], [], z

    layer_ok = batch.layer_id == spec.props.layer
    node_results = [eval_node(node, batch, ref, spec.props.layer) for node in spec.nodes]
    gate = fold_state(
        spec, batch, ref.states, rule_id, layer_ok, node_results, eval_dwell
    )

    # left-to-right fold with AND-skip (runtime.go:186-231)
    acc = node_results[0].ok & layer_ok
    recorded = [np.ones(n, dtype=bool)]
    for i in range(1, len(node_results)):
        op = spec.ops[i - 1]
        if op is Token.AND:
            active = acc.copy()
            recorded.append(active)
            acc = acc & node_results[i].ok
        else:
            recorded.append(np.ones(n, dtype=bool))
            acc = acc | node_results[i].ok

    return acc & gate, node_results, recorded, gate


def eval_spec(
    spec: CompiledSpec,
    batch_pdf: pd.DataFrame,
    ref: Reference,
    rule_id: str,
    eval_dwell: bool = False,
) -> tuple[np.ndarray, list[list[dict]]]:
    """Evaluate one compiled rule against a batch — the per-match
    oracle form behind ``Engine.detect_batch``; the Spark surfaces emit
    columnar rows through ``spark_pipeline.kernel_event_frames``.

    Returns (ok bool (N,), matches per device) where each match is a
    dict (ok, left_kw, right_kw, op, left_refs, right_refs) — the
    golden comparison tuple of assertRuntimeTestCase
    (runtime_test.go:196-237).
    """
    final_ok, node_results, recorded, gate = eval_spec_full(
        spec, batch_pdf, ref, rule_id, eval_dwell=eval_dwell
    )
    n = final_ok.shape[0]
    matches: list[list[dict]] = [[] for _ in range(n)]
    if n == 0:
        return final_ok, matches
    device_ids = batch_pdf["device_id"].to_numpy(dtype=object)

    any_hit = np.zeros(n, dtype=bool)
    for j, res in enumerate(node_results):
        any_hit |= recorded[j] & res.ok
    for i in np.nonzero(any_hit & gate)[0]:
        for j, res in enumerate(node_results):
            if recorded[j][i] and res.ok[i]:
                matches[i].append(
                    {
                        "ok": True,
                        "left_kw": str(res.left_kw),
                        "right_kw": str(res.right_kw),
                        "op": str(res.op),
                        "left_refs": [str(device_ids[i])]
                        if res.left_is_target
                        else [],
                        "right_refs": list(res.right_refs[i])
                        if res.right_refs is not None
                        else [],
                    }
                )
    return final_ok, matches
