"""Engine driver: rule registry + per-batch detection.

Set-oriented re-expression of ``Engine.Detect`` (engine.go:190-225):
a batch of device updates is evaluated against (a) the broadcast rule
registry with bbox/cell pruning (Rules.Walk, rule.go:229-249), and
(b) the device-position snapshot *as of the previous batch* — the
reference inserts each device into its index only after evaluating it
(engine.go:218-221) — then the batch is merged into the snapshot.

Rule registration replicates ``Engine.AddRule`` (engine.go:110-188):
auto-center from referenced objects' bboxes when ``:center`` is
missing, radius auto-expand (triple up to 10×) until the rule circle's
bbox contains every referenced object, radius floor/clamp
(spec.normalizeRadius, runtime.go:81-86), and an 8-step polygonized
geofence circle whose bbox becomes the prune key (rule.go:85-99).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import numpy as np
import pandas as pd

from spinix_spark.dsl.compiler import (
    CompiledSpec,
    EqualObjectOp,
    SpDevicesObjectOp,
    SpObjectOp,
    compile_spec,
)
from spinix_spark.engine.runtime import Reference, eval_spec
from spinix_spark.engine.stores import DeviceSnapshot, StateStore, ZoneStore
from spinix_spark.geo.cells import DEFAULT_SCHEME, GridScheme
from spinix_spark.geo.geodesy import (
    EARTH_RADIUS_M,
    MIN_DIST_METERS,
    haversine_scalar,
    lon_to_frame,
    normalize_distance,
    region_size_from_meters,
)
from spinix_spark.geo.rings import RULE_CIRCLE_STEPS, circle_ring, ring_bbox


def _rule_geofence(props) -> tuple[np.ndarray, np.ndarray]:
    """The rule's 8-gon geofence ring and its bbox, pole-aware: a
    circle that crosses a pole covers [near-side min lat .. 90] at ALL
    longitudes, which the planar min/max of the ring's vertices cannot
    express (no vertex lies near the pole — bearing-0 vertices land on
    the FAR side at reflected latitude). Plain ring_bbox elsewhere."""
    import math

    lat, radius_m = props.center_lat, props.radius_m
    ring = circle_ring(lat, props.center_lon, radius_m, RULE_CIRCLE_STEPS)
    b = ring_bbox(ring)
    deg_r = math.degrees(radius_m / EARTH_RADIUS_M)
    if lat + deg_r >= 90.0:
        b = np.array([float(b[0]), -180.0, 90.0, 180.0])
    elif lat - deg_r <= -90.0:
        b = np.array([-90.0, -180.0, float(b[2]), 180.0])
    return ring, b


def rule_gate_mask(bbox, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Rules.Walk for one rule (rule.go:229-249): mask of the points
    inside the rule's geofence bbox. Point lons are framed (±360°) to
    the box center, so a rule centered near ±180° — whose box has
    UNNORMALIZED lons — admits the far-side points; a bitwise no-op
    for mid-lon rules. The SQL form is spark_pipeline._bbox_pred."""
    lon_f = lon_to_frame(lon, (float(bbox[1]) + float(bbox[3])) / 2.0)
    return (lat >= bbox[0]) & (lat <= bbox[2]) & (lon_f >= bbox[1]) & (lon_f <= bbox[3])


_rule_seq = itertools.count(1)


def _new_rule_id() -> str:
    # deterministic 20-char ids in the xid alphabet
    n = next(_rule_seq)
    base = "rule"
    suffix = np.base_repr(n, 32).lower()
    return (base + "0" * (20 - len(base) - len(suffix)) + suffix)[:20]


@dataclass
class Rule:
    rule_id: str
    spec: CompiledSpec
    bbox: np.ndarray | None = None  # geofence circle bbox
    ring: np.ndarray | None = None

    def to_json(self) -> str:
        """Rule snapshot round-trip (≙ the reference's rule JSON
        serialization, rule.go:101-174 / disabled rule_test.go)."""
        import json

        return json.dumps(
            {
                "rule_id": self.rule_id,
                "spec": self.spec.source,
                "center_lat": self.spec.props.center_lat,
                "center_lon": self.spec.props.center_lon,
                "radius_m": self.spec.props.radius_m,
                "layer_id": self.spec.props.layer,
            }
        )

    @staticmethod
    def from_json(engine: "Engine", s: str) -> "Rule":
        import json

        d = json.loads(s)
        # deserialized rules get a 1 km radius floor (rule.go:54-56)
        rule = engine.add_rule(d["spec"], rule_id=d["rule_id"])
        if rule.spec.props.radius_m < 1000.0:
            rule.spec.props.radius_m = 1000.0
            rule.ring, rule.bbox = _rule_geofence(rule.spec.props)
        return rule


class Engine:
    def __init__(
        self, scheme: GridScheme = DEFAULT_SCHEME, eval_dwell: bool = False
    ) -> None:
        self.scheme = scheme
        # opt-in dwell evaluation for ``:time duration|after`` object
        # suffixes (runtime.fold_state). Default False = reference
        # row parity (the reference only marks such rules stateful,
        # runtime.go:270-285, and never evaluates the dwell — see
        # COVERAGE.md parity footnote).
        self.eval_dwell = eval_dwell
        self.zones = ZoneStore()
        self.devices = DeviceSnapshot()
        self.states = StateStore()
        self.rules: dict[str, Rule] = {}
        # hooks (hooks.go:3-5; invoked engine.go:197-201, 213-215):
        # before_detect(device_row, rule) -> bool gates evaluation;
        # after_detect(device_row, rule, events) observes results
        self.before_detect = None
        self.after_detect = None

    @classmethod
    def from_frames(cls, zones_df, rules_df, scheme: GridScheme = DEFAULT_SCHEME) -> "Engine":
        """Build an engine from catalog tables (FIXTURES.md §3/§4
        schemas): zones ``(object_id, layer_id, kind, geojson)`` and
        rules ``(rule_id, spec)``. This is the migration path for a
        reference user: their GeoJSON objects and DSL rule strings load
        unchanged. Accepts Spark or pandas DataFrames (dimension-sized
        → collected to the driver, then broadcast by the pipeline)."""
        from spinix_spark.engine.stores import zone_from_geojson

        engine = cls(scheme=scheme)
        z_rows = (
            zones_df.to_dict("records")
            if hasattr(zones_df, "to_dict")
            else [r.asDict() for r in zones_df.collect()]
        )
        for r in z_rows:
            engine.zones.add(
                zone_from_geojson(r["object_id"], r["layer_id"], r["geojson"])
            )
        r_rows = (
            rules_df.to_dict("records")
            if hasattr(rules_df, "to_dict")
            else [r.asDict() for r in rules_df.collect()]
        )
        for r in r_rows:
            engine.add_rule(r["spec"], rule_id=r["rule_id"])
        return engine

    # --- rule registration (engine.go:110-188) --------------------------

    def _referenced_object_ids(self, spec: CompiledSpec) -> list[str]:
        ids: list[str] = []
        for node in spec.nodes:
            if isinstance(node, (SpObjectOp, SpDevicesObjectOp, EqualObjectOp)):
                ids.extend(node.right.refs)
        return ids

    def add_rule(self, spec_str: str, rule_id: str | None = None) -> Rule:
        spec = compile_spec(spec_str)
        props = spec.props

        # auto-center from referenced objects (calcCenter, engine.go:137-152);
        # boxes are framed by ±360° to the FIRST box's frame (no-op
        # mid-longitude) so a dateline-straddling zone set doesn't
        # average to a bogus antipodal center
        if props.center_lat == 0 and props.center_lon == 0:
            refs = self._referenced_object_ids(spec)
            boxes = [
                self.zones.lookup(r).bbox for r in refs if self.zones.lookup(r) is not None
            ]
            if not boxes:
                raise ValueError("spinix/rule: coordinates are not specified")
            all_b = np.stack(boxes).astype(np.float64)
            mids = (all_b[:, 1] + all_b[:, 3]) / 2.0
            dl = lon_to_frame(mids, float(mids[0])) - mids
            all_b[:, 1] += dl
            all_b[:, 3] += dl
            minlat, minlon = all_b[:, 0].min(), all_b[:, 1].min()
            maxlat, maxlon = all_b[:, 2].max(), all_b[:, 3].max()
            props.center_lat = (minlat + maxlat) / 2.0
            props.center_lon = (minlon + maxlon) / 2.0
            if props.radius_m <= 0:
                # half-diagonal so the circle spans the combined bbox
                props.radius_m = (
                    haversine_scalar(minlat, minlon, maxlat, maxlon) / 2.0
                )

        # radius floor + tier clamp (runtime.go:81-86)
        if props.radius_m < MIN_DIST_METERS:
            props.radius_m = MIN_DIST_METERS
        size = region_size_from_meters(props.radius_m)
        props.radius_m = normalize_distance(props.radius_m, size)

        # auto-expand: triple radius up to 10 steps until circle bbox
        # contains every referenced object (expand, engine.go:154-188).
        # Each referenced bbox's lon interval is framed by ±360° into
        # the rule center's frame (no-op mid-longitude): the rule ring
        # around ±180° has UNNORMALIZED lons, so a raw comparison
        # against a far-side zone never succeeds and the radius would
        # triple to planet scale
        def _framed(b):
            mid = (float(b[1]) + float(b[3])) / 2.0
            d = float(lon_to_frame(mid, float(props.center_lon))) - mid
            return (float(b[0]), float(b[1]) + d, float(b[2]), float(b[3]) + d)

        refs = self._referenced_object_ids(spec)
        boxes = [
            _framed(self.zones.lookup(r).bbox)
            for r in refs
            if self.zones.lookup(r) is not None
        ]
        for _ in range(10):
            ring = circle_ring(
                props.center_lat, props.center_lon, props.radius_m, RULE_CIRCLE_STEPS
            )
            bbox = ring_bbox(ring)
            if all(
                b[0] >= bbox[0] and b[1] >= bbox[1] and b[2] <= bbox[2] and b[3] <= bbox[3]
                for b in boxes
            ):
                break
            props.radius_m *= 3.0
        ring, bbox = _rule_geofence(props)

        rid = rule_id or _new_rule_id()
        rule = Rule(rule_id=rid, spec=spec, bbox=bbox, ring=ring)
        self.rules[rid] = rule
        return rule

    def delete_rule(self, rule_id: str) -> None:
        self.rules.pop(rule_id, None)
        self.states.remove_by_rule(rule_id)

    # --- detection ------------------------------------------------------

    def detect_batch(self, batch: pd.DataFrame) -> pd.DataFrame:
        """Evaluate a batch against the previous snapshot, emit events,
        then merge the batch into the snapshot."""
        ref = Reference(zones=self.zones, devices=self.devices, states=self.states)
        events: list[dict] = []
        if len(batch):
            lat = batch["lat"].to_numpy(dtype=np.float64)
            lon = batch["lon"].to_numpy(dtype=np.float64)
            for rid, rule in self.rules.items():
                mask = rule_gate_mask(rule.bbox, lat, lon)
                if self.before_detect is not None:
                    gate = np.array(
                        [
                            bool(self.before_detect(batch.iloc[i], rule))
                            for i in range(len(batch))
                        ]
                    )
                    mask = mask & gate
                if not mask.any():
                    continue
                sub = batch.loc[mask].reset_index(drop=True)
                ok, matches = eval_spec(
                    rule.spec, sub, ref, rid, eval_dwell=self.eval_dwell
                )
                rule_events: list[dict] = []
                for i in np.nonzero(ok)[0]:
                    row = sub.iloc[i]
                    rule_events.append(
                        {
                            "device_id": row["device_id"],
                            "url": row.get("url", ""),
                            "rule_id": rid,
                            "spec": rule.spec.source,
                            "datetime": int(row.get("datetime", 0)),
                            "matches": matches[i],
                        }
                    )
                if self.after_detect is not None and rule_events:
                    self.after_detect(rule, rule_events)
                events.extend(rule_events)
            # evaluate-then-insert ordering (engine.go:218-221)
            self.devices.merge_batch(batch.to_dict("records"))
        return pd.DataFrame(
            events,
            columns=["device_id", "url", "rule_id", "spec", "datetime", "matches"],
        )
