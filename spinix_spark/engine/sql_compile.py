"""Rule → Catalyst compiler: the all-JVM fast path.

For eligible rules the entire evaluation — spatial predicates, the
attribute comparators, the left-to-right AND/OR fold with AND-skip
match capture, and the per-node ref collection — compiles to Catalyst
column expressions over the points scan. No Arrow boundary, no Python
workers: whole-stage codegen end to end. That does not make it the
faster plan for zone verbs: the unrolled ray-cast grows with the
zone's vertex count, and on one ``device intersects polygon(Z)`` rule
over 200 k points (local[2], warm) the kernel path was faster from 16
vertices up (0.53 s against 0.92 s at 16, 0.69 s against 5.82 s at
256). A rule that compiles still takes this path.

Eligible today (falls back to the vectorized-kernel mapInPandas path
otherwise, chosen per rule):

- stateless rules only (trigger state is a keyed stateful stage)
- spatial nodes: point devices versus zone refs or ``@`` (polygon /
  multiPolygon / rect / circle / point / LINE / multiLine /
  collections) with any verb — the zone geometry is constant, so the
  exact predicate is a fixed expression: boundary-INCLUSIVE ray-cast
  PIP (identical arithmetic to geo/predicates.py, including the
  on-edge clause), exact haversine for circle zones, equality for
  point zones, per-segment on-edge terms for lines
- distance comparators (EqualObjectOp) with their 50 m rounding and
  the reference's last-candidate-wins Ok (runtime.go:1795-1825)
- every attribute op (int/float/string/time/datetime views of the
  device row, runtime.go:2126-2224)

Buffered devices (``:radius`` 12-gon / ``:bbox`` rect) always take
the kernel path: their ring is built per row, and the Catalyst form of
the ring-ring predicates needs higher-order-function lambdas, which
measured ~250× slower than the vectorized Arrow+NumPy kernel on
local[8] at 200k rows (115 s vs 0.45 s steady-state) — the lambdas sit
outside whole-stage codegen and allocate a struct per element.

Output rows are bit-identical to the kernel path (asserted by the
randomized cross-path parity test).
"""

from __future__ import annotations

from dataclasses import dataclass

from spinix_spark.dsl import ast_nodes as ast
from spinix_spark.dsl.compiler import (
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
    SpDevicesOp,
    SpObjectOp,
)
from spinix_spark.dsl.tokens import Token
from spinix_spark.geo.geodesy import MIN_DIST_METERS
from spinix_spark.geo.sqlgen import haversine_sql, point_in_ring_sql, round50_sql


@dataclass
class NodeSQL:
    ok_sql: str
    refs_sql: str  # array<string> expression
    left_kw: str
    right_kw: str
    op: str


_CMP_SQL = {
    Token.EQ: "=",
    Token.LT: "<",
    Token.GT: ">",
    Token.NE: "<>",
    Token.LTE: "<=",
    Token.GTE: ">=",
}

_FLOAT_COLS = {
    Token.FUELLEVEL: "fuel_level",
    Token.PRESSURE: "pressure",
    Token.LUMINOSITY: "luminosity",
    Token.HUMIDITY: "humidity",
    Token.TEMPERATURE: "temperature",
    Token.BATTERY_CHARGE: "battery",
    Token.SPEED: "speed",
}

_STR_COLS = {
    Token.MODEL: "model",
    Token.BRAND: "brand",
    Token.OWNER: "owner",
    Token.IMEI: "imei",
}

_TS = "to_timestamp(datetime)"  # session tz pinned to UTC by the caller

_DATE_FLOAT = {
    Token.YEAR: f"CAST(year({_TS}) AS DOUBLE)",
    Token.MONTH: f"CAST(month({_TS}) AS DOUBLE)",
    Token.WEEK: f"CAST(weekofyear({_TS}) AS DOUBLE)",
    Token.DAY: f"CAST(day({_TS}) AS DOUBLE)",
    Token.HOUR: f"CAST(hour({_TS}) AS DOUBLE)",
}

_DATE_STR = {
    Token.MONTH: f"date_format({_TS}, 'MMMM')",
    Token.DAY: f"date_format({_TS}, 'EEEE')",
    Token.DATE: f"date_format({_TS}, 'yyyy-MM-dd')",
    Token.DATETIME: f"date_format({_TS}, \"yyyy-MM-dd'T'HH:mm:ss'Z'\")",
}


def _float_sql(kw: Token, columns: set[str]) -> str | None:
    if kw is Token.STATUS:
        return "CAST(status AS DOUBLE)" if "status" in columns else "CAST(0 AS DOUBLE)"
    col = _FLOAT_COLS.get(kw)
    if col is not None:
        # zero-value semantics for BOTH null and NaN (a pandas/Arrow
        # NaN is a DOUBLE NaN, not NULL — coalesce alone passes it
        # through, and ANSI CAST(NaN AS BIGINT) throws on the int view)
        return (
            f"nanvl(CAST(coalesce({col}, 0.0) AS DOUBLE), CAST(0.0 AS DOUBLE))"
            if col in columns
            else "CAST(0.0 AS DOUBLE)"
        )
    expr = _DATE_FLOAT.get(kw)
    if expr is not None:
        return expr if "datetime" in columns else None
    return None


def _int_sql(kw: Token, columns: set[str]) -> str | None:
    f = _float_sql(kw, columns)
    # Go int(float64) truncates toward zero; Spark CAST(double AS BIGINT) too
    return None if f is None else f"CAST({f} AS BIGINT)"


def _str_sql(kw: Token, columns: set[str]) -> str | None:
    col = _STR_COLS.get(kw)
    if col is not None:
        return f"coalesce({col}, '')" if col in columns else "''"
    expr = _DATE_STR.get(kw)
    if expr is not None:
        return expr if "datetime" in columns else None
    return None


def _day_anchor_sql(h: int, m: int) -> str:
    # UTC midnight from unix seconds (datetimes are non-negative here)
    return f"((datetime DIV 86400) * 86400 + {h * 3600 + m * 60})"


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _verb_table(op: Token, inter: str, within: str) -> str | None:
    """spObjectOp truth table (runtime.go:1313-1333)."""
    if op is Token.INTERSECTS:
        return inter
    if op is Token.NINTERSECTS:
        return f"(NOT {inter})"
    if op is Token.NEAR:
        return f"({inter} OR {within})"
    if op is Token.NNEAR:
        return f"((NOT {inter}) OR (NOT {within}))"
    if op is Token.IN:
        return within
    if op is Token.NIN:
        return f"(NOT {within})"
    return None


def _part_mid_lon_sql(part) -> float:
    lons = [float(p[1]) for p in part]
    return (min(lons) + max(lons)) / 2.0


def _zone_point_pred(zone, op: Token) -> str | None:
    """Per-zone predicate for a POINT device (truth table of
    runtime.go:1313-1333). Component-based like the kernel's
    zone_intersects_point / zone_within_point — covers polygons,
    rects, points, LINES and geometry collections. Returns a boolean
    SQL expr or None if the zone kind is not expressible.

    Global-geometry parity with the kernel: the point lon is framed
    by ±360° into each zone part's frame (lon_frame_sql — same CASE
    arithmetic as runtime.zone_intersects_point's lon_to_frame, exact
    no-op mid-longitude); circle zones are exact haversine, already
    wrap/pole-correct."""
    from spinix_spark.geo.sqlgen import lon_frame_sql, point_on_line_sql

    if zone.circle is not None:
        clat, clon, r = zone.circle
        inter = f"({haversine_sql('lat', 'lon', repr(clat), repr(clon))} <= {r!r})"
        within = "false"
        return _verb_table(op, inter, within)
    inter_terms: list[str] = []
    for ring in zone.rings:
        inter_terms.append(
            point_in_ring_sql(
                "lat", lon_frame_sql("lon", repr(_part_mid_lon_sql(ring))),
                [(float(p[0]), float(p[1])) for p in ring],
                inclusive=True,
            )
        )
    for line in zone.lines:
        inter_terms.append(
            point_on_line_sql(
                "lat", lon_frame_sql("lon", repr(_part_mid_lon_sql(line))),
                [(float(p[0]), float(p[1])) for p in line],
            )
        )
    pts = (
        [(float(p[0]), float(p[1])) for p in zone.points]
        if zone.points is not None
        else []
    )

    def _pt_eq(a: float, b: float) -> str:
        return f"(lat = {a!r} AND {lon_frame_sql('lon', repr(b))} = {b!r})"

    for a, b in pts:
        inter_terms.append(_pt_eq(a, b))
    if not inter_terms:
        return None
    inter = "(" + " OR ".join(inter_terms) + ")"
    # zone_within_point: only a pure point object can be "within" a point
    if zone.kind in ("point", "multiPoint") and pts and not zone.rings and not zone.lines:
        within = "(" + " AND ".join(_pt_eq(a, b) for a, b in pts) + ")"
    else:
        within = "false"
    return _verb_table(op, inter, within)


def _near_candidate_sql(zone, meters: float) -> str:
    """Search-rect(point, meters) intersects zone bbox — the exact
    candidacy test of ZoneStore.near / rect_from_center
    (geo/rings.py:rect_from_center), as a SQL expression over the
    row's lat/lon. Same formula: dlat = degrees(r), dlon from the
    spherical-cap arcsin with the cosine clamp.

    Mirrors ZoneStore.near's round-5 global-geometry form: the zone's
    lon interval is rigidly shifted by ±360° into the row's frame
    (exact no-op mid-longitude — the shift term is exactly 0.0 when
    |zone_center_lon - lon| <= 180), and a search disc that crosses a
    pole admits any zone touching the 2·deg_r polar band (the
    asin-clamped rect cannot express all-longitudes reach at a pole).
    Near candidacy is visible semantics for negated verbs, so this
    must match stores.py:near exactly."""
    import math

    from spinix_spark.geo.geodesy import EARTH_RADIUS_M
    from spinix_spark.geo.sqlgen import lon_frame_sql

    b = zone.bbox
    r = float(meters) / EARTH_RADIUS_M
    dlat = f"{math.degrees(r)!r}"
    sin_r = f"{math.sin(r)!r}"
    dlon = (
        f"DEGREES(ASIN(LEAST(GREATEST({sin_r} / "
        f"GREATEST(COS(RADIANS(lat)), 1e-12), -1.0), 1.0)))"
    )
    # per-row ±360° shift of the zone interval into the row's frame
    # (stores.py:near: dl = lon_to_frame(zone_center, lon) - zone_center)
    zc = (float(b[1]) + float(b[3])) / 2.0
    dl = f"({lon_frame_sql(repr(zc), 'lon')} - {zc!r})"
    base = (
        f"((lat + {dlat}) >= {float(b[0])!r} AND (lat - {dlat}) <= {float(b[2])!r}"
        f" AND (lon + {dlon}) >= ({float(b[1])!r} + {dl})"
        f" AND (lon - {dlon}) <= ({float(b[3])!r} + {dl}))"
    )
    deg_r = math.degrees(r)
    terms = [base]
    if float(b[2]) >= 90.0 - 2.0 * deg_r:
        terms.append(f"((lat + {deg_r!r}) >= 90.0)")
    if float(b[0]) <= -90.0 + 2.0 * deg_r:
        terms.append(f"((lat - {deg_r!r}) <= -90.0)")
    return "(" + " OR ".join(terms) + ")" if len(terms) > 1 else base


def _refs_array_sql(pairs: list[tuple[str, str]]) -> str:
    """[(pred_sql, ref_id)] → array<string> of satisfied refs, in
    candidate iteration order."""
    cases = ", ".join(
        f"CASE WHEN {p} THEN {_sql_str(r)} ELSE NULL END" for p, r in pairs
    )
    return f"filter(array({cases}), x -> x IS NOT NULL)"


def _candidate_device_pred(engine, rid: str, kind, meters: float, steps: int, op: Token) -> tuple[str, str] | None:
    """Per-candidate predicate for a POINT target device versus one
    snapshot device (truth table of runtime.go:1662-1700; candidate
    positions are plan-time constants from the broadcast snapshot).
    Returns (pred_sql, candidate_layer) or None if not expressible.

    Global-geometry parity with the kernel (_dd_verb_mask): the row's
    lon is framed by ±360° into the candidate's frame before the
    planar ring test (exact no-op mid-longitude), and RADIUS
    candidates get the geodesic polar override — a pole-crossing
    candidate circle decides every row by the true spherical disc, and
    rows sitting exactly on a pole are disc-decided too."""
    import math

    import numpy as np

    from spinix_spark.geo.geodesy import EARTH_RADIUS_M
    from spinix_spark.geo.rings import circle_ring
    from spinix_spark.geo.sqlgen import lon_frame_sql

    other = engine.devices.lookup(rid)
    if other is None:
        return None  # missing refs are silently skipped (kernel parity)
    layer = str(other.get("layer_id", "0" * 20))
    if kind in (Token.RADIUS, Token.BBOX):
        # fixed ring around a constant point — identical construction
        # to the kernel (same circle_ring call → bit-identical vertices)
        olat, olon = float(other["lat"]), float(other["lon"])
        ring = circle_ring(olat, olon, meters, steps)
        pin = point_in_ring_sql(
            "lat", lon_frame_sql("lon", repr(olon)),
            [(float(a), float(b)) for a, b in np.asarray(ring)],
            inclusive=True,
        )
        if kind is Token.RADIUS and meters > 0.0:
            # geodesic polar override (runtime.py _dd_verb_mask): for a
            # point target, polar rows are |lat| >= 90 exactly, or ALL
            # rows when the candidate circle itself crosses a pole
            disc = (
                f"({haversine_sql('lat', 'lon', repr(olat), repr(olon))}"
                f" <= CAST({meters!r} AS DOUBLE))"
            )
            if abs(olat) + math.degrees(meters / EARTH_RADIUS_M) >= 90.0:
                pin = disc
            else:
                pin = f"(CASE WHEN abs(lat) >= 90.0 THEN {disc} ELSE {pin} END)"
    else:
        pin = f"(lat = {float(other['lat'])!r} AND lon = {float(other['lon'])!r})"
    if op in (Token.INTERSECTS, Token.NEAR, Token.IN):
        pred = pin
    elif op in (Token.NINTERSECTS, Token.NIN, Token.NNEAR):
        pred = f"(NOT {pin})"
    else:
        return None
    return pred, layer


def _sp_devices_sql(engine, left_lit, right_lit, op: Token) -> NodeSQL | None:
    """SpDevicesOp: point target vs explicit candidate list."""
    if left_lit.kind not in (Token.DEVICE, Token.ILLEGAL):
        return None  # buffered target builds per-row rings → kernel path
    if not right_lit.refs or right_lit.all:
        return None
    pairs = []
    for rid in right_lit.refs:
        got = _candidate_device_pred(
            engine, rid, right_lit.kind, right_lit.meters(), right_lit.steps(), op
        )
        if got is None:
            continue
        pred, cand_layer = got
        # per-candidate layer equality gate (runtime.go:1530-1532)
        pairs.append((f"({pred} AND layer_id = {_sql_str(cand_layer)})", rid))
    ok = "(" + " OR ".join(p for p, _ in pairs) + ")" if pairs else "false"
    refs = _refs_array_sql(pairs) if pairs else "array()"
    return NodeSQL(
        ok_sql=ok, refs_sql=refs, left_kw="device", right_kw="devices", op=str(op)
    )


def compile_node_sql(node, engine, props, columns: set[str]) -> NodeSQL | None:
    from spinix_spark.dsl.compiler import SpDevicesObjectOp

    if isinstance(node, SpDevicesOp):
        return _sp_devices_sql(engine, node.left, node.right, node.op)
    if isinstance(node, SpDevicesObjectOp):
        # membership-gated zone op (runtime.go:1147-1191): delegate to
        # the SpObjectOp form, then gate ok + refs on the device list
        member = (
            f"(device_id IN ({', '.join(_sql_str(r) for r in node.left.refs)}))"
            if node.left.refs
            else "false"
        )
        sub = SpObjectOp(
            left=ast.DeviceLit(
                kind=node.left.kind, unit=node.left.unit, value=node.left.value
            ),
            right=node.right,
            op=node.op,
        )
        v = compile_node_sql(sub, engine, props, columns)
        if v is None:
            return None
        return NodeSQL(
            ok_sql=f"({member} AND {v.ok_sql})",
            refs_sql=f"(CASE WHEN {member} THEN {v.refs_sql} ELSE array() END)",
            left_kw=v.left_kw,
            right_kw=v.right_kw,
            op=v.op,
        )
    if isinstance(node, SpDDevicesOp):
        # membership gate on exactly one side then delegate
        # (runtime.go:1381-1431); both variants as guarded predicates
        left_ok = (
            f"(device_id IN ({', '.join(_sql_str(r) for r in node.left.refs)}))"
            if node.left.refs
            else "false"
        )
        right_ok = (
            f"(device_id IN ({', '.join(_sql_str(r) for r in node.right.refs)}))"
            if node.right.refs
            else "false"
        )
        both = f"({left_ok} AND {right_ok})"
        variants = []  # (guard_sql, NodeSQL)
        if node.left.all and node.right.all:
            pass  # rejected at compile; defensive
        elif node.left.all:
            # devices(@) OP devices(my) → swap
            v = _sp_devices_sql(engine, node.right, node.left, node.op)
            if v is None:
                return None
            variants.append((right_ok, v))
        else:
            va = _sp_devices_sql(engine, node.left, node.right, node.op)
            if va is None:
                return None
            variants.append((f"({left_ok} AND NOT {right_ok})", va))
            if not node.right.all:
                vb = _sp_devices_sql(engine, node.right, node.left, node.op)
                if vb is None:
                    return None
                variants.append((f"({right_ok} AND NOT {left_ok})", vb))
        if not variants:
            return None
        ok = " OR ".join(f"({g} AND {v.ok_sql})" for g, v in variants)
        refs = "CASE " + " ".join(
            f"WHEN {g} AND {v.ok_sql} THEN {v.refs_sql}" for g, v in variants
        ) + " ELSE array() END"
        return NodeSQL(
            ok_sql=f"((NOT {both}) AND ({ok}))",
            refs_sql=refs,
            left_kw="device",
            right_kw="devices",
            op=str(node.op),
        )
    if isinstance(node, EqualDevicesOp):
        cmp = _CMP_SQL[node.op]
        target = node.left.meters()
        pairs = []
        last_pred = "false"
        for rid in node.right.refs:
            other = engine.devices.lookup(rid)
            if other is None:
                continue
            dist = round50_sql(
                haversine_sql(
                    "lat", "lon", repr(float(other["lat"])), repr(float(other["lon"]))
                ),
                MIN_DIST_METERS,
            )
            pred = f"({dist} {cmp} CAST({target!r} AS DOUBLE))"
            pairs.append((pred, rid))
            last_pred = pred  # last-candidate-wins (runtime.go:1860-1888)
        return NodeSQL(
            ok_sql=last_pred,
            refs_sql=_refs_array_sql(pairs) if pairs else "array()",
            left_kw="device",
            right_kw="devices",
            op=str(node.op),
        )
    if isinstance(node, SpObjectOp):
        if node.left.kind in (Token.RADIUS, Token.BBOX):
            return None  # buffered device: kernel path (module docstring)
        meters = node.left.meters()
        if node.right.all and not node.right.refs:
            # ``@``: candidate universe = Objects.Near's bbox prefilter
            # with the device's buffer reach (50 m floor, SMALL-tier
            # clamp — object.go:115-127) — per zone, candidacy is a
            # fixed search-rect-vs-zone-bbox test, so the existential
            # semantics (SURVEY.md §2A.1) stay exact: non-candidates
            # contribute nothing, satisfied candidates append refs.
            from spinix_spark.geo.geodesy import (
                SMALL_REGION_SIZE,
                normalize_distance,
            )

            search_m = (
                MIN_DIST_METERS
                if meters <= 0
                else normalize_distance(meters, SMALL_REGION_SIZE)
            )
            pairs = []
            for z in engine.zones.all_zones():
                if z.layer_id != props.layer:
                    continue
                pred = _zone_point_pred(z, node.op)
                if pred is None:
                    return None
                cand = _near_candidate_sql(z, search_m)
                pairs.append((f"({cand} AND {pred})", z.object_id))
            ok = "(" + " OR ".join(p for p, _ in pairs) + ")" if pairs else "false"
            return NodeSQL(
                ok_sql=ok,
                refs_sql=_refs_array_sql(pairs) if pairs else "array()",
                left_kw="device",
                right_kw=str(node.right.kind),
                op=str(node.op),
            )
        if not node.right.refs:
            return None
        pairs: list[tuple[str, str]] = []
        # ``@id`` (refs plus ``all``) matches nothing, as in the kernel
        # (runtime._eval_sp_object)
        for rid in [] if node.right.all else node.right.refs:
            z = engine.zones.lookup(rid)
            if z is None or z.layer_id != props.layer:
                continue
            pred = _zone_point_pred(z, node.op)
            if pred is None:
                return None
            pairs.append((pred, rid))
        ok = "(" + " OR ".join(p for p, _ in pairs) + ")" if pairs else "false"
        refs = _refs_array_sql(pairs) if pairs else "array()"
        return NodeSQL(
            ok_sql=ok,
            refs_sql=refs,
            left_kw="device",
            right_kw=str(node.right.kind),
            op=str(node.op),
        )
    if isinstance(node, EqualObjectOp):
        cmp = _CMP_SQL[node.op]
        target = node.left.meters()
        pairs = []
        last_pred = "false"
        for rid in node.right.refs:
            z = engine.zones.lookup(rid)
            if z is None:
                continue
            clat, clon = z.center()
            dist = round50_sql(
                haversine_sql("lat", "lon", repr(float(clat)), repr(float(clon))),
                MIN_DIST_METERS,
            )
            pred = f"({dist} {cmp} CAST({target!r} AS DOUBLE))"
            pairs.append((pred, rid))
            last_pred = pred  # last-candidate-wins Ok (runtime.go:1795-1825)
        return NodeSQL(
            ok_sql=last_pred,
            refs_sql=_refs_array_sql(pairs) if pairs else "array()",
            left_kw="device",
            right_kw=str(node.right.kind),
            op=str(node.op),
        )
    if isinstance(node, (EqualIntOp, EqualFloatOp)):
        val = (
            _int_sql(node.keyword, columns)
            if isinstance(node, EqualIntOp)
            else _float_sql(node.keyword, columns)
        )
        if val is None:
            return None
        lit = repr(node.value) if isinstance(node, EqualFloatOp) else str(node.value)
        return NodeSQL(
            ok_sql=f"({val} {_CMP_SQL[node.op]} {lit})",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="FLOAT" if isinstance(node, EqualFloatOp) else "INT",
            op=str(node.op),
        )
    if isinstance(node, EqualStrOp):
        val = _str_sql(node.keyword, columns)
        if val is None:
            return None
        return NodeSQL(
            ok_sql=f"({val} {_CMP_SQL[node.op]} {_sql_str(node.value)})",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="STRING",
            op=str(node.op),
        )
    if isinstance(node, EqualTimeOp):
        if "datetime" not in columns:
            return None
        bound = _day_anchor_sql(node.hour, node.minute)
        return NodeSQL(
            ok_sql=f"(datetime {_CMP_SQL[node.op]} {bound})",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="time",
            op=str(node.op),
        )
    if isinstance(node, (InIntOp, InFloatOp, InStringOp)):
        if isinstance(node, InStringOp):
            val = _str_sql(node.keyword, columns)
            items = ", ".join(_sql_str(v) for v in sorted(node.values))
        elif isinstance(node, InIntOp):
            val = _int_sql(node.keyword, columns)
            items = ", ".join(str(v) for v in sorted(node.values))
        else:
            val = _float_sql(node.keyword, columns)
            items = ", ".join(repr(v) for v in sorted(node.values))
        if val is None or not items:
            return None
        neg = "NOT " if node.negate else ""
        return NodeSQL(
            ok_sql=f"({neg}({val} IN ({items})))",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="STRING" if isinstance(node, InStringOp) else (
                "INT" if isinstance(node, InIntOp) else "FLOAT"
            ),
            op="NIN" if node.negate else "IN",
        )
    if isinstance(node, (RangeIntOp, RangeFloatOp)):
        val = (
            _int_sql(node.keyword, columns)
            if isinstance(node, RangeIntOp)
            else _float_sql(node.keyword, columns)
        )
        if val is None:
            return None
        b = node.begin if isinstance(node, RangeIntOp) else repr(node.begin)
        e = node.end if isinstance(node, RangeIntOp) else repr(node.end)
        ok = (
            f"({val} <= {b} OR {val} >= {e})"
            if node.negate
            else f"({val} >= {b} AND {val} <= {e})"
        )
        return NodeSQL(
            ok_sql=ok,
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="INT" if isinstance(node, RangeIntOp) else "FLOAT",
            op="NRANGE" if node.negate else "RANGE",
        )
    if isinstance(node, RangeTimeOp):
        if "datetime" not in columns:
            return None
        d1 = _day_anchor_sql(node.begin_h, node.begin_m)
        d2 = _day_anchor_sql(node.end_h, node.end_m)
        ok = (
            f"(datetime <= {d1} OR datetime >= {d2})"
            if node.negate
            else f"(datetime >= {d1} AND datetime <= {d2})"
        )
        return NodeSQL(
            ok_sql=ok, refs_sql="array()", left_kw=str(node.keyword),
            right_kw="time", op="NRANGE" if node.negate else "RANGE",
        )
    if isinstance(node, RangeDateTimeOp):
        if "datetime" not in columns:
            return None
        ok = (
            f"(datetime <= {node.begin_unix} OR datetime >= {node.end_unix})"
            if node.negate
            else f"(datetime >= {node.begin_unix} AND datetime <= {node.end_unix})"
        )
        return NodeSQL(
            ok_sql=ok, refs_sql="array()", left_kw=str(node.keyword),
            right_kw="datetime", op="NRANGE" if node.negate else "RANGE",
        )
    return None


@dataclass
class RuleSQLPlan:
    nodes: list[NodeSQL]
    recorded_sql: list[str]
    final_sql: str
    layer_sql: str


def try_compile_rule_sql(engine, rule, columns=None) -> RuleSQLPlan | None:
    """Compile a rule to pure Catalyst expressions, or None if any
    part needs the kernel path.

    ``columns`` is the points schema the plan will run against (pass
    ``set(points.columns)``); attribute nodes on columns that exist
    compile to plain comparisons with zero-value null semantics
    (coalesce — matching the kernel and the reference's Go value
    types), nodes on ABSENT columns compile against the zero value
    itself. Defaults to the minimal schema every caller guarantees."""
    spec: CompiledSpec = rule.spec
    # only a real :trigger carries state (runtime.spec_carries_state);
    # its sequential fold needs the kernel path. A props block with just
    # :center/:radius keeps no state and compiles fine.
    if spec.props.repeat != ast.REPEAT_NONE:
        return None
    if columns is None:
        columns = {
            "url", "device_id", "layer_id", "lat", "lon", "datetime",
            "speed", "status",
        }
    else:
        columns = set(columns)
    nodes: list[NodeSQL] = []
    for node in spec.nodes:
        ns = compile_node_sql(node, engine, spec.props, columns)
        if ns is None:
            return None
        nodes.append(ns)

    layer_sql = f"(layer_id = {_sql_str(spec.props.layer)})"
    # left-to-right fold with AND-skip capture (runtime.go:186-231)
    acc = nodes[0].ok_sql
    recorded = ["true"]
    for j in range(1, len(nodes)):
        op = spec.ops[j - 1]
        if op is Token.AND:
            recorded.append(acc)
            acc = f"({acc} AND {nodes[j].ok_sql})"
        else:
            recorded.append("true")
            acc = f"({acc} OR {nodes[j].ok_sql})"
    final = f"({acc} AND {layer_sql})"
    return RuleSQLPlan(
        nodes=nodes, recorded_sql=recorded, final_sql=final, layer_sql=layer_sql
    )
