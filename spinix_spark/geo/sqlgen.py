"""SQL expression generators shared by the Spark plan and the DuckDB oracle.

For fixed geometries (a known polygon ring, a known center) the exact
spatial predicates are generated as *plain SQL expressions* from one
source of truth, so that:

- the Spark side stays inside whole-stage codegen (no Python, no UDF on
  the scan side — the 100 TB-scale hot path), and
- the DuckDB oracle runs the byte-identical expression text, making the
  driver's value-hash comparison meaningful.

Both engines evaluate IEEE-754 doubles with the same expression tree,
so results agree bit-for-bit except at ulp-boundary cases, which the
deterministic synthetic inputs avoid.

The formulas mirror geo/geodesy.py (haversine, R=6371e3) and
geo/predicates.py (ray-casting crossing count; boundary-exclusive
unless ``inclusive``).

The detect engine's Spark plans use the distance (haversine_sql,
round50_sql), lon-framing (lon_frame_sql) and candidacy
(rect_from_center_pred_sql) forms only: its zone and device verbs are
evaluated by the NumPy kernel alone (engine/sql_compile.py). The ring
generators serve the gated queries and their oracle SQL
(queries_geo.py, queries_detect.py).
"""

from __future__ import annotations

from collections.abc import Sequence

EARTH_RADIUS_M = 6371e3


def haversine_sql(lat_a: str, lon_a: str, lat_b: str, lon_b: str) -> str:
    """Great-circle distance in meters between two lat/lon column exprs."""
    phi1 = f"RADIANS({lat_a})"
    phi2 = f"RADIANS({lat_b})"
    dphi_half = f"(RADIANS({lat_b}) - RADIANS({lat_a})) / 2.0"
    dlam_half = f"(RADIANS({lon_b}) - RADIANS({lon_a})) / 2.0"
    a = (
        f"(SIN({dphi_half}) * SIN({dphi_half})"
        f" + COS({phi1}) * COS({phi2}) * SIN({dlam_half}) * SIN({dlam_half}))"
    )
    return f"({EARTH_RADIUS_M!r} * 2.0 * ATAN2(SQRT({a}), SQRT(1.0 - {a})))"


def round50_sql(expr: str, unit: float = 50.0) -> str:
    """Half-away-from-zero rounding to 50 m (runtime.go:2226-2228);
    FLOOR(x/u + 0.5)*u matches Go math.Round for non-negative x.

    The unit is CAST to DOUBLE: Spark parses a bare ``50.0`` literal as
    DECIMAL(3,1), which would silently turn the product into a decimal
    and break cross-engine value parity."""
    u = f"CAST({unit!r} AS DOUBLE)"
    return f"(FLOOR({expr} / {u} + 0.5) * {u})"


def point_in_ring_sql(
    lat_col: str,
    lon_col: str,
    ring: Sequence[tuple[float, float]],
    inclusive: bool = False,
) -> str:
    """Ray-cast crossing-count point-in-polygon for a FIXED closed ring
    [(lat, lon), ...] (first == last). Returns a boolean SQL expr.

    Uses the identical straddle + x-intersection arithmetic as the
    vectorized kernel (geo/predicates.py:points_in_ring). With
    ``inclusive=True`` the kernel's on-edge clause (collinear + in
    edge bbox) is appended, making the SQL form bit-identical to the
    NumPy kernel including boundary points."""
    terms = []
    edge_terms = []
    for (ay, ax), (by, bx) in zip(ring[:-1], ring[1:]):
        if ay == by and ax == bx:
            continue
        straddle = f"(({ay!r} > {lat_col}) <> ({by!r} > {lat_col}))"
        xint = f"(({bx!r} - {ax!r}) * ({lat_col} - {ay!r}) / ({by!r} - {ay!r}) + {ax!r})"
        terms.append(
            f"(CASE WHEN {straddle} AND {lon_col} < {xint} THEN 1 ELSE 0 END)"
        )
        if inclusive:
            cross = (
                f"(({bx!r} - {ax!r}) * ({lat_col} - {ay!r})"
                f" - ({by!r} - {ay!r}) * ({lon_col} - {ax!r}))"
            )
            lo_x, hi_x = (ax, bx) if ax <= bx else (bx, ax)
            lo_y, hi_y = (ay, by) if ay <= by else (by, ay)
            edge_terms.append(
                f"({cross} = 0.0 AND {lon_col} >= {lo_x!r} AND {lon_col} <= {hi_x!r}"
                f" AND {lat_col} >= {lo_y!r} AND {lat_col} <= {hi_y!r})"
            )
    total = " + ".join(terms) if terms else "0"
    crossing = f"((({total}) % 2) = 1)"
    if inclusive and edge_terms:
        return f"({crossing} OR {' OR '.join(edge_terms)})"
    return crossing


def bbox_contains_sql(
    lat_col: str, lon_col: str, minlat: float, minlon: float, maxlat: float, maxlon: float
) -> str:
    return (
        f"({lat_col} >= {minlat!r} AND {lat_col} <= {maxlat!r}"
        f" AND {lon_col} >= {minlon!r} AND {lon_col} <= {maxlon!r})"
    )


def point_in_expr_ring_sql(
    lat_col: str,
    lon_col: str,
    verts: Sequence[tuple[str, str]],
    inclusive: bool = False,
) -> str:
    """point_in_ring_sql generalized to EXPRESSION vertices: ``verts``
    is a closed list of (lat_expr, lon_expr) SQL strings (first ==
    last). Same ray-cast + on-edge arithmetic as the constant-vertex
    form and the NumPy kernel; degenerate edges contribute nothing
    (straddle is false when both vertex lats compare equal)."""
    terms = []
    edge_terms = []
    for (ay, ax), (by, bx) in zip(verts[:-1], verts[1:]):
        straddle = f"(({ay} > {lat_col}) <> ({by} > {lat_col}))"
        xint = f"(({bx} - {ax}) * ({lat_col} - {ay}) / ({by} - {ay}) + {ax})"
        terms.append(
            f"(CASE WHEN {straddle} AND {lon_col} < {xint} THEN 1 ELSE 0 END)"
        )
        if inclusive:
            cross = (
                f"(({bx} - {ax}) * ({lat_col} - {ay})"
                f" - ({by} - {ay}) * ({lon_col} - {ax}))"
            )
            edge_terms.append(
                f"({cross} = 0.0"
                f" AND {lon_col} >= LEAST({ax}, {bx}) AND {lon_col} <= GREATEST({ax}, {bx})"
                f" AND {lat_col} >= LEAST({ay}, {by}) AND {lat_col} <= GREATEST({ay}, {by}))"
            )
    total = " + ".join(terms) if terms else "0"
    crossing = f"((({total}) % 2) = 1)"
    if inclusive and edge_terms:
        return f"({crossing} OR {' OR '.join(edge_terms)})"
    return crossing


def dest_point_sql(
    lat_col: str, lon_col: str, meters: float, bearing_deg: float
) -> tuple[str, str]:
    """Destination point along a constant bearing/distance from a
    lat/lon column pair — the SQL form of geodesy.destination_point
    with the distance/bearing trig precomputed to constants."""
    import math

    delta = float(meters) / EARTH_RADIUS_M
    cd = math.cos(delta)
    sd = math.sin(delta)
    theta = math.radians(float(bearing_deg))
    ct = math.cos(theta)
    st = math.sin(theta)
    sin_phi2 = (
        f"(SIN(RADIANS({lat_col})) * {cd!r}"
        f" + COS(RADIANS({lat_col})) * {sd!r} * {ct!r})"
    )
    lat2 = f"DEGREES(ASIN({sin_phi2}))"
    lon2 = (
        f"DEGREES(RADIANS({lon_col}) + ATAN2({st!r} * {sd!r} * COS(RADIANS({lat_col})),"
        f" {cd!r} - SIN(RADIANS({lat_col})) * {sin_phi2}))"
    )
    return lat2, lon2


def buffer_ring_verts_sql(
    lat_col: str, lon_col: str, meters: float, steps: int
) -> list[tuple[str, str]]:
    """Closed 12-gon/4-gon ring vertices around a lat/lon column pair —
    the SQL form of rings.circle_ring (same Go integer-division
    bearings, same closing duplicate)."""
    import math

    bearings = [float(math.trunc((i * -360) / steps)) for i in range(steps + 1)]
    verts = [dest_point_sql(lat_col, lon_col, meters, b) for b in bearings]
    verts.append(verts[0])
    return verts


def point_in_buffer_ring_sql(
    plat: str, plon: str, clat: str, clon: str, meters: float, steps: int,
    inclusive: bool = True,
) -> str:
    """Point (plat, plon) inside the polygonized circle of ``meters``
    around (clat, clon) — all four coordinates are SQL expressions.
    Bit-compatible with the kernel's circle_ring + points_in_ring up to
    libm last-ulp differences (PIP is robust to those off-edge)."""
    verts = buffer_ring_verts_sql(clat, clon, meters, steps)
    return point_in_expr_ring_sql(plat, plon, verts, inclusive=inclusive)


def lon_frame_sql(lon: str, frame_lon: str) -> str:
    """SQL form of geodesy.lon_to_frame: ``lon`` shifted by ±360° into
    the frame of ``frame_lon``. Evaluates to ``lon`` UNCHANGED (same
    expression value, no re-derivation) when |lon - frame_lon| <= 180,
    so mid-longitude comparisons stay bit-identical to the unframed
    form."""
    return (
        f"(CASE WHEN {lon} - {frame_lon} > 180.0 THEN {lon} - 360.0"
        f" WHEN {frame_lon} - {lon} > 180.0 THEN {lon} + 360.0"
        f" ELSE {lon} END)"
    )


def rect_from_center_pred_sql(
    a_lat: str, a_lon: str, b_lat: str, b_lon: str, meters: float
) -> str:
    """(b_lat, b_lon) inside rect_from_center((a_lat, a_lon), meters) —
    the exact candidacy test of Devices.Near (rings.rect_from_center:
    constant dlat, latitude-corrected dlon with the clamped arcsin).
    The candidate lon is framed to the center (±360° shift) so the
    unnormalized rect bounds test is wrap-correct at the antimeridian,
    mirroring the kernel's lon_to_frame(other.lon, batch.lon)."""
    import math

    r = float(meters) / EARTH_RADIUS_M
    dlat = repr(math.degrees(r))
    sin_r = repr(math.sin(r))
    dlon = (
        f"DEGREES(ASIN(LEAST(GREATEST({sin_r} / "
        f"GREATEST(COS(RADIANS({a_lat})), 1e-12), -1.0), 1.0)))"
    )
    b_lon_f = lon_frame_sql(b_lon, a_lon)
    return (
        f"({b_lat} >= {a_lat} - {dlat} AND {b_lat} <= {a_lat} + {dlat}"
        f" AND {b_lon_f} >= {a_lon} - {dlon} AND {b_lon_f} <= {a_lon} + {dlon})"
    )
