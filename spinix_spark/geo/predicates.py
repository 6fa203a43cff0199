"""Exact planar geometry predicates, vectorized over NumPy arrays.

These implement the predicate truth tables the reference's spatial
verbs are built on (runtime.go:1263-1341, 1540-1700 — which call into
the tidwall-style geometry kernel): point-in-polygon by ray casting
with inclusive boundaries, segment intersection including collinear
touching, ring/ring intersects and contains, rect variants, and
point/point equality. All planar on (lat, lon) doubles, matching the
reference (its geometry kernel is planar; only distances are geodesic).

Conventions:
- a "ring" is an ndarray (..., S, 2), closed (first == last vertex),
  lat at [..., 0], lon at [..., 1]
- a "rect" is an ndarray (..., 4): (minlat, minlon, maxlat, maxlon)
- every function broadcasts: batch dims on either side must align
  (typically (N, S, 2) rings vs (S2, 2) zone ring, or (N, 2) points)
- boundary is inclusive everywhere: a point on an edge is contained;
  touching segments intersect
"""

from __future__ import annotations

import numpy as np

_EPS = 0.0  # exact comparisons, like the reference's float64 kernel


# --- point in ring -------------------------------------------------------


def points_in_ring(lat, lon, ring: np.ndarray) -> np.ndarray:
    """Inclusive point-in-polygon. lat/lon (...,) vs ring (S, 2) or
    broadcastable (..., S, 2) → bool (...)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    # ring edges
    a = ring[..., :-1, :]  # (..., E, 2)
    b = ring[..., 1:, :]
    ay, ax = a[..., 0], a[..., 1]  # y=lat, x=lon
    by, bx = b[..., 0], b[..., 1]
    py = lat[..., None]
    px = lon[..., None]

    # crossing test (strict): edge straddles the horizontal line at py
    straddle = (ay > py) != (by > py)
    # x-coordinate of edge/ray intersection
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (bx - ax) * (py - ay) / (by - ay) + ax
    crossings = straddle & (px < xint)
    inside = crossings.sum(axis=-1) % 2 == 1

    on_edge = _point_on_edges(py, px, ay, ax, by, bx).any(axis=-1)
    return inside | on_edge


def _point_on_edges(py, px, ay, ax, by, bx) -> np.ndarray:
    """Point collinear with edge and inside its bbox (inclusive)."""
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    collinear = cross == _EPS
    in_bbox = (
        (px >= np.minimum(ax, bx))
        & (px <= np.maximum(ax, bx))
        & (py >= np.minimum(ay, by))
        & (py <= np.maximum(ay, by))
    )
    return collinear & in_bbox


# --- segment intersection ------------------------------------------------


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_intersect(p1, p2, q1, q2) -> np.ndarray:
    """Inclusive segment intersection. Each arg (..., 2) as (lat, lon);
    broadcasts. Touching endpoints and collinear overlap count."""
    ay, ax = p1[..., 0], p1[..., 1]
    by, bx = p2[..., 0], p2[..., 1]
    cy, cx = q1[..., 0], q1[..., 1]
    dy, dx = q2[..., 0], q2[..., 1]

    d1 = _orient(ax, ay, bx, by, cx, cy)
    d2 = _orient(ax, ay, bx, by, dx, dy)
    d3 = _orient(cx, cy, dx, dy, ax, ay)
    d4 = _orient(cx, cy, dx, dy, bx, by)

    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )

    def on_seg(oy, ox, sy1, sx1, sy2, sx2, d):
        return (
            (d == 0)
            & (ox >= np.minimum(sx1, sx2))
            & (ox <= np.maximum(sx1, sx2))
            & (oy >= np.minimum(sy1, sy2))
            & (oy <= np.maximum(sy1, sy2))
        )

    touch = (
        on_seg(cy, cx, ay, ax, by, bx, d1)
        | on_seg(dy, dx, ay, ax, by, bx, d2)
        | on_seg(ay, ax, cy, cx, dy, dx, d3)
        | on_seg(by, bx, cy, cx, dy, dx, d4)
    )
    return proper | touch


# --- ring / ring ---------------------------------------------------------


def _edges(ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return ring[..., :-1, :], ring[..., 1:, :]


def ring_edges_cross(ring_a: np.ndarray, ring_b: np.ndarray) -> np.ndarray:
    """Any edge of A intersects any edge of B.

    ring_a (..., S1, 2), ring_b (..., S2, 2) → bool (...). The batch
    dims of both must broadcast; edge dims are expanded pairwise.
    """
    a1, a2 = _edges(np.asarray(ring_a, dtype=np.float64))
    b1, b2 = _edges(np.asarray(ring_b, dtype=np.float64))
    # pairwise: (..., E1, 1, 2) x (..., 1, E2, 2)
    hit = segments_intersect(
        a1[..., :, None, :],
        a2[..., :, None, :],
        b1[..., None, :, :],
        b2[..., None, :, :],
    )
    return hit.any(axis=(-1, -2))


def ring_intersects_ring(ring_a: np.ndarray, ring_b: np.ndarray) -> np.ndarray:
    """A and B share any area/boundary: edges cross, or one contains a
    vertex of the other (covers full containment)."""
    ring_a = np.asarray(ring_a, dtype=np.float64)
    ring_b = np.asarray(ring_b, dtype=np.float64)
    cross = ring_edges_cross(ring_a, ring_b)
    b_in_a = points_in_ring(ring_b[..., 0, 0], ring_b[..., 0, 1], ring_a)
    a_in_b = points_in_ring(ring_a[..., 0, 0], ring_a[..., 0, 1], ring_b)
    return cross | b_in_a | a_in_b


def ring_contains_ring(outer: np.ndarray, inner: np.ndarray) -> np.ndarray:
    """Every vertex of ``inner`` inside ``outer`` (inclusive)."""
    outer = np.asarray(outer, dtype=np.float64)
    inner = np.asarray(inner, dtype=np.float64)
    # vectorize over inner vertices: (..., S, )
    lat = inner[..., :, 0]
    lon = inner[..., :, 1]
    inside = points_in_ring(lat, lon, outer[..., None, :, :])
    return inside.all(axis=-1)


# --- rect ops ------------------------------------------------------------


def rect_contains_point(rect: np.ndarray, lat, lon) -> np.ndarray:
    rect = np.asarray(rect, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    return (
        (lat >= rect[..., 0])
        & (lat <= rect[..., 2])
        & (lon >= rect[..., 1])
        & (lon <= rect[..., 3])
    )


def rect_contains_rect(outer: np.ndarray, inner: np.ndarray) -> np.ndarray:
    outer = np.asarray(outer, dtype=np.float64)
    inner = np.asarray(inner, dtype=np.float64)
    return (
        (inner[..., 0] >= outer[..., 0])
        & (inner[..., 2] <= outer[..., 2])
        & (inner[..., 1] >= outer[..., 1])
        & (inner[..., 3] <= outer[..., 3])
    )


# --- point / point -------------------------------------------------------


def points_equal(lat_a, lon_a, lat_b, lon_b) -> np.ndarray:
    lat_a = np.asarray(lat_a, dtype=np.float64)
    lon_a = np.asarray(lon_a, dtype=np.float64)
    lat_b = np.asarray(lat_b, dtype=np.float64)
    lon_b = np.asarray(lon_b, dtype=np.float64)
    return (lat_a == lat_b) & (lon_a == lon_b)


# --- polyline ------------------------------------------------------------


def line_intersects_ring(line: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Open polyline (..., S, 2) intersects ring: any segment crosses a
    ring edge or any line vertex is inside the ring."""
    line = np.asarray(line, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    a1, a2 = line[..., :-1, :], line[..., 1:, :]
    b1, b2 = _edges(ring)
    cross = segments_intersect(
        a1[..., :, None, :],
        a2[..., :, None, :],
        b1[..., None, :, :],
        b2[..., None, :, :],
    ).any(axis=(-1, -2))
    v_in = points_in_ring(line[..., :, 0], line[..., :, 1], ring[..., None, :, :]).any(
        axis=-1
    )
    return cross | v_in


def point_on_line(lat, lon, line: np.ndarray) -> np.ndarray:
    """Point lies on any segment of the open polyline."""
    line = np.asarray(line, dtype=np.float64)
    a, b = line[..., :-1, :], line[..., 1:, :]
    py = np.asarray(lat, dtype=np.float64)[..., None]
    px = np.asarray(lon, dtype=np.float64)[..., None]
    return _point_on_edges(py, px, a[..., 0], a[..., 1], b[..., 0], b[..., 1]).any(
        axis=-1
    )
