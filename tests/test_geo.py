"""Geometry kernel unit tests, anchored on the reference's golden
coordinates (runtime_test.go fixtures listed in FIXTURES.md §7)."""

from __future__ import annotations

import numpy as np
import pytest

from spinix_spark.geo import (
    DEFAULT_SCHEME,
    circle_ring,
    haversine_m,
    normalize_distance,
    region_size_from_meters,
    ring_bbox,
    round_to_unit,
)
from spinix_spark.geo.cells import GridScheme
from spinix_spark.geo.geodesy import destination_point
from spinix_spark.geo.predicates import (
    points_equal,
    points_in_ring,
    rect_contains_point,
    ring_contains_ring,
    ring_intersects_ring,
)

# G3 polygon (runtime_test.go:90-98), ring as (lat, lon)
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

G3_TARGET = (42.9236075, -72.2792333)


def test_haversine_known():
    # G1 devices (runtime_test.go:27-31): ~84 m apart
    d = float(haversine_m(42.9236468, -72.2793728, 42.9229004, -72.2791582))
    assert 80 < d < 90
    assert float(haversine_m(0, 0, 0, 0)) == 0.0


def test_destination_point_roundtrip():
    lat, lon = destination_point(42.92, -72.27, 1000.0, 90.0)
    d = float(haversine_m(42.92, -72.27, lat, lon))
    assert abs(d - 1000.0) < 1e-6


def test_circle_ring_shape_and_radius():
    ring = circle_ring(42.92, -72.27, 1000.0, 12)
    assert ring.shape == (14, 2)
    assert np.allclose(ring[0], ring[-1])
    # every vertex ~1000 m from center
    d = haversine_m(42.92, -72.27, ring[:, 0], ring[:, 1])
    assert np.allclose(d, 1000.0, atol=1e-6)


def test_circle_ring_vectorized():
    lats = np.array([42.92, 42.93, 42.94])
    lons = np.array([-72.27, -72.28, -72.29])
    rings = circle_ring(lats, lons, 500.0, 12)
    assert rings.shape == (3, 14, 2)
    single = circle_ring(42.93, -72.28, 500.0, 12)
    assert np.allclose(rings[1], single)


def test_round_to_unit_go_semantics():
    assert float(round_to_unit(84.0)) == 100.0
    assert float(round_to_unit(74.9)) == 50.0
    assert float(round_to_unit(75.0)) == 100.0  # half away from zero
    assert float(round_to_unit(0.0)) == 0.0
    assert float(round_to_unit(25.0)) == 50.0


def test_region_tiers():
    assert region_size_from_meters(10_000) == 3
    assert region_size_from_meters(50_000) == 3
    assert region_size_from_meters(70_000) == 2
    assert region_size_from_meters(150_000) == 1
    assert normalize_distance(10.0, 3) == 50.0
    assert normalize_distance(60_000.0, 3) == 50_000.0
    assert normalize_distance(60_000.0, 2) == 60_000.0


def test_point_in_golden_polygon():
    assert bool(points_in_ring(G3_TARGET[0], G3_TARGET[1], G3_RING))
    # far away point
    assert not bool(points_in_ring(43.5, -72.2792333, G3_RING))


def test_point_on_edge_inclusive():
    ring = np.array([(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)], dtype=float)
    assert bool(points_in_ring(0.0, 5.0, ring))  # on edge
    assert bool(points_in_ring(0.0, 0.0, ring))  # vertex
    assert bool(points_in_ring(5.0, 5.0, ring))  # interior
    assert not bool(points_in_ring(10.000001, 5.0, ring))


def test_ring_intersects_and_contains():
    big = circle_ring(42.92, -72.27, 2000.0, 12)
    small = circle_ring(42.92, -72.27, 200.0, 12)
    far = circle_ring(43.5, -72.27, 200.0, 12)
    overlap = circle_ring(42.935, -72.27, 2000.0, 12)
    assert bool(ring_intersects_ring(big, small))  # containment counts
    assert bool(ring_intersects_ring(big, overlap))  # partial overlap
    assert not bool(ring_intersects_ring(big, far))
    assert bool(ring_contains_ring(big, small))
    assert not bool(ring_contains_ring(small, big))
    assert not bool(ring_contains_ring(big, overlap))


def test_rect_ops():
    a = np.array([0.0, 0.0, 10.0, 10.0])
    assert bool(rect_contains_point(a, 10.0, 10.0))
    assert not bool(rect_contains_point(a, 10.0, 10.1))


def test_points_equal():
    assert bool(points_equal(1.5, 2.5, 1.5, 2.5))
    assert not bool(points_equal(1.5, 2.5, 1.5, 2.6))


def test_grid_cells_roundtrip():
    g = GridScheme(res=8)
    lat, lon = 42.9236468, -72.2793728
    cell = int(g.cell_of(lat, lon))
    bbox = g.cell_bbox(cell)
    assert bool(rect_contains_point(bbox, lat, lon))
    # kring contains the center cell
    ring = g.kring(cell, 1)
    assert cell in ring and len(ring) == 9


def test_grid_cover_no_false_negatives():
    g = DEFAULT_SCHEME
    ring = circle_ring(42.92, -72.27, 1500.0, 12)
    cover = set(g.cover_ring(ring))
    # every ring vertex must fall in a covered cell
    cells = g.cell_of(ring[:, 0], ring[:, 1])
    assert set(int(c) for c in cells) <= cover


def test_grid_sql_expr_matches_numpy():
    import duckdb

    g = GridScheme(res=8)
    lats = np.linspace(-60, 60, 101)
    lons = np.linspace(-170, 170, 101)
    expected = g.cell_of(lats, lons)
    import pandas as pd

    con = duckdb.connect()

    df = pd.DataFrame({"lat": lats, "lon": lons})
    got = con.execute(
        f"SELECT {g.sql_cell_expr('lat', 'lon')} AS cell FROM df"
    ).df()["cell"].to_numpy()
    assert np.array_equal(got, expected)


def test_pip_sql_matches_kernel():
    import duckdb
    import pandas as pd

    from spinix_spark.geo.sqlgen import point_in_ring_sql

    rng = np.random.default_rng(42)
    lats = 42.9225 + rng.random(500) * 0.002
    lons = -72.2805 + rng.random(500) * 0.002
    kernel = points_in_ring(lats, lons, G3_RING)
    df = pd.DataFrame({"lat": lats, "lon": lons})
    expr = point_in_ring_sql("lat", "lon", [(r[0], r[1]) for r in G3_RING])
    got = duckdb.connect().execute(f"SELECT {expr} AS hit FROM df").df()["hit"].to_numpy()
    assert np.array_equal(got, kernel)
    assert kernel.sum() > 0  # some points actually inside


def test_haversine_sql_matches_numpy():
    import duckdb
    import pandas as pd

    from spinix_spark.geo.sqlgen import haversine_sql

    rng = np.random.default_rng(7)
    df = pd.DataFrame(
        {
            "lat1": rng.uniform(-80, 80, 200),
            "lon1": rng.uniform(-179, 179, 200),
            "lat2": rng.uniform(-80, 80, 200),
            "lon2": rng.uniform(-179, 179, 200),
        }
    )
    expected = haversine_m(df.lat1, df.lon1, df.lat2, df.lon2)
    expr = haversine_sql("lat1", "lon1", "lat2", "lon2")
    got = duckdb.connect().execute(f"SELECT {expr} AS d FROM df").df()["d"].to_numpy()
    assert np.allclose(got, expected, rtol=1e-12, atol=1e-9)
