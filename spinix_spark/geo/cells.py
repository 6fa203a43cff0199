"""Deterministic hierarchical grid cells — the spatial join/partition key.

The reference shards by H3 cells (res 1-3 as cluster shards,
region.go:14-22); the north-star design keys joins on fine cells
(res 7-9). This module keys them on an equal-angle lat/lon grid
instead (no H3 or S2 scheme ships: the joins read the grid's SQL cell
expressions, which neither library offers). That is safe for
correctness: cell keys are only ever a no-false-negative prefilter
before exact refinement (SURVEY.md §2B.1),
and — unlike H3 — a floor-grid cell id is expressible as a plain SQL
expression, so Catalyst evaluates it JVM-side with codegen (no UDF on
the 100 TB fact side) and the DuckDB oracle can verify cell joins and
tile rollups exactly.

Cell id layout (int64): ``res * RES_STRIDE + row * ncols(res) + col``
with row/col = floor((lat+90)/size), floor((lon+180)/size). Sizes
halve per res; res 9 ≈ 0.01° (~1.1 km), matching the H3 res-7..9
hint's granularity.

Global correctness (round 5): cell ids are CANONICAL — the column
index wraps modulo ``ncols(res)`` (lon 180° ≡ -180°, unnormalized
lons accepted) and the row index clamps to [0, nrows). Neighbor
expansion (``kring``, ``cover_bbox``, the SQL neighbor expr) wraps
columns at the antimeridian; rows that would cross a pole reflect to
the far side with ALL columns included (every meridian meets at the
pole), so the §2B.1 no-false-negative prefilter invariant holds
globally. Zones (polygon geometry) crossing the antimeridian must be
split at ±180° by the caller (the GeoJSON RFC 7946 §3.1.9
convention) — ring planar math is wrap-correct only for circles
generated around a center (continuous, possibly out-of-range lons).
"""

from __future__ import annotations

import math

import numpy as np

RES_STRIDE = 10**15

MIN_RES = 0
MAX_RES = 12


def cell_size_deg(res: int) -> float:
    """Grid edge in degrees at a resolution. res 9 → 0.01°."""
    return 0.01 * 2.0 ** (9 - res)


def ncols(res: int) -> int:
    return int(math.ceil(360.0 / cell_size_deg(res)))


def nrows(res: int) -> int:
    return int(math.ceil(180.0 / cell_size_deg(res)))


class GridScheme:
    """Grid cell helpers bound to one resolution."""

    def __init__(self, res: int = 8) -> None:
        if not (MIN_RES <= res <= MAX_RES):
            raise ValueError(f"res out of range: {res}")
        self.res = res
        self.size = cell_size_deg(res)
        self.cols = ncols(res)
        self.rows = nrows(res)
        self.base = res * RES_STRIDE

    # --- numpy ----------------------------------------------------------

    def cell_of(self, lat, lon) -> np.ndarray:
        """Vectorized point → CANONICAL cell id (int64): the column
        wraps modulo cols (lon 180° ≡ -180°; unnormalized lons land in
        their wrapped cell), the row clamps to [0, rows)."""
        lat = np.asarray(lat, dtype=np.float64)
        lon = np.asarray(lon, dtype=np.float64)
        row = np.floor((lat + 90.0) / self.size).astype(np.int64)
        row = np.clip(row, 0, self.rows - 1)
        col = np.floor((lon + 180.0) / self.size).astype(np.int64) % self.cols
        return self.base + row * self.cols + col

    def cell_bbox(self, cell) -> np.ndarray:
        """Cell id → (minlat, minlon, maxlat, maxlon)."""
        cell = np.asarray(cell, dtype=np.int64) - self.base
        row = cell // self.cols
        col = cell % self.cols
        minlat = row * self.size - 90.0
        minlon = col * self.size - 180.0
        return np.stack(
            [minlat, minlon, minlat + self.size, minlon + self.size], axis=-1
        )

    def _expand(self, r0: int, r1: int, c0: int, c1: int) -> list[int]:
        """Canonical cells for a row/col index window: columns wrap
        modulo cols; rows beyond a pole reflect to the far side with
        ALL columns (every meridian meets at the pole — a disc crossing
        the pole covers the full longitude circle at reflected
        latitudes). Deduplicated, sorted."""
        if c1 - c0 + 1 >= self.cols:
            col_list = list(range(self.cols))
        else:
            col_list = [c % self.cols for c in range(c0, c1 + 1)]
        out: set[int] = set()
        all_cols = range(self.cols)
        for r in range(r0, r1 + 1):
            if 0 <= r < self.rows:
                out.update(self.base + r * self.cols + c for c in col_list)
                continue
            # reflect past the pole: south (r < 0) → -1 - r, north
            # (r >= rows) → 2*rows - 1 - r; longitude unconstrained
            rr = -1 - r if r < 0 else 2 * self.rows - 1 - r
            if 0 <= rr < self.rows:
                out.update(self.base + rr * self.cols + c for c in all_cols)
        return sorted(out)

    def cover_bbox(self, minlat: float, minlon: float, maxlat: float, maxlon: float) -> list[int]:
        """All cells overlapping a bbox (inclusive). No false negatives
        for any geometry inside the bbox. Lon bounds may be
        unnormalized (e.g. 179.5 .. 180.5 from a ring straddling the
        antimeridian) — columns wrap; lat bounds beyond ±90 reflect
        (pole-crossing discs)."""
        r0 = int(math.floor((minlat + 90.0) / self.size))
        r1 = int(math.floor((maxlat + 90.0) / self.size))
        c0 = int(math.floor((minlon + 180.0) / self.size))
        c1 = int(math.floor((maxlon + 180.0) / self.size))
        return self._expand(r0, r1, c0, c1)

    def cover_ring(self, ring: np.ndarray) -> list[int]:
        """Cells covering a closed ring (bbox cover — prefilter only)."""
        ring = np.asarray(ring, dtype=np.float64)
        return self.cover_bbox(
            float(ring[..., 0].min()),
            float(ring[..., 1].min()),
            float(ring[..., 0].max()),
            float(ring[..., 1].max()),
        )

    def kring(self, cell: int, k: int = 1) -> list[int]:
        """Cell plus k rings of neighbors (square neighborhood —
        supersets the hex k-ring, so still a no-false-negative cover).
        Wraps at the antimeridian and reflects past the poles."""
        c = int(cell) - self.base
        row, col = divmod(c, self.cols)
        return self._expand(row - k, row + k, col - k, col + k)

    # --- SQL (shared by Spark Catalyst and the DuckDB oracle) ----------

    def sql_cell_expr(self, lat_col: str, lon_col: str) -> str:
        """CANONICAL cell id as an ANSI-SQL expression — identical text
        runs in Spark SQL and DuckDB, keeping the join key JVM-side (no
        UDF). Column wraps modulo cols (lon 180° ≡ -180°, unnormalized
        lons accepted); row clamps to [0, rows). The mod is the
        portable ``((x % n) + n) % n`` form (DuckDB has no pmod)."""
        row_raw = f"CAST(FLOOR(({lat_col} + 90.0) / {self.size!r}) AS BIGINT)"
        col_raw = f"CAST(FLOOR(({lon_col} + 180.0) / {self.size!r}) AS BIGINT)"
        row = f"LEAST(GREATEST({row_raw}, 0), {self.rows - 1})"
        col = f"((({col_raw} % {self.cols}) + {self.cols}) % {self.cols})"
        return f"({self.base} + {row} * {self.cols} + {col})"

    def sql_neighbor_cell_expr(self, cell_col: str, dr_expr: str, dc_expr: str) -> str:
        """Neighbor cell id from a CANONICAL cell id column and
        row/column offset expressions, wrapping the column at the
        antimeridian (portable SQL, runs in Spark and DuckDB).

        Rows that step past a pole produce ids outside the canonical
        row band — they match nothing, never a wrong cell (no false
        positives). Pole-crossing coverage is handled by the caller's
        polar-cap key (engine/devices_at.py, engine/joins.py), not by
        reflection here: reflected rows need ALL columns, which an
        offset join key cannot express."""
        rel = f"({cell_col} - {self.base})"
        row = f"CAST(FLOOR({rel} / {self.cols}) AS BIGINT)"
        col = f"({rel} % {self.cols})"
        ncol = f"((({col} + {dc_expr}) % {self.cols} + {self.cols}) % {self.cols})"
        return f"({self.base} + ({row} + {dr_expr}) * {self.cols} + {ncol})"


DEFAULT_SCHEME = GridScheme(res=8)

