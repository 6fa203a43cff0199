"""The k-ring cell pair join: which rows lie within a radius of which.

The reference answers "which devices are near this one" with an index
lookup (``Devices.Near``, devices.go:166-199). At fact scale the same
question is an equi-join on grid-cell keys, built once here in
:func:`cell_pair_candidates`:

- each left row explodes to the keys of every cell its search disc
  can touch (per-row longitude span, antimeridian wrap, polar band
  and cap keys — :func:`_with_neighbor_cells`);
- each right row carries its own canonical key, plus the cap key near
  a pole (:func:`_with_cap_probe_keys`);
- with ``n_salt`` > 1 a left row takes one salt and a right row is
  replicated over all salts, so one hot cell's work splits
  ``n_salt`` ways.

Callers refine the candidates exactly: :func:`near_pairs` (the
device-near-device radius self-join) by haversine,
``devices_at.at_candidate_pairs`` (the ``devices(@)`` verdict) by the
kernel's candidacy rect and verb.

Hot-cell measurement (``bench.py``'s hot-cell shape: 60 k pages, ~10 %
in one cell, 150 m, S = 8; 4-core host, ``local[4]``, AQE on, one
Spark session, 7 interleaved reps; median (quartiles)): salting both
sides (S² keys, the previous ``near_pairs_salted``) 5.90 s
(5.24–6.90); one-sided salt (:func:`cell_pair_candidates`) 3.71 s
(3.29–4.21); unsalted 2.21 s (2.06–2.71) — all three the same
15,377,073 pairs. Unsalted was fastest on that host: that salting
pays once one key's work outgrows a task is expected, not measured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinix_spark.geo.cells import GridScheme
from spinix_spark.geo.geodesy import EARTH_RADIUS_M
from spinix_spark.geo.sqlgen import haversine_sql

# Polar-cap join keys — sentinels far outside every canonical cell-id
# band AND every out-of-band neighbor id (max legal id ≈ 1.2e16 at res
# 12; int64 max ≈ 9.2e18). A row whose search disc crosses a pole
# joins through the cap key instead of a (necessarily full-circle)
# longitude span.
CAP_NORTH_KEY = 10**18 + 1
CAP_SOUTH_KEY = 10**18 + 2

# Polar BAND keys (round-6: bounded near-pole key width). Inside the
# band (rows whose k-ring column span would exceed POLAR_BAND_MAX_COLS
# columns), the join key switches from grid cells to (colat ring,
# azimuth sector) with n_sec(ring) = min(cols, 4·(ring+1)) sectors —
# sector arc length stays ~(π/2)·cell_height regardless of latitude,
# so the per-row key fan-out is a small constant instead of the
# asin-widened ~cols/4 column span (ROADMAP #7 / round-5 verdict
# "What's wrong #1"). Encoding: BASE + ring·2^32 + sector; disjoint
# from cell ids and cap keys by construction.
POLAR_NORTH_BASE = 2 * 10**18
POLAR_SOUTH_BASE = 4 * 10**18
POLAR_BAND_MAX_COLS = 16


def polar_band_rows(scheme: GridScheme, radius_m: float) -> int:
    """Number of rows-from-the-pole that key by (ring, sector) instead
    of grid cells: the colatitude below which ``ceil(dlon/size)``
    exceeds POLAR_BAND_MAX_COLS, in row units. 0 = no band (radius so
    large the span never exceeds the budget — then k_lat dominates
    anyway). Both join sides MUST derive the band from the same
    (scheme, radius) so their keys agree."""
    import math

    sin_r = math.sin(radius_m / EARTH_RADIUS_M)
    s = math.sin(math.radians(POLAR_BAND_MAX_COLS * scheme.size))
    if sin_r >= s:
        # degenerate: radius ≥ ~MAX_COLS cells — span exceeds the
        # budget well below the pole; clamp the band to a quarter
        # hemisphere (correctness holds at any latitude, the sector
        # arc is latitude-proportional by construction)
        return scheme.rows // 4
    colat = math.degrees(math.asin(sin_r / s))
    return min(scheme.rows // 4, int(math.ceil(colat / scheme.size)))


def _with_neighbor_cells(
    df: DataFrame,
    scheme: GridScheme,
    cell_col: str,
    radius_m: float,
    lat_col: str = "a_lat",
) -> DataFrame:
    """Explode each row to its radius-covering search keys, globally
    correct:

    - latitude rings: ``k_lat = ceil(deg_r / size)`` rows either side;
    - longitude span PER ROW: ``ceil(asin(sin r / cos lat) / size)``
      columns — the exact max Δlon at distance r widens by 1/cos(lat)
      (a constant k silently undercovers away from the equator);
    - columns wrap modulo cols at the antimeridian;
    - a row whose disc crosses a pole (|lat| + deg_r ≥ 90) collapses
      to a single polar-cap key instead (its true partners span all
      longitudes; they all lie in the cap band and carry the cap key
      on the probe side — see ``_with_cap_probe_keys``).

    Plan shape: the key set is built as ONE per-row array and exploded
    ONCE. The first implementation chained two sequence-explodes
    (rows × columns) and measured 1.7× slower on the hot-cell bench —
    each Generate is a codegen stage break; the nested `transform` here
    is interpreted but touches only ~(2k+1)² tiny int expressions per
    input row (PLANS.md round-5 measurement)."""
    import math

    deg_r = math.degrees(radius_m / EARTH_RADIUS_M)
    k_lat = int(math.ceil(deg_r / scheme.size))
    sin_r = repr(math.sin(radius_m / EARTH_RADIUS_M))
    dlon = (
        f"DEGREES(ASIN(LEAST(GREATEST({sin_r} / "
        f"GREATEST(COS(RADIANS({lat_col})), 1e-12), -1.0), 1.0)))"
    )
    cap_n = f"({lat_col} + {deg_r!r} >= 90.0)"
    cap_s = f"({lat_col} - {deg_r!r} <= -90.0)"
    klon = f"CAST(CEIL({dlon} / {scheme.size!r}) AS INT)"
    cols = scheme.cols
    rows = scheme.rows
    band = polar_band_rows(scheme, radius_m)
    # wrap as an additive correction against the precomputed column
    # index (valid because klon < cols: at most one wrap either way)
    nb = (
        f"({cell_col} + dr * {cols} + dc"
        f" + CASE WHEN _co + dc < 0 THEN {cols}"
        f" WHEN _co + dc >= {cols} THEN -{cols} ELSE 0 END)"
    )
    grid_arr = (
        f"transform(sequence(-_kl, _kl), dc -> CAST({nb} AS BIGINT))"
    )

    def band_arr(base: int, cr: str) -> str:
        # azimuth sectors of colat ring `cr` touched by the row's
        # ±_kl column span: sector(co) = floor(co·n/cols) is monotone,
        # so the touched set is the contiguous floor-range (mod n,
        # length clamped at n). Per-ring fan-out is O(deg_r/size),
        # latitude-INDEPENDENT — the whole point of the band scheme.
        n = f"LEAST(CAST({cols} AS BIGINT), 4 * (({cr}) + 1))"
        lo = f"CAST(FLOOR((_co - _kl) * {n} / {cols}) AS BIGINT)"
        hi = f"CAST(FLOOR((_co + _kl) * {n} / {cols}) AS BIGINT)"
        return (
            f"transform(sequence({lo}, LEAST({hi}, {lo} + {n} - 1)), s ->"
            f" CAST({base} + ({cr}) * 4294967296 + pmod(s, {n}) AS BIGINT))"
        )

    if band > 0:
        per_row = (
            f"CASE"
            f" WHEN _ro + dr >= {rows} OR _ro + dr < 0"
            f" THEN slice(array(CAST(0 AS BIGINT)), 1, 0)"
            f" WHEN _ro + dr >= {rows - band}"
            f" THEN {band_arr(POLAR_NORTH_BASE, f'{rows - 1} - (_ro + dr)')}"
            f" WHEN _ro + dr < {band}"
            f" THEN {band_arr(POLAR_SOUTH_BASE, '_ro + dr')}"
            f" ELSE {grid_arr} END"
        )
    else:
        per_row = grid_arr
    keys = (
        f"CASE WHEN {cap_n} THEN array(CAST({CAP_NORTH_KEY} AS BIGINT))"
        f" WHEN {cap_s} THEN array(CAST({CAP_SOUTH_KEY} AS BIGINT))"
        f" ELSE flatten(transform(sequence(-{k_lat}, {k_lat}), dr ->"
        f" {per_row})) END"
    )
    return (
        df.withColumn(
            "_co", (F.col(cell_col) - F.lit(scheme.base)) % F.lit(cols)
        )
        .withColumn("_ro", F.expr(f"({cell_col} - {scheme.base}) DIV {cols}"))
        .withColumn("_kl", F.expr(klon))
        .withColumn("_ncell", F.explode(F.expr(keys)))
        .drop("_co", "_ro", "_kl")
    )


def _with_cap_probe_keys(
    df: DataFrame,
    scheme: GridScheme,
    radius_m: float,
    lat_col: str,
    cell_col: str,
) -> DataFrame:
    """Probe-side keys: the canonical key — the grid cell, or inside
    the polar band the (colat ring, azimuth sector) band key (must
    mirror ``_with_neighbor_cells``'s regime switch exactly, same
    ``polar_band_rows``) — plus the polar-cap key for rows in the cap
    band (within 2·deg_r of a pole — every true partner of a
    pole-crossing searcher lies in this band). Single scan:
    conditional key array + explode, no union."""
    import math

    deg_r = math.degrees(radius_m / EARTH_RADIUS_M)
    cols = scheme.cols
    rows = scheme.rows
    band = polar_band_rows(scheme, radius_m)
    if band > 0:
        ro = f"(({cell_col} - {scheme.base}) DIV {cols})"
        co = f"pmod({cell_col} - {scheme.base}, {cols})"

        def band_key(base: int, cr: str) -> str:
            n = f"LEAST(CAST({cols} AS BIGINT), 4 * (({cr}) + 1))"
            return (
                f"CAST({base} + ({cr}) * 4294967296"
                f" + CAST(FLOOR({co} * {n} / {cols}) AS BIGINT) AS BIGINT)"
            )

        canonical = F.expr(
            f"CASE WHEN {ro} >= {rows - band}"
            f" THEN {band_key(POLAR_NORTH_BASE, f'{rows - 1} - {ro}')}"
            f" WHEN {ro} < {band}"
            f" THEN {band_key(POLAR_SOUTH_BASE, ro)}"
            f" ELSE CAST({cell_col} AS BIGINT) END"
        )
    else:
        canonical = F.col(cell_col).cast("long")
    keys = F.array_compact(
        F.array(
            canonical,
            F.when(
                F.col(lat_col) >= F.lit(90.0 - 2.0 * deg_r),
                F.lit(CAP_NORTH_KEY).cast("long"),
            ),
            F.when(
                F.col(lat_col) <= F.lit(-90.0 + 2.0 * deg_r),
                F.lit(CAP_SOUTH_KEY).cast("long"),
            ),
        )
    )
    return df.withColumn("_ncell", F.explode(keys)).drop(cell_col)


def cell_pair_candidates(
    left: DataFrame,
    right: DataFrame,
    scheme: GridScheme,
    radius_m: float,
    n_salt: int = 0,
    salt_key: str = "a_id",
) -> DataFrame:
    """The k-ring cell equi-join: every (left, right) row pair that
    can lie within ``radius_m``, plus some that do not — callers
    refine. ``left`` carries a_lat, a_lon and ``_cell`` (its grid cell
    under ``scheme``), ``right`` b_lat, b_lon and ``_cell``; any other
    columns pass through. Left keys are the radius-covering search
    keys (:func:`_with_neighbor_cells`), right keys the probe keys
    (:func:`_with_cap_probe_keys`), so a true pair meets on exactly
    one key.

    ``n_salt`` > 1 splits each key ``n_salt`` ways: a left row takes
    the one salt ``pmod(xxhash64(salt_key), n_salt)`` and a right row
    is replicated over all of them, joining on (_ncell, _bb) — each
    pair still meets exactly once, and a hot cell's left rows spread
    over ``n_salt`` tasks. The left side is the one that already fans
    out over the k-ring, so it is never replicated."""
    left = _with_neighbor_cells(left, scheme, "_cell", radius_m).drop("_cell")
    right = _with_cap_probe_keys(right, scheme, radius_m, "b_lat", "_cell")
    keys = ["_ncell"]
    if n_salt > 1:
        left = left.withColumn("_bb", F.pmod(F.xxhash64(salt_key), n_salt))
        right = right.withColumn(
            "_bb", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        )
        keys.append("_bb")
    return left.join(right, keys)


def near_pairs(
    points: DataFrame,
    scheme: GridScheme,
    radius_m: float,
    n_salt: int = 0,
) -> DataFrame:
    """Pairs (a_id < b_id) of ``points`` (doc_id, lat, lon, cell)
    within ``radius_m``: the cell pair join refined by exact
    haversine. Globally correct — the join surfaces every true pair
    (asserted against the O(n²) trig oracle in tests), at any
    ``n_salt``."""
    left = points.select(
        F.col("doc_id").alias("a_id"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        F.col("cell").alias("_cell"),
    )
    right = points.select(
        F.col("doc_id").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cell").alias("_cell"),
    )
    dist = F.expr(haversine_sql("a_lat", "a_lon", "b_lat", "b_lon"))
    return (
        cell_pair_candidates(left, right, scheme, radius_m, n_salt)
        .where(F.col("a_id") < F.col("b_id"))
        .where(dist <= radius_m)
        .select("a_id", "b_id", dist.alias("dist_m"))
    )


def near_pairs_salted(
    points: DataFrame,
    scheme: GridScheme,
    radius_m: float,
    n_salt: int = 8,
) -> DataFrame:
    """:func:`near_pairs` with ``n_salt`` hot-cell salts (default 8)."""
    return near_pairs(points, scheme, radius_m, n_salt)
