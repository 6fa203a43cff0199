"""Geospatial query registry: Spark implementation + DuckDB oracle SQL.

Most geo queries are *shared-SQL*: one ANSI expression tree (built from
the same Python constants via geo/sqlgen.py) runs on both engines, so
the Spark side stays in whole-stage codegen while the oracle verifies
values bit-for-bit. ``device_near_device`` is the exception — the
Spark side is the scale plan (grid-cell k-ring expansion equi-join +
exact haversine refine, the set-oriented form of spDevicesOp's
``Devices.Near`` candidate scan, devices.go:166-199) while the oracle
is the brute-force O(n²) join; agreement proves the cell cover has no
false negatives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spinix_spark.geo.cells import GridScheme
from spinix_spark.geo.rings import circle_ring
from spinix_spark.geo.sqlgen import (
    bbox_contains_sql,
    haversine_sql,
    point_in_ring_sql,
    round50_sql,
)
from spinix_spark.io.derive import POINTS_SELECT, load_tables

SCHEME = GridScheme(res=8)
FINE = GridScheme(res=9)

# fixed golden-style geometries inside the derived-point area
CENTER = (42.935, -72.27)
PENTAGON = [(float(a), float(b)) for a, b in circle_ring(CENTER[0], CENTER[1], 1500.0, 5)]
RECT = (42.915, -72.300, 42.945, -72.250)  # minlat, minlon, maxlat, maxlon
ZONES = {
    f"zone{i}": [
        (float(a), float(b))
        for a, b in circle_ring(42.920 + 0.015 * i, -72.300 + 0.02 * i, 1200.0, 6)
    ]
    for i in range(4)
}
NEAR_PAIR_METERS = 250.0

_PTS = f"({POINTS_SELECT})"


def _shared(sql: str):
    """Query whose Spark side runs the same SQL text as the oracle."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir, ["documents"])
        return spark.sql(sql)

    return fn, sql


# --- shared-SQL queries --------------------------------------------------

Q_POINTS = f"SELECT doc_id, lat, lon, speed, status, datetime FROM {_PTS} p"

Q_CELL = (
    f"SELECT doc_id, {SCHEME.sql_cell_expr('lat', 'lon')} AS cell FROM {_PTS} p"
)

Q_TILE = (
    f"SELECT cell, COUNT(*) AS n_points FROM (SELECT"
    f" {SCHEME.sql_cell_expr('lat', 'lon')} AS cell FROM {_PTS} p) g GROUP BY cell"
)

Q_PIP = (
    f"SELECT doc_id, lat, lon FROM {_PTS} p WHERE "
    + point_in_ring_sql("lat", "lon", PENTAGON)
)

Q_BBOX = (
    f"SELECT doc_id FROM {_PTS} p WHERE " + bbox_contains_sql("lat", "lon", *RECT)
)

_DIST = haversine_sql("lat", "lon", repr(CENTER[0]), repr(CENTER[1]))
Q_DIST = (
    f"SELECT doc_id, {round50_sql(_DIST)} AS dist50_m FROM {_PTS} p "
    f"WHERE {round50_sql(_DIST)} < 3000.0"
)

Q_NEAR = f"SELECT doc_id FROM {_PTS} p WHERE {_DIST} <= 1500.0"

# spatial join against a small zone dimension (broadcast side); shared
# SQL form is a union of per-zone containment scans
Q_ZONE_JOIN = " UNION ALL ".join(
    f"SELECT doc_id, '{zid}' AS zone_id FROM {_PTS} p WHERE "
    + point_in_ring_sql("lat", "lon", ring)
    for zid, ring in ZONES.items()
)

# rule-expression composite: spatial AND attribute fold (ops #1+#14+#18)
Q_RULE_COMPOSITE = (
    f"SELECT doc_id FROM {_PTS} p WHERE ("
    + point_in_ring_sql("lat", "lon", PENTAGON)
    + ") AND (speed >= 30.0 AND speed <= 120.0)"
)

# attribute operator semantics over events (ops #11-#17)
Q_ATTR_RANGE = (
    "SELECT event_id FROM events WHERE value >= 30.0 AND value <= 120.0"
)
# NRANGE is boundary-inclusive on BOTH ends (runtime.go:1082-1088)
Q_ATTR_NRANGE = "SELECT event_id FROM events WHERE value <= 30.0 OR value >= 120.0"
Q_ATTR_IN = (
    "SELECT event_id FROM events WHERE event_type IN ('click', 'signup')"
)
Q_ATTR_NIN = (
    "SELECT event_id FROM events WHERE event_type NOT IN ('click', 'signup')"
)
Q_HOUR_RANGE = (
    "SELECT event_id FROM events WHERE HOUR(ts) >= 9 AND HOUR(ts) <= 17"
)

# JSON scalar extraction over the events props column (dialect split:
# Spark get_json_object vs DuckDB json_extract_string — same values)
Q_JSON_SPARK = (
    "SELECT event_id, CAST(get_json_object(props, '$.k') AS BIGINT) AS k "
    "FROM events WHERE CAST(get_json_object(props, '$.k') AS BIGINT) >= 50"
)
Q_JSON_DUCK = (
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
    "FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50"
)


def _events_split(spark_sql: str, duck_sql: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        load_tables(spark, sf_dir, ["events"])
        return spark.sql(spark_sql)

    return fn, duck_sql


def _events_shared(sql: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        load_tables(spark, sf_dir, ["events"])
        return spark.sql(sql)

    return fn, sql


# --- device-near-device: scale plan vs brute oracle ----------------------


def spark_device_near_device(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of derived points within 250 m.

    Scale plan: fine-grid cell key on each point; the left side
    explodes its 3×3 k-ring (square neighborhood ⊇ the 250 m disc —
    cell edge ~1.1 km) and equi-joins the right side's cell — a plain
    shuffle hash join on a long key that AQE can re-plan/skew-split —
    then exact haversine refinement. No false negatives: asserted
    against the O(n²) oracle by the driver.
    """
    load_tables(spark, sf_dir, ["documents"])
    pts = spark.sql(
        f"SELECT doc_id, lat, lon, {FINE.sql_cell_expr('lat', 'lon')} AS cell FROM {_PTS} p"
    )
    # wrapped neighbor ids (antimeridian-correct; identical values to
    # the plain offset form everywhere off the dateline column)
    neighbor_cells = F.array(
        *[
            F.expr(FINE.sql_neighbor_cell_expr("cell", str(dr), str(dc))).cast(
                "long"
            )
            for dr in (-1, 0, 1)
            for dc in (-1, 0, 1)
        ]
    )
    left = pts.select(
        F.col("doc_id").alias("a_id"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        F.explode(neighbor_cells).alias("cell"),
    )
    right = pts.select(
        F.col("doc_id").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cell"),
    )
    # compute the haversine ONCE as a named column; the filter and the
    # rounded projection both read it (two inline copies of the trig
    # tree don't CSE across the Filter/Project boundary)
    dist = F.expr(haversine_sql("a_lat", "a_lon", "b_lat", "b_lon"))
    return (
        left.join(right, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("_d", dist)
        .where(F.col("_d") <= NEAR_PAIR_METERS)
        .select(
            "a_id",
            "b_id",
            F.expr(round50_sql("_d")).alias("dist50_m"),
        )
    )


DUCK_DEVICE_NEAR_DEVICE = (
    f"SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
    + round50_sql(haversine_sql("a.lat", "a.lon", "b.lat", "b.lon"))
    + f" AS dist50_m FROM {_PTS} a JOIN {_PTS} b ON a.doc_id < b.doc_id "
    + f"WHERE {haversine_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')} <= {NEAR_PAIR_METERS!r}"
)


# --- cross-dateline near-pair join vs brute haversine oracle -------------
# The derived points translated so their lon range straddles ±180°
# (half land at ~+179.97°, half at ~-179.97°). The Spark side is the
# full engine path (engine/joins.near_pairs: per-row wrapped k-ring +
# polar-cap keys + exact haversine); the oracle is the brute O(n²)
# haversine join, which is inherently wrap-correct (cos of Δlon).
# Agreement proves the wrapped cell prefilter admits every true
# cross-dateline pair (SURVEY §2B.1 no-false-negative invariant at the
# antimeridian — round-5 headline fix).

_DATELINE_SHIFT = 252.265  # centers the derived lon range on 180°
_LON_SHIFTED = (
    f"(CASE WHEN lon + {_DATELINE_SHIFT!r} > 180.0"
    f" THEN lon + {_DATELINE_SHIFT!r} - 360.0"
    f" ELSE lon + {_DATELINE_SHIFT!r} END)"
)


def spark_device_near_device_dateline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spinix_spark.engine.joins import near_pairs

    load_tables(spark, sf_dir, ["documents"])
    pts = spark.sql(
        f"SELECT doc_id, lat, {_LON_SHIFTED} AS lon FROM {_PTS} p"
    ).withColumn("cell", F.expr(FINE.sql_cell_expr("lat", "lon")))
    pairs = near_pairs(pts, FINE, NEAR_PAIR_METERS)
    return pairs.select(
        "a_id", "b_id", F.expr(round50_sql("dist_m")).alias("dist50_m")
    )


DUCK_DND_DATELINE = (
    f"WITH s AS (SELECT doc_id, lat, {_LON_SHIFTED} AS lon FROM {_PTS} p) "
    f"SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
    + round50_sql(haversine_sql("a.lat", "a.lon", "b.lat", "b.lon"))
    + " AS dist50_m FROM s a JOIN s b ON a.doc_id < b.doc_id "
    + f"WHERE {haversine_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')} <= {NEAR_PAIR_METERS!r}"
)


# --- polar near-pair join vs brute haversine oracle ----------------------
# The derived points squeezed into the north polar cap: lat mapped to
# [89.9955, 89.9985] (some search discs CROSS the pole → the polar-cap
# join key; the rest carry asin-widened column spans up to thousands
# of cells) and lon fanned across the full circle. The brute haversine
# oracle is pole-agnostic; agreement proves the cap + per-row-span
# prefilter admits every true pair in the hardest geometry the grid
# has (SURVEY §2B.1 at the pole — round-5 headline fix).

_POLAR_LAT = "(89.9955 + (lat - 42.90) * 0.05)"
_POLAR_LON = "((lon + 72.31) * 4000.0 - 180.0)"


def spark_device_near_device_polar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spinix_spark.engine.joins import near_pairs

    load_tables(spark, sf_dir, ["documents"])
    pts = spark.sql(
        f"SELECT doc_id, {_POLAR_LAT} AS lat, {_POLAR_LON} AS lon"
        f" FROM {_PTS} p"
    ).withColumn("cell", F.expr(FINE.sql_cell_expr("lat", "lon")))
    pairs = near_pairs(pts, FINE, NEAR_PAIR_METERS)
    return pairs.select(
        "a_id", "b_id", F.expr(round50_sql("dist_m")).alias("dist50_m")
    )


DUCK_DND_POLAR = (
    f"WITH s AS (SELECT doc_id, {_POLAR_LAT} AS lat, {_POLAR_LON} AS lon"
    f" FROM {_PTS} p) "
    f"SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
    + round50_sql(haversine_sql("a.lat", "a.lon", "b.lat", "b.lon"))
    + " AS dist50_m FROM s a JOIN s b ON a.doc_id < b.doc_id "
    + f"WHERE {haversine_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')} <= {NEAR_PAIR_METERS!r}"
)


# --- zone join at the dateline / pole (spObjectOp global geometry) -------
# Round-6 VERDICT item #5: a driver-visible VALUE gate for the zone
# (spObjectOp) path in global geometry. Zones are hexagons whose rings
# keep UNNORMALIZED, continuous lons (the engine convention — parts
# never straddle ±180° internally); the row lon is framed by ±360°
# into each zone part's frame (geo/sqlgen.lon_frame_sql — the exact
# CASE arithmetic of the kernel's zone_intersects_point). Shared SQL
# text runs on Spark AND
# DuckDB; the dateline gate's fixtures guarantee matches on BOTH
# sides of ±180° (pinned by tests/test_registry.py).

from spinix_spark.geo.sqlgen import lon_frame_sql


def _framed_pip(ring) -> str:
    lons = [p[1] for p in ring]
    mid = (min(lons) + max(lons)) / 2.0
    return point_in_ring_sql("lat", lon_frame_sql("lon", repr(mid)), ring)


DATELINE_ZONES = {
    f"dlz{i}": [
        (float(a), float(b))
        for a, b in circle_ring(42.920 + 0.015 * i, clon, 1200.0, 6)
    ]
    for i, clon in enumerate([179.985, 180.0, -179.985, 180.012])
}

_PTS_DATELINE = (
    f"(SELECT doc_id, lat, {_LON_SHIFTED} AS lon FROM {_PTS} p)"
)

Q_ZONE_JOIN_DATELINE = " UNION ALL ".join(
    f"SELECT doc_id, '{zid}' AS zone_id FROM {_PTS_DATELINE} s WHERE "
    + _framed_pip(ring)
    for zid, ring in DATELINE_ZONES.items()
)

POLAR_ZONES = {
    f"plz{i}": [
        (float(a), float(b))
        for a, b in circle_ring(89.9960 + 0.0008 * i, clon, 250.0, 6)
    ]
    for i, clon in enumerate([0.0, 120.0, -120.0])
}

_PTS_POLAR = (
    f"(SELECT doc_id, {_POLAR_LAT} AS lat, {_POLAR_LON} AS lon FROM {_PTS} p)"
)

Q_ZONE_JOIN_POLAR = " UNION ALL ".join(
    f"SELECT doc_id, '{zid}' AS zone_id FROM {_PTS_POLAR} s WHERE "
    + _framed_pip(ring)
    for zid, ring in POLAR_ZONES.items()
)


GEO_QUERIES: dict[str, tuple] = {
    "points_derive": _shared(Q_POINTS),
    "cell_assign": _shared(Q_CELL),
    "tile_rollup": _shared(Q_TILE),
    "pip_polygon": _shared(Q_PIP),
    "bbox_filter": _shared(Q_BBOX),
    "dist_to_center": _shared(Q_DIST),
    "near_radius": _shared(Q_NEAR),
    "zone_join": _shared(Q_ZONE_JOIN),
    "zone_join_dateline": _shared(Q_ZONE_JOIN_DATELINE),
    "zone_join_polar": _shared(Q_ZONE_JOIN_POLAR),
    "rule_composite": _shared(Q_RULE_COMPOSITE),
    "attr_range": _events_shared(Q_ATTR_RANGE),
    "attr_nrange": _events_shared(Q_ATTR_NRANGE),
    "attr_in_string": _events_shared(Q_ATTR_IN),
    "attr_nin_string": _events_shared(Q_ATTR_NIN),
    "attr_hour_range": _events_shared(Q_HOUR_RANGE),
    "json_extract": _events_split(Q_JSON_SPARK, Q_JSON_DUCK),
    "device_near_device": (spark_device_near_device, DUCK_DEVICE_NEAR_DEVICE),
    "device_near_device_dateline": (
        spark_device_near_device_dateline,
        DUCK_DND_DATELINE,
    ),
    "device_near_device_polar": (
        spark_device_near_device_polar,
        DUCK_DND_POLAR,
    ),
}
