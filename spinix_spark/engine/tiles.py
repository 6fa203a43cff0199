"""Raster ↔ vector tile layer: per-cell match aggregation.

The north-star extension: matches roll up into an H3-style cell raster
(``groupBy(cell).agg(...)`` — partial aggregation map-side, one shuffle
on the cell key), and raster rows gain their cell polygon as GeoJSON
text — the vector side, mirroring the reference's
``IndexToFeatureCollection`` (index.go:112-127, which converts H3 cells
to hex-polygon features; our cells are grid squares).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinix_spark.geo.cells import GridScheme


def tile_rollup(
    points_with_cell: DataFrame,
    events: DataFrame,
    scheme: GridScheme,
) -> DataFrame:
    """events (url, rule_id, ...) × points (url, cell) → per-cell
    raster: match count, distinct devices, distinct rules.

    The join key is url (provenance); events are the small side after
    detection, so Spark broadcasts them under AQE. The rollup is a
    single shuffle keyed by cell.
    """
    ev = events.select("url", "rule_id", "device_id").alias("ev")
    pts = points_with_cell.select("url", "cell").alias("pt")
    joined = pts.join(ev, "url")
    return joined.groupBy("cell").agg(
        F.count("*").alias("n_matches"),
        F.approx_count_distinct("device_id").alias("n_devices"),
        F.approx_count_distinct("rule_id").alias("n_rules"),
    )


def point_density_raster(points_with_cell: DataFrame) -> DataFrame:
    """Plain point-density raster (groupBy cell) — map-side partial agg
    then one shuffle; the baseline tiling query."""
    return points_with_cell.groupBy("cell").agg(
        F.count("*").alias("n_points"),
        F.approx_count_distinct("device_id").alias("n_devices"),
    )


def vector_tiles(raster: DataFrame, scheme: GridScheme) -> DataFrame:
    """Raster rows → vector rows with the cell polygon as GeoJSON text
    (Catalyst-only: bbox arithmetic + string build, no UDF)."""
    size = scheme.size
    cols = scheme.cols
    base = scheme.base
    c = F.col("cell") - F.lit(base)
    row = (c / cols).cast("long")
    col = c % cols
    minlat = row * size - 90.0
    minlon = col * size - 180.0
    maxlat = minlat + size
    maxlon = minlon + size

    def pt(lon, lat):
        return F.concat(F.lit("["), lon.cast("string"), F.lit(","), lat.cast("string"), F.lit("]"))

    ring = F.concat_ws(
        ",",
        pt(minlon, minlat),
        pt(maxlon, minlat),
        pt(maxlon, maxlat),
        pt(minlon, maxlat),
        pt(minlon, minlat),
    )
    geojson = F.concat(
        F.lit('{"type":"Polygon","coordinates":[['), ring, F.lit("]]}")
    )
    return raster.withColumn("geojson", geojson)

