"""Partitioned table sinks — the Iceberg-shaped output layer.

The north_rule targets partitioned Iceberg writes; the
``iceberg-spark-runtime`` jar is not available in this offline
environment (SURVEY.md §7.0), so these sinks write the identical
table layouts (partition columns, schemas, atomic overwrite-by-
partition) to a parquet-backed warehouse directory. Swapping
``.parquet(path)`` for ``.writeTo(table)`` against an Iceberg catalog
is the only change needed on a real cluster; the partition strategy —
the part that matters for 100 TB scans — is the same:

- points:  partitioned by coarse cell prefix → co-located spatial
  joins and pruned region scans
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spinix_spark.geo.cells import GridScheme


def write_points(
    points: DataFrame, path: str, scheme: GridScheme, coarse_shift: int = 8
) -> None:
    # integer DIV: cell ids are near 2^53, double division would lose
    # integer precision
    out = points.withColumn("cell_prefix", F.expr(f"cell DIV {2**coarse_shift}"))
    out.write.mode("overwrite").partitionBy("cell_prefix").parquet(path)


def read_points_region(
    spark: SparkSession,
    path: str,
    scheme: GridScheme,
    minlat: float,
    minlon: float,
    maxlat: float,
    maxlon: float,
    coarse_shift: int = 8,
) -> DataFrame:
    """Spatial range read with storage partition pruning: only the
    coarse-cell partitions overlapping the bbox are listed/scanned."""
    cells = scheme.cover_bbox(minlat, minlon, maxlat, maxlon)
    prefixes = sorted({c >> coarse_shift for c in cells})
    df = spark.read.parquet(path)
    return df.where(F.col("cell_prefix").isin(prefixes)).where(
        (F.col("lat") >= minlat)
        & (F.col("lat") <= maxlat)
        & (F.col("lon") >= minlon)
        & (F.col("lon") <= maxlon)
    )
