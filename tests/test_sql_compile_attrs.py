"""SQL-compiled rule path: datetime/string attribute translations must
match the kernel bit-for-bit (date_format vs pandas strftime, day
anchors, int truncation). Each spec pairs the attribute with a
distance comparator, so the fold and ref capture compile too."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
from spinix_spark.engine.sql_compile import try_compile_rule_sql
from spinix_spark.engine.stores import zone_from_ring
from spinix_spark.geo.rings import circle_ring

K0 = "c5vj26evvhfjvfseauk0"
Z = "c5vj26evvhfjvfseaulg"

SPECS = [
    f"device :radius 1km lt polygon({Z}) and hour range [0 .. 23]",
    f"device :radius 1km lt polygon({Z}) and month eq 6",
    f'device :radius 1km lt polygon({Z}) and date eq "2023-06-15"',
    f'device :radius 1km lt polygon({Z}) and month eq "June"',
    f'device :radius 1km lt polygon({Z}) and day eq "Thursday"',
    f"device :radius 1km lt polygon({Z}) and time range [12:00 .. 23:00]",
    f"device :radius 1km lt polygon({Z}) and year in [2023, 2024]",
    f'device :radius 1km lt polygon({Z}) and datetime range '
    '["2023-06-15T00:00:00Z" .. "2023-06-16T00:00:00Z"]',
    f"device :radius 1km lt polygon({Z}) and week range [20 .. 30]",
    f"device :radius 1km lt polygon({Z}) or speed nrange [50 .. 150]",
]


def _points():
    # mix of in-zone / out-of-zone, two timestamps
    ts_in = 1686835800  # 2023-06-15 13:30:00 UTC (Thursday)
    ts_out = 1700000000  # 2023-11-14
    rows = []
    for i, (lat, lon) in enumerate(
        [(42.92, -72.27), (42.9205, -72.2705), (43.5, -72.27), (42.92, -72.27)]
    ):
        rows.append(
            {
                "url": f"u{i}",
                "device_id": K0,
                "layer_id": "0" * 20,
                "lat": lat,
                "lon": lon,
                "datetime": ts_in if i % 2 == 0 else ts_out,
                "speed": float(40 * i),
                "status": i,
            }
        )
    return pd.DataFrame(rows)


def _key(rows):
    return sorted(
        (r["url"], r["rule_id"], r["left_kw"], r["right_kw"], r["op"],
         tuple(r["right_refs"]))
        for r in rows
    )


@pytest.mark.parametrize("spec", SPECS)
def test_sql_attr_rule_matches_kernel(spark, spec):
    ring = circle_ring(42.92, -72.27, 800.0, 6)

    def build():
        e = Engine()
        e.zones.add(zone_from_ring(Z, ring))
        e.add_rule(spec, rule_id="r" + "0" * 19)
        return e

    e1 = build()
    assert try_compile_rule_sql(e1, e1.rules["r" + "0" * 19]) is not None, spec
    sdf = spark.createDataFrame(_points())
    ev_sql, _ = split_output(detect_batch_spark(sdf, e1, prefer_sql=True))
    e2 = build()
    ev_k, _ = split_output(detect_batch_spark(sdf, e2, prefer_sql=False))
    assert _key([r.asDict() for r in ev_sql.collect()]) == _key(
        [r.asDict() for r in ev_k.collect()]
    ), spec


def test_string_attr_rules_compile_with_real_schema(spark):
    """Rules on model/brand/owner/imei compile to Catalyst when the
    points schema carries those columns (round 3: the compiler takes
    the real schema instead of a fixed minimal set), and the SQL path
    equals the kernel path INCLUDING null attributes (both render the
    reference's zero value — empty string / 0.0)."""
    import pandas as pd

    from spinix_spark.engine.detect import Engine
    from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    n = 24
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "device_id": [f"d{i % 4:019d}" for i in range(n)],
            "layer_id": ["0" * 20] * n,
            "lat": [42.92] * n,
            "lon": [-72.27] * n,
            "datetime": [1700000000 + i for i in range(n)],
            "speed": [float(i) if i % 5 else None for i in range(n)],
            "status": [1] * n,
            "model": [None if i % 3 == 0 else f"m{i % 2}" for i in range(n)],
            "brand": ["acme" if i % 2 else None for i in range(n)],
        }
    )
    points = spark.createDataFrame(pdf).repartition(3)
    rules = [
        'model eq "m1" { :center 42.92 -72.27 :radius 5km }',
        'brand in ["acme", "other"] { :center 42.92 -72.27 :radius 5km }',
        # null model renders as '' (zero value) on BOTH paths
        'model eq "" { :center 42.92 -72.27 :radius 5km }',
        "speed gte 0 and speed lt 1 { :center 42.92 -72.27 :radius 5km }",
    ]

    def canon(ev):
        return sorted((r.url, r.rule_id, r.op) for r in ev.collect())

    for rule in rules:
        eng = Engine()
        eng.add_rule(rule, rule_id="r" + "3" * 19)
        assert (
            try_compile_rule_sql(eng, eng.rules["r" + "3" * 19], columns=points.columns)
            is not None
        ), rule
        ev_sql, _ = split_output(detect_batch_spark(points, eng, prefer_sql=True))
        ev_k, _ = split_output(detect_batch_spark(points, eng, prefer_sql=False))
        a, b = canon(ev_sql), canon(ev_k)
        assert a == b, f"{rule}: sql={len(a)} kernel={len(b)}"
        assert len(a) > 0, rule
