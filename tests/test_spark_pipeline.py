"""End-to-end Spark pipeline: pages → geoparse → detect → tiles.

The "one real query" slice of SURVEY.md §7.2 step 3: the G3 golden
polygon + a page whose text embeds the G3 device coordinates must
produce exactly the golden match row through the full distributed
plan, with the text column byte-identical per url.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import (
    STATE_COLS,
    detect_batch_spark,
    merge_states,
    snapshot_from_points,
    split_output,
)
from spinix_spark.engine.stores import zone_from_ring
from spinix_spark.engine.tiles import point_density_raster, tile_rollup, vector_tiles
from spinix_spark.geo.cells import DEFAULT_SCHEME
from spinix_spark.io.geoparse import cell_column, geoparse_points
from spinix_spark.io.pages import synthesize_pages

AULG = "c5vj26evvhfjvfseaulg"
K0 = "c5vj26evvhfjvfseauk0"

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


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, 2000).cache()


def test_pages_schema_and_determinism(spark, pages):
    assert [f.name for f in pages.schema.fields] == [
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
    ]
    assert pages.count() == 2000
    a = pages.orderBy("url").limit(5).collect()
    b = synthesize_pages(spark, 2000).orderBy("url").limit(5).collect()
    assert a == b  # deterministic


def test_geoparse_byte_identical_text(spark, pages):
    pts = geoparse_points(pages)
    assert pts.count() == 2000  # every synthetic page has coordinates
    joined = (
        pts.select("url", "text")
        .withColumnRenamed("text", "t2")
        .join(pages.select("url", "text"), "url")
    )
    assert joined.where("t2 <> text").count() == 0  # byte-identical per url


def test_geoparse_drops_pages_without_coords(spark):
    """Regression: pages with no 'located at' pair must be DROPPED,
    not crash the ANSI double cast on the empty extract (masked before
    because every synthetic page matches)."""
    pdf = pd.DataFrame(
        {
            "url": [
                "https://fixture.test/aaaaaaaaaaaaaaaaaaaa/1",
                "https://fixture.test/bbbbbbbbbbbbbbbbbbbb/2",
                "https://fixture.test/cccccccccccccccccccc/3",
            ],
            "warc_ts": [pd.Timestamp("2023-11-14", tz="UTC")] * 3,
            "html": [b"x", b"y", b"z"],
            "text": [
                "page located at 42.925, -72.275 speed 5 end.",
                "no coordinates in this page at all",
                "located at 1e-5, -2.5e-3 end.",  # exponent form, no speed
            ],
            "lang": ["en"] * 3,
        }
    )
    rows = geoparse_points(spark.createDataFrame(pdf)).orderBy("url").collect()
    assert len(rows) == 2
    assert (rows[0].lat, rows[0].lon, rows[0].speed) == (42.925, -72.275, 5.0)
    assert (rows[1].lat, rows[1].lon, rows[1].speed) == (1e-5, -2.5e-3, None)


def test_geoparse_recovers_exact_doubles(spark, pages):
    # re-parse text in Python and compare with the Spark-extracted doubles
    import re

    rows = geoparse_points(pages).select("url", "lat", "lon", "text").limit(50).collect()
    pat = re.compile(r"located at (\S+), (\S+) ")
    for r in rows:
        m = pat.search(r.text)
        assert float(m.group(1)) == r.lat
        assert float(m.group(2)) == r.lon


def test_e2e_golden_polygon_detect(spark):
    # page whose text embeds the G3 target coordinates
    pdf = pd.DataFrame(
        {
            "url": [f"https://fixture.test/{K0}/0", f"https://fixture.test/{K0}/1"],
            "device_id": [K0, K0],
            "layer_id": ["0" * 20, "0" * 20],
            "lat": [42.9236075, 10.0],
            "lon": [-72.2792333, 10.0],
            "datetime": [1000, 1001],
            "speed": [0.0, 0.0],
            "status": [0, 0],
        }
    )
    points = spark.createDataFrame(pdf)
    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    engine.add_rule(f"devices({K0}) INTERSECTS polygon({AULG})", rule_id="r" + "0" * 19)

    out = detect_batch_spark(points, engine)
    events, _ = split_output(out)
    rows = events.collect()
    assert len(rows) == 1
    e = rows[0]
    assert e.device_id == K0
    assert e.left_kw == "device"
    assert e.right_kw == "polygon"
    assert e.op == "INTERSECTS"
    assert e.right_refs == [AULG]
    assert e.url.endswith("/0")  # only the in-polygon update fires


def test_e2e_rule_prune_pushdown(spark):
    # rule bbox predicate must appear as a pushed filter over the scan
    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    engine.add_rule(f"devices({K0}) INTERSECTS polygon({AULG})")
    pdf = pd.DataFrame(
        {
            "url": ["u"],
            "device_id": [K0],
            "layer_id": ["0" * 20],
            "lat": [42.92],
            "lon": [-72.27],
            "datetime": [0],
            "speed": [0.0],
            "status": [0],
        }
    )
    points = spark.createDataFrame(pdf)
    out = detect_batch_spark(points, engine)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan  # bbox prune stays relational (not in Python)


def test_stateful_rule_state_rows(spark):
    engine = Engine()
    engine.add_rule(
        "status eq 1 { :center 42.92 -72.27 :radius 1km :trigger once }",
        rule_id="r" + "1" * 19,
    )
    pdf = pd.DataFrame(
        {
            "url": ["u1"],
            "device_id": [K0],
            "layer_id": ["0" * 20],
            "lat": [42.92],
            "lon": [-72.27],
            "datetime": [1000],
            "speed": [0.0],
            "status": [1],
        }
    )
    points = spark.createDataFrame(pdf)
    out = detect_batch_spark(points, engine)
    events, states = split_output(out)
    ev = events.collect()
    st = states.collect()
    assert len(ev) == 1
    assert len(st) == 1 and st[0].hits == 1
    # second batch with the carried state: trigger 'once' suppresses
    out2 = detect_batch_spark(points, engine, states=merge_states(None, states))
    events2, _ = split_output(out2)
    assert events2.count() == 0


def test_stateful_state_rows_multipartition(spark):
    """Regression (round-1 verdict #1): with >1 shuffle partition, >1
    device, AND non-empty prior state, each touched (device_id,
    rule_id) key must be emitted exactly once — no duplicate or
    conflicting state rows from tasks re-emitting seeded prior states
    they never touched."""
    engine = Engine()
    rule_id = "r" + "3" * 19
    engine.add_rule(
        "status eq 1 { :center 42.92 -72.27 :radius 5km :trigger once }",
        rule_id=rule_id,
    )
    n = 64  # 8 devices × 8 rows each, spread across many partitions
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "device_id": [f"d{i % 8:019d}" for i in range(n)],
            "layer_id": ["0" * 20] * n,
            "lat": [42.92] * n,
            "lon": [-72.27] * n,
            "datetime": [1000 + i for i in range(n)],
            "speed": [0.0] * n,
            "status": [1] * n,
        }
    )
    points = spark.createDataFrame(pdf).repartition(8)

    # batch 1: no prior state
    ev1, st1 = split_output(detect_batch_spark(points, engine))
    rows1 = [r.asDict() for r in st1.collect()]
    keys1 = [(r["device_id"], r["rule_id"]) for r in rows1]
    assert len(keys1) == len(set(keys1)) == 8  # one state row per device
    # sequential per-event trigger fold: 'once' fires exactly one
    # event per device (the first in time order), not one per row
    assert ev1.count() == 8
    assert all(r["hits"] == 1 for r in rows1)

    # batch 2 with non-empty prior state across multiple Arrow batches:
    # the old bug re-emitted every seeded state from every task
    carry = merge_states(None, st1).cache()
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        ev2, st2 = split_output(detect_batch_spark(points, engine, states=carry))
        rows2 = [r.asDict() for r in st2.collect()]
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    keys2 = [(r["device_id"], r["rule_id"]) for r in rows2]
    assert len(keys2) == len(set(keys2)) == 8, f"duplicate state rows: {keys2}"
    assert ev2.count() == 0  # trigger 'once' suppresses the whole batch
    # carried-forward merge is stable: one state per device, the batch-2 one
    merged = {r.device_id: r.states for r in merge_states(carry, st2).collect()}
    assert len(merged) == 8
    for r in rows2:
        (st,) = merged[r["device_id"]]
        assert (st.rule_id, st.hits) == (r["rule_id"], r["hits"])


def test_merge_states_overlays_per_rule(spark):
    """merge_states lays a batch's emitted states over the prior arrays
    per (device, rule): an emitted rule replaces its prior state, other
    prior rules stay, a device on one side only keeps that side's
    states, and a device with none keeps a null array."""
    from spinix_spark.engine.spark_pipeline import STATE_STRUCT

    def st(rule, hits):
        return (rule, 10 * hits, 1, hits, 100 + hits, "")

    prior = spark.createDataFrame(
        [
            ("a", [st("r1", 1), st("r2", 1)]),
            ("b", [st("r1", 1)]),
            ("c", None),
        ],
        StructType(
            [StructField("device_id", StringType()), StructField("states", ArrayType(STATE_STRUCT))]
        ),
    )
    emitted = spark.createDataFrame(
        [("a", *st("r2", 2)), ("d", *st("r1", 3)), ("d", *st("r3", 3))],
        ", ".join(
            f"{c} {'string' if c in ('device_id', 'rule_id', 'visits') else 'bigint'}"
            for c in STATE_COLS
        ),
    )

    def canon(df):
        return {
            r.device_id: None if r.states is None else sorted(tuple(s) for s in r.states)
            for r in df.collect()
        }

    assert canon(merge_states(prior, emitted)) == {
        "a": [st("r1", 1), st("r2", 2)],
        "b": [st("r1", 1)],
        "c": None,
        "d": [st("r1", 3), st("r3", 3)],
    }
    assert canon(merge_states(None, emitted)) == {
        "a": [st("r2", 2)],
        "d": [st("r1", 3), st("r3", 3)],
    }


def test_states_carry_exhausts_quota(spark):
    """A ``3 times`` trigger carried through merge_states: batch 1 fires
    three rows per device, batch 2 (same rows) fires none, and the
    merged states hold the quota hits."""
    rule = (
        "status eq 1 { :center 42.92 -72.27 :radius 5km"
        " :trigger 3 times interval 0s }"
    )
    n = 60
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "device_id": [f"d{i % 6:019d}" for i in range(n)],
            "layer_id": ["0" * 20] * n,
            "lat": [42.92] * n,
            "lon": [-72.27] * n,
            "datetime": [1000 + i for i in range(n)],
            "speed": [0.0] * n,
            "status": [1] * n,
        }
    )
    points = spark.createDataFrame(pdf).repartition(5)
    engine = Engine()
    engine.add_rule(rule, rule_id="r" + "6" * 19)
    ev1, st1 = split_output(detect_batch_spark(points, engine))
    carry = merge_states(None, st1).cache()
    ev2, st2 = split_output(detect_batch_spark(points, engine, states=carry))
    merged = merge_states(carry, st2).collect()

    oracle = Engine()
    oracle.add_rule(rule, rule_id="r" + "6" * 19)
    oracle.detect_batch(pdf)
    oracle.detect_batch(pdf)
    assert ev1.count() == 6 * 3  # 3 fires per device, batch 1
    assert ev2.count() == 0  # quota exhausted
    assert sorted(
        (r.device_id, s.rule_id, s.last_seen, s.last_reset, s.hits)
        for r in merged
        for s in r.states
    ) == sorted(
        (s["device_id"], s["rule_id"], s["last_seen"], s["last_reset"], s["hits"])
        for s in oracle.states.snapshot()
    )


def test_device_near_device_via_snapshot(spark, pages):
    points = geoparse_points(pages)
    snap = snapshot_from_points(points)
    assert len(snap) == 1000  # one snapshot row per device
    engine = Engine()
    engine.devices = snap
    # NOTE: point-NEAR-point is coordinate equality in the reference
    # (runtime.go:1676-1683), so a buffered device is needed for a
    # proximity search.
    engine.add_rule(
        "device :radius 500m NEAR devices(@) { :center 42.92 -72.28 :radius 50km :trigger every 1s }",
        rule_id="r" + "2" * 19,
    )
    # rule is stateful (props) — exercises the repartition path
    out = detect_batch_spark(points.limit(200), engine)
    events, _ = split_output(out)
    assert events.count() > 0  # devices sharing the hot cell are near each other


def test_tiles(spark, pages):
    points = geoparse_points(pages).withColumn("cell", cell_column(DEFAULT_SCHEME))
    raster = point_density_raster(points)
    rows = raster.collect()
    assert sum(r.n_points for r in rows) == 2000
    # hot cell exists (10% of points in one cell)
    top = max(rows, key=lambda r: r.n_points)
    assert top.n_points >= 200
    vec = vector_tiles(raster, DEFAULT_SCHEME)
    one = vec.limit(1).collect()[0]
    import json

    g = json.loads(one.geojson)
    assert g["type"] == "Polygon" and len(g["coordinates"][0]) == 5


def test_tile_rollup_with_events(spark):
    engine = Engine()
    engine.zones.add(zone_from_ring(AULG, G3_RING))
    engine.add_rule(f"devices({K0}) INTERSECTS polygon({AULG})")
    pdf = pd.DataFrame(
        {
            "url": [f"https://fixture.test/{K0}/0"],
            "device_id": [K0],
            "layer_id": ["0" * 20],
            "lat": [42.9236075],
            "lon": [-72.2792333],
            "datetime": [1000],
            "speed": [0.0],
            "status": [0],
        }
    )
    points = spark.createDataFrame(pdf).withColumn("cell", cell_column(DEFAULT_SCHEME))
    events, _ = split_output(detect_batch_spark(points, engine))
    roll = tile_rollup(points, events, DEFAULT_SCHEME).collect()
    assert len(roll) == 1 and roll[0].n_matches == 1
