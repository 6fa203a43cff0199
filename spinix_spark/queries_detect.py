"""Full-pipeline detect queries for the correctness gate.

These run the actual distributed rules engine (broadcast zones +
Catalyst-compiled attribute/distance rules + the mapInPandas kernel) over device points derived
from ``documents``. The stateful variant exercises trigger state
(op #19) — inherently non-SQL-expressible, so the driver records the
rows-only check for it; the stateless variant's match set equals the
``rule_composite`` SQL (same pentagon + speed predicate), giving the
pipeline an indirect value-level oracle as well.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, merge_states, split_output
from spinix_spark.engine.stores import zone_from_ring
from spinix_spark.io.derive import derived_points
from spinix_spark.queries_geo import PENTAGON, Q_RULE_COMPOSITE

PENTAGON_ID = "c5vj26evvhfjvfseaulg"


def _points_as_devices(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = derived_points(spark, sf_dir)
    dev = F.concat(
        F.lit("d"), F.lpad(F.lower(F.conv((F.col("doc_id") % 37).cast("string"), 10, 32)), 19, "0")
    )
    return pts.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        dev.alias("device_id"),
        F.lit("0" * 20).alias("layer_id"),
        "lat",
        "lon",
        "datetime",
        "speed",
        "status",
        F.col("doc_id"),
    )


def _engine() -> Engine:
    import numpy as np

    engine = Engine()
    engine.zones.add(zone_from_ring(PENTAGON_ID, np.array(PENTAGON)))
    return engine


def detect_stateless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """device INTERSECTS pentagon AND speed range [30 .. 120] through
    the real pipeline; doc ids returned so the match set is comparable
    to the rule_composite SQL oracle."""
    engine = _engine()
    engine.add_rule(
        f"device INTERSECTS polygon({PENTAGON_ID}) and speed range [30 .. 120]",
        rule_id="r" + "0" * 19,
    )
    events, _ = split_output(
        detect_batch_spark(_points_as_devices(spark, sf_dir), engine)
    )
    # one row per event (the INTERSECTS match), keyed back to doc_id
    return (
        events.where(F.col("op") == "INTERSECTS")
        .select(
            F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id")
        )
        .orderBy("doc_id")
    )


def _event_counts(events: DataFrame, batch_no: int) -> DataFrame:
    """Per-device fired-event counts, keyed by the derivation slot
    (doc_id % 37) so the oracle can reproduce the key in plain SQL."""
    return (
        events.select(
            (
                F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint") % 37
            ).alias("device_slot")
        )
        .groupBy("device_slot")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.lit(batch_no).cast("bigint").alias("batch"),
            "device_slot",
            "n_events",
        )
    )


# Stateful trigger gate queries: the trigger state is a sequential
# per-device event-time fold (checkTrigger/changeState,
# runtime.go:103-163) — detect_batch_spark pins that fold to
# (device_id, datetime) order, so the outcome is expressible in SQL as
# window functions over event-time-ordered rows. The rule node
# (``speed nrange [300 .. 400]``, always true for derived speeds
# 0..199) and the 50 km rule geofence keep every row evaluated, so the
# oracle sees the pure trigger fold with no tie-sensitive spatial term.
_ALWAYS_NODE = "speed nrange [300 .. 400]"
_WIDE_PROPS = ":center 42.935 -72.27 :radius 50km"


def _run_two_batches(spark: SparkSession, sf_dir: str, rule: str) -> DataFrame:
    """Run the SAME points through the stateful pipeline twice,
    carrying per-(device, rule) state between the batches AS A
    DATAFRAME (co-partitioned state join — no state ever collects to
    the driver); return (batch, device_slot, n_events)."""
    engine = _engine()
    engine.add_rule(rule, rule_id="r" + "1" * 19)
    pts = _points_as_devices(spark, sf_dir)
    ev1, st1 = split_output(detect_batch_spark(pts, engine))
    st1 = merge_states(None, st1).cache()
    c1 = _event_counts(ev1, 1)
    ev2, _ = split_output(detect_batch_spark(pts, engine, states=st1))
    c2 = _event_counts(ev2, 2)
    return c1.unionAll(c2).orderBy("batch", "device_slot")


def detect_stateful_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``:trigger once``: exactly one fired event per device in batch
    1 (first event in time order; hits 0 → 1), full suppression in
    batch 2 (REPEAT_ONCE fires iff hits == 0, runtime.go:127-129)."""
    return _run_two_batches(
        spark, sf_dir, f"{_ALWAYS_NODE} {{ {_WIDE_PROPS} :trigger once }}"
    )


def detect_trigger_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``:trigger 3 times interval 0s``: the first three events per
    device fire (hits < times, interval 0 always satisfied on
    time-ordered rows), everything after — including all of batch 2 —
    is suppressed (runtime.go:118-126)."""
    return _run_two_batches(
        spark,
        sf_dir,
        f"{_ALWAYS_NODE} {{ {_WIDE_PROPS} :trigger 3 times interval 0s }}",
    )


def detect_trigger_every(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``:trigger every 600s``: first event fires (lastSeen == 0) and
    anchors lastReset; afterwards an event fires iff its time is more
    than 600 s past the anchor (runtime.go:112-117). Batch 2 replays
    the same rows against the carried anchor, so only the > 600 s rows
    fire again — the window-fold oracle checks both batches."""
    return _run_two_batches(
        spark,
        sf_dir,
        f"{_ALWAYS_NODE} {{ {_WIDE_PROPS} :trigger every 600s :reset after 24h }}",
    )


# --- §2A ops #3 / #6 / #17 through the real pipeline ---------------------
# Snapshot devices live OUTSIDE the row-device id space ("x…"), so the
# devices-vs-devices membership swap (runtime.go:1381-1431) evaluates
# exactly the left-membership direction and the oracle stays closed.

X1 = "e" + "0" * 19  # snapshot device at the pentagon center
X2 = "e" + "0" * 18 + "1"  # snapshot device SW of center
X1_POS = (42.935, -72.27)
X2_POS = (42.925, -72.295)


def _slot_id(slot: int) -> str:
    """Row device id for a derivation slot — mirrors _points_as_devices
    (base-32 of doc_id % 37, left-padded to 19)."""
    import numpy as np

    return "d" + np.base_repr(slot, 32).lower().zfill(19)


MEMBER_SLOTS = (1, 5, 11, 17, 23, 29, 31, 36)
DD_RING_M = 2000.0


def _engine_with_snapshot() -> Engine:
    engine = _engine()
    for did, (lat, lon) in ((X1, X1_POS), (X2, X2_POS)):
        engine.devices.insert_or_replace(
            {"device_id": did, "layer_id": "0" * 20, "lat": lat, "lon": lon}
        )
    return engine


def _doc_ids(events: DataFrame) -> DataFrame:
    return events.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id")
    ).orderBy("doc_id")


def detect_dd_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #3 spDDevicesOp: ``devices(list) INTERSECTS devices(x1)
    :radius 500m`` — membership-gated device-vs-device with a buffered
    constant candidate (point target in the candidate's 12-gon ring,
    runtime.go:1355-1431). Kernel path (buffered right side)."""
    engine = _engine_with_snapshot()
    members = ", ".join(_slot_id(s) for s in MEMBER_SLOTS)
    engine.add_rule(
        f"devices({members}) intersects devices({X1}) :radius 2km"
        " { :center 42.935 -72.27 :radius 50km }",
        rule_id="r" + "4" * 19,
    )
    ev, _ = split_output(detect_batch_spark(_points_as_devices(spark, sf_dir), engine))
    return _doc_ids(ev)


def detect_equal_devices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #6 equalDevicesOp: ``device :radius 1km lt devices(x1, x2)``
    — 50 m-rounded distance comparator with the reference's
    last-candidate-wins Ok (runtime.go:1860-1888); per-event ref count
    captures which candidates individually satisfied the comparator.
    Compiles fully to Catalyst (engine/sql_compile.py)."""
    engine = _engine_with_snapshot()
    engine.add_rule(
        f"device :radius 1km lt devices({X1}, {X2})"
        " { :center 42.935 -72.27 :radius 50km }",
        rule_id="r" + "5" * 19,
    )
    ev, _ = split_output(detect_batch_spark(_points_as_devices(spark, sf_dir), engine))
    return ev.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.size("right_refs").cast("bigint").alias("n_refs"),
    ).orderBy("doc_id")


def detect_weekday_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #9 equalStrOp's datetime-string view: ``day eq "Wednesday"``
    (weekday name rendering, runtime.go:2206-2212). The derived
    datetimes straddle the Tue/Wed boundary (2023-11-14T22:13Z +24 h),
    so the predicate genuinely discriminates. Catalyst-compiled
    (date_format EEEE, UTC)."""
    engine = _engine()
    engine.add_rule(
        'day eq "Wednesday" { :center 42.935 -72.27 :radius 50km }',
        rule_id="r" + "8" * 19,
    )
    ev, _ = split_output(detect_batch_spark(_points_as_devices(spark, sf_dir), engine))
    return _doc_ids(ev)


def detect_devices_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #4 spDevicesObjectOp: ``devices(list) INTERSECTS
    polygon(pentagon)`` — zone containment membership-gated to an
    explicit device list (runtime.go:1147-1191). Kernel stage, like
    every zone verb."""
    engine = _engine()
    members = ", ".join(_slot_id(s) for s in MEMBER_SLOTS)
    engine.add_rule(
        f"devices({members}) intersects polygon({PENTAGON_ID})",
        rule_id="r" + "9" * 19,
    )
    ev, _ = split_output(detect_batch_spark(_points_as_devices(spark, sf_dir), engine))
    return _doc_ids(ev)


def _devices_object_oracle() -> str:
    from spinix_spark.geo.sqlgen import point_in_ring_sql

    slots = ", ".join(str(s) for s in MEMBER_SLOTS)
    return (
        f"SELECT doc_id FROM ({_PSEL}) p "
        f"WHERE (doc_id % 37) IN ({slots}) AND "
        + point_in_ring_sql("lat", "lon", PENTAGON)
        + " ORDER BY doc_id"
    )


def detect_range_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #17 rangeDateTimeOp: boundary-inclusive absolute-datetime
    range (runtime.go:1011-1067) through the pipeline; compiles to a
    plain Catalyst long-range predicate."""
    engine = _engine()
    engine.add_rule(
        'datetime range ["2023-11-14T23:00:00Z" .. "2023-11-15T08:00:00Z"]'
        " { :center 42.935 -72.27 :radius 50km }",
        rule_id="r" + "6" * 19,
    )
    ev, _ = split_output(detect_batch_spark(_points_as_devices(spark, sf_dir), engine))
    return _doc_ids(ev)


AT_RING_M = 250.0


def detect_devices_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-scale ``devices(@)`` through the pair-join planner strategy
    (op #2's ``@`` form at scale, engine/devices_at.py): the device
    snapshot is the latest position per derived device, kept as a
    DataFrame end to end — NO driver collect, NO snapshot broadcast,
    no per-snapshot-device Python loop. Rule: each update's 250 m
    12-gon must contain a snapshot device's point; n_refs counts the
    matching snapshot devices."""
    from spinix_spark.engine.devices_at import snapshot_df_from_points

    engine = _engine()
    engine.add_rule(
        "device :radius 250m intersects devices(@)"
        " { :center 42.935 -72.27 :radius 50km }",
        rule_id="r" + "2" * 19,
    )
    pts = _points_as_devices(spark, sf_dir)
    snap = snapshot_df_from_points(pts)
    ev, _ = split_output(detect_batch_spark(pts, engine, devices_df=snap))
    return ev.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.size("right_refs").cast("bigint").alias("n_refs"),
    ).orderBy("doc_id")


def detect_devices_at_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL fact-scale ``devices(@)``: the pair-join @ verdict,
    read by the kernel stage, gated by the sequential per-device
    ``:trigger every 600s`` fold, run over TWO batches of the same
    points with the trigger state carried as per-device arrays
    (merge_states) — no broadcast snapshot, nothing fact-sized on the
    driver. Batch 1 fires each device's first row
    (last_seen == 0) plus rows > 600 s past the anchor; batch 2 (same
    rows, carried state) re-fires only the past-anchor rows. Events
    appear only where the fired row's 250 m 12-gon contains a snapshot
    device (reference semantics: runtime.go:103-163 + 1461-1483)."""
    from spinix_spark.engine.devices_at import snapshot_df_from_points

    engine = _engine()
    engine.add_rule(
        "device :radius 250m intersects devices(@)"
        " { :center 42.935 -72.27 :radius 50km"
        " :trigger every 600s :reset after 24h }",
        rule_id="r" + "3" * 19,
    )
    pts = _points_as_devices(spark, sf_dir)
    snap = snapshot_df_from_points(pts)
    ev1, st1 = split_output(detect_batch_spark(pts, engine, devices_df=snap))
    st1 = merge_states(None, st1).cache()
    ev2, _ = split_output(
        detect_batch_spark(pts, engine, devices_df=snap, states=st1)
    )

    def fmt(ev: DataFrame, b: int) -> DataFrame:
        return ev.select(
            F.lit(b).cast("bigint").alias("batch"),
            F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
            F.size("right_refs").cast("bigint").alias("n_refs"),
        )

    return fmt(ev1, 1).unionAll(fmt(ev2, 2)).orderBy("batch", "doc_id")


def _devices_at_stateful_oracle() -> str:
    from spinix_spark.geo.sqlgen import (
        point_in_buffer_ring_sql,
        rect_from_center_pred_sql,
    )

    slots = (
        "SELECT CAST(doc_id % 37 AS BIGINT) AS device_slot, doc_id, lat, lon, datetime "
        f"FROM ({_PSEL}) q"
    )
    latest = (
        "SELECT device_slot, lat, lon FROM (SELECT device_slot, lat, lon, "
        "ROW_NUMBER() OVER (PARTITION BY device_slot "
        "ORDER BY datetime DESC, lat DESC, lon DESC) AS rn FROM p) t WHERE rn = 1"
    )
    cand = rect_from_center_pred_sql("a.lat", "a.lon", "b.lat", "b.lon", AT_RING_M)
    pir = point_in_buffer_ring_sql(
        "b.lat", "b.lon", "a.lat", "a.lon", AT_RING_M, 12, inclusive=True
    )
    # the trigger fold's (datetime, url) order: ties at a device's
    # minimum datetime break on the url STRING ('doc://<id>'), so only
    # the string-first row takes the last_seen==0 fire
    return (
        f"WITH p AS ({slots}), latest AS ({latest}), "
        "matched AS (SELECT a.doc_id, COUNT(*) AS n_refs FROM p a "
        f"JOIN latest b ON {cand} AND {pir} GROUP BY a.doc_id), "
        "ord AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY device_slot "
        "ORDER BY datetime, CONCAT('doc://', CAST(doc_id AS VARCHAR))) AS rn, "
        "datetime, MIN(datetime) OVER (PARTITION BY device_slot) AS mn FROM p) "
        "SELECT CAST(1 AS BIGINT) AS batch, m.doc_id, m.n_refs FROM matched m "
        "JOIN ord o ON o.doc_id = m.doc_id WHERE o.rn = 1 OR o.datetime > o.mn + 600 "
        "UNION ALL "
        "SELECT CAST(2 AS BIGINT), m.doc_id, m.n_refs FROM matched m "
        "JOIN ord o ON o.doc_id = m.doc_id WHERE o.datetime > o.mn + 600 "
        "ORDER BY batch, doc_id"
    )


def _devices_at_oracle() -> str:
    from spinix_spark.geo.sqlgen import (
        point_in_buffer_ring_sql,
        rect_from_center_pred_sql,
    )

    slots = (
        "SELECT CAST(doc_id % 37 AS BIGINT) AS device_slot, doc_id, lat, lon, datetime "
        f"FROM ({_PSEL}) q"
    )
    latest = (
        "SELECT device_slot, lat, lon FROM (SELECT device_slot, lat, lon, "
        "ROW_NUMBER() OVER (PARTITION BY device_slot "
        "ORDER BY datetime DESC, lat DESC, lon DESC) AS rn FROM p) t WHERE rn = 1"
    )
    cand = rect_from_center_pred_sql("a.lat", "a.lon", "b.lat", "b.lon", AT_RING_M)
    pir = point_in_buffer_ring_sql(
        "b.lat", "b.lon", "a.lat", "a.lon", AT_RING_M, 12, inclusive=True
    )
    return (
        f"WITH p AS ({slots}), latest AS ({latest}) "
        f"SELECT a.doc_id, COUNT(*) AS n_refs FROM p a JOIN latest b "
        f"ON {cand} AND {pir} GROUP BY a.doc_id ORDER BY doc_id"
    )


# oracle for the stateless pipeline: same semantics as rule_composite
DETECT_STATELESS_ORACLE = f"SELECT doc_id FROM ({Q_RULE_COMPOSITE}) q ORDER BY doc_id"

from spinix_spark.io.derive import POINTS_SELECT as _PSEL  # noqa: E402

_SLOTS = (
    f"SELECT CAST(doc_id % 37 AS BIGINT) AS device_slot, datetime FROM ({_PSEL}) p"
)

# once: one fired event per device in batch 1, none in batch 2
DETECT_ONCE_ORACLE = (
    f"SELECT CAST(1 AS BIGINT) AS batch, device_slot, CAST(1 AS BIGINT) AS n_events "
    f"FROM (SELECT DISTINCT device_slot FROM ({_SLOTS}) s) d "
    "ORDER BY batch, device_slot"
)

# times 3: min(3, per-device row count) in batch 1; batch 2 replays the
# SAME cnt rows, so it can fire at most min(cnt, leftover quota 3-cnt)
DETECT_TIMES_ORACLE = (
    f"WITH c AS (SELECT device_slot, COUNT(*) AS cnt FROM ({_SLOTS}) s GROUP BY device_slot) "
    "SELECT CAST(1 AS BIGINT) AS batch, device_slot, "
    "CAST(LEAST(3, cnt) AS BIGINT) AS n_events FROM c "
    "UNION ALL "
    "SELECT CAST(2 AS BIGINT), device_slot, CAST(LEAST(cnt, 3 - cnt) AS BIGINT) "
    "FROM c WHERE cnt < 3 "
    "ORDER BY batch, device_slot"
)

# every 600s: batch 1 = 1 (anchor event) + rows strictly past the
# 600 s delay from the per-device minimum time; batch 2 = only the
# past-delay rows (anchor is carried state). The event-time window
# fold of checkTrigger REPEAT_EVERY.
DETECT_EVERY_ORACLE = (
    "WITH m AS (SELECT device_slot, datetime, "
    f"MIN(datetime) OVER (PARTITION BY device_slot) AS mn FROM ({_SLOTS}) s), "
    "a AS (SELECT device_slot, "
    "SUM(CASE WHEN datetime > mn + 600 THEN 1 ELSE 0 END) AS late FROM m "
    "GROUP BY device_slot) "
    "SELECT CAST(1 AS BIGINT) AS batch, device_slot, CAST(1 + late AS BIGINT) AS n_events FROM a "
    "UNION ALL "
    "SELECT CAST(2 AS BIGINT), device_slot, CAST(late AS BIGINT) FROM a WHERE late > 0 "
    "ORDER BY batch, device_slot"
)

# oracles for the #3/#6/#17 pipeline queries — generated from the SAME
# constants/ring constructions as the kernel (bit-identical vertices)
def _dd_membership_oracle() -> str:
    import numpy as np

    from spinix_spark.geo.rings import circle_ring
    from spinix_spark.geo.sqlgen import point_in_ring_sql

    ring = circle_ring(X1_POS[0], X1_POS[1], DD_RING_M, 12)
    pir = point_in_ring_sql(
        "lat", "lon", [(float(a), float(b)) for a, b in np.asarray(ring)],
        inclusive=True,
    )
    slots = ", ".join(str(s) for s in MEMBER_SLOTS)
    return (
        f"SELECT doc_id FROM ({_PSEL}) p "
        f"WHERE (doc_id % 37) IN ({slots}) AND {pir} ORDER BY doc_id"
    )


def _equal_devices_oracle() -> str:
    from spinix_spark.geo.geodesy import MIN_DIST_METERS
    from spinix_spark.geo.sqlgen import haversine_sql, round50_sql

    def pred(pos):
        d = round50_sql(
            haversine_sql("lat", "lon", repr(pos[0]), repr(pos[1])),
            MIN_DIST_METERS,
        )
        return f"({d} < CAST(1000.0 AS DOUBLE))"

    p1, p2 = pred(X1_POS), pred(X2_POS)
    # last-candidate-wins Ok (x2); refs = satisfied candidates
    return (
        "SELECT doc_id, CAST((CASE WHEN "
        + p1
        + " THEN 1 ELSE 0 END) + (CASE WHEN "
        + p2
        + " THEN 1 ELSE 0 END) AS BIGINT) AS n_refs "
        f"FROM ({_PSEL}) p WHERE {p2} ORDER BY doc_id"
    )


DETECT_WEEKDAY_ORACLE = (
    f"SELECT doc_id FROM ({_PSEL}) p "
    "WHERE dayname(to_timestamp(datetime)) = 'Wednesday' ORDER BY doc_id"
)

# 2023-11-14T23:00:00Z .. 2023-11-15T08:00:00Z, boundary-inclusive
DETECT_RANGE_DT_ORACLE = (
    f"SELECT doc_id FROM ({_PSEL}) p "
    "WHERE datetime >= 1700002800 AND datetime <= 1700035200 ORDER BY doc_id"
)

# --- spObjectOp at the dateline / pole through the RULE ENGINE -----------
# Round-6: the zone_join_dateline/zone_join_polar gates verify the
# shared framed-PIP SQL; these two verify the same geometry through
# detect_batch_spark — the kernel zone predicates (framed
# zone_intersects_point, framed _zone_prefilter) — against an
# independent DuckDB oracle with framed lons (inclusive PIP, matching
# the kernel's boundary semantics).

_DATELINE_ZONE_IDS = ["e1", "e2", "e3", "e4"]
_POLAR_ZONE_IDS = ["f1", "f2", "f3"]


def _xid(prefix: str) -> str:
    return prefix + "0" * (20 - len(prefix))


def _world_zone_rings(world: str) -> dict[str, list]:
    from spinix_spark.queries_geo import DATELINE_ZONES, POLAR_ZONES

    if world == "dateline":
        return {
            _xid(x): ring
            for x, ring in zip(_DATELINE_ZONE_IDS, DATELINE_ZONES.values())
        }
    return {
        _xid(x): ring for x, ring in zip(_POLAR_ZONE_IDS, POLAR_ZONES.values())
    }


def _detect_zone_world(
    spark: SparkSession, sf_dir: str, world: str, rule_id: str
) -> DataFrame:
    import numpy as np

    from spinix_spark.queries_geo import _LON_SHIFTED, _POLAR_LAT, _POLAR_LON

    zones = _world_zone_rings(world)
    engine = Engine()
    for zid, ring in zones.items():
        engine.zones.add(zone_from_ring(zid, np.array(ring)))
    center = "42.9425 180.0" if world == "dateline" else "89.996 0.0"
    engine.add_rule(
        f"device INTERSECTS polygon({', '.join(zones)})"
        f" {{ :center {center} :radius 50km }}",
        rule_id=rule_id,
    )
    pts = _points_as_devices(spark, sf_dir)
    if world == "dateline":
        pts = pts.withColumn("lon", F.expr(_LON_SHIFTED))
    else:
        # withColumns: both expressions read the ORIGINAL lat/lon row
        pts = pts.withColumns(
            {"lat": F.expr(_POLAR_LAT), "lon": F.expr(_POLAR_LON)}
        )
    ev, _ = split_output(detect_batch_spark(pts, engine))
    return (
        ev.where(F.col("op") == "INTERSECTS")
        .select(
            F.regexp_extract("url", r"doc://(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.explode("right_refs").alias("zone_id"),
        )
        .orderBy("doc_id", "zone_id")
    )


def detect_zone_dateline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #1 spObjectOp with polygon zones STRADDLING ±180° through
    the real pipeline (framed kernel PIP, framed prefilters, framed
    add_rule expansion)."""
    return _detect_zone_world(spark, sf_dir, "dateline", "r" + "a" * 19)


def detect_zone_polar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op #1 spObjectOp with pole-adjacent polygon zones; the rule's
    50 km geofence circle CROSSES the pole (pole-aware rule bbox) and
    the point cloud fans the full longitude circle."""
    return _detect_zone_world(spark, sf_dir, "polar", "r" + "b" * 19)


def _zone_world_oracle(world: str) -> str:
    from spinix_spark.geo.sqlgen import lon_frame_sql, point_in_ring_sql
    from spinix_spark.queries_geo import _LON_SHIFTED, _POLAR_LAT, _POLAR_LON

    if world == "dateline":
        inner = (
            f"SELECT doc_id, lat, {_LON_SHIFTED} AS lon FROM ({_PSEL}) p"
        )
    else:
        inner = (
            f"SELECT doc_id, {_POLAR_LAT} AS lat, {_POLAR_LON} AS lon"
            f" FROM ({_PSEL}) p"
        )
    parts = []
    for zid, ring in _world_zone_rings(world).items():
        lons = [p[1] for p in ring]
        mid = (min(lons) + max(lons)) / 2.0
        parts.append(
            f"SELECT doc_id, '{zid}' AS zone_id FROM ({inner}) s WHERE "
            + point_in_ring_sql(
                "lat", lon_frame_sql("lon", repr(mid)), ring, inclusive=True
            )
        )
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts)
        + ") ORDER BY doc_id, zone_id"
    )


# --- dwell gates (op exceeds the reference: runtime.fold_state) ---------
# ``:time duration|after`` evaluation is flag-gated (Engine(eval_dwell=
# True)); the reference parses the suffix and marks the rule stateful
# (runtime.go:270-285) but never calls State.LastVisit/SetLastVisit
# (state.go:237-247). The gate zone is a rectangle whose east edge sits
# BETWEEN the derived lon grid points (grid step 1e-5), so no event ever
# lands exactly on the boundary; it covers the western half of the
# derived point field (~50% hit rate), giving real visit open/clear
# churn per device. Two batches with visits-state carry (the second
# replays the same rows against the carried visit map).

DWELL_ID = "c5vj26evvhfjvfseaumd"
DWELL_RECT = [
    (42.90, -72.33),
    (42.90, -72.270005),
    (42.97, -72.270005),
    (42.97, -72.33),
]
DWELL_S = 600


def _detect_dwell(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    import numpy as np

    engine = Engine(eval_dwell=True)
    engine.zones.add(zone_from_ring(DWELL_ID, np.array(DWELL_RECT)))
    engine.add_rule(
        f"device intersects polygon({DWELL_ID}) :time {kind} {DWELL_S}s"
        " { :center 42.935 -72.27 :radius 50km }",
        rule_id="r" + ("6" if kind == "duration" else "7") * 19,
    )
    pts = _points_as_devices(spark, sf_dir)
    ev1, st1 = split_output(detect_batch_spark(pts, engine))
    st1 = merge_states(None, st1).cache()
    c1 = _event_counts(ev1, 1)
    ev2, _ = split_output(detect_batch_spark(pts, engine, states=st1))
    c2 = _event_counts(ev2, 2)
    return c1.unionAll(c2).orderBy("batch", "device_slot")


def detect_dwell_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``:time duration 600s`` (level-triggered dwell): an event
    matches iff the device is in the zone AND its current uninterrupted
    visit opened >= 600 s ago. Kernel-path sequential fold; visit state
    carried between the two batches as a JSON map column."""
    return _detect_dwell(spark, sf_dir, "duration")


def detect_dwell_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``:time after 600s`` (edge-triggered dwell): only the FIRST
    event of each visit past the 600 s threshold matches; the fired
    mark rides the visit state (sign-encoded first_visit)."""
    return _detect_dwell(spark, sf_dir, "after")


def _dwell_oracle(edge: bool) -> str:
    """Sequential visit fold unrolled to window SQL: grp = running
    count of misses (a visit = one maximal hit run), first_visit = the
    datetime of the group's first-IN-FOLD-ORDER hit row (row_number
    arg-min — NOT MIN(datetime): batch 2 replays smaller datetimes
    into a visit carried open across the batch boundary), qual =
    hit AND t - first_visit >= D; ``after`` additionally keeps only
    each visit's first qualifying row (running qual count = 1)."""
    from spinix_spark.geo.sqlgen import point_in_ring_sql

    ring = [(float(a), float(b)) for a, b in DWELL_RECT + DWELL_RECT[:1]]
    pir = point_in_ring_sql("lat", "lon", ring, inclusive=True)
    base = (
        "WITH p AS (SELECT doc_id, CAST(doc_id % 37 AS BIGINT) AS device_slot, "
        f"lat, lon, datetime, (CASE WHEN {pir} THEN 1 ELSE 0 END) AS hit "
        f"FROM ({_PSEL}) q0), "
        "seq AS (SELECT 1 AS batch, * FROM p UNION ALL SELECT 2, * FROM p), "
        "g AS (SELECT *, SUM(CASE WHEN hit = 0 THEN 1 ELSE 0 END) OVER "
        "(PARTITION BY device_slot ORDER BY batch, datetime "
        "ROWS UNBOUNDED PRECEDING) AS grp, "
        "ROW_NUMBER() OVER (PARTITION BY device_slot ORDER BY batch, datetime) AS rn "
        "FROM seq), "
        "v AS (SELECT *, MIN(CASE WHEN hit = 1 THEN rn END) OVER "
        "(PARTITION BY device_slot, grp) AS frn FROM g), "
        "v2 AS (SELECT *, MAX(CASE WHEN rn = frn THEN datetime END) OVER "
        "(PARTITION BY device_slot, grp) AS fv FROM v), "
        f"q AS (SELECT *, (hit = 1 AND datetime - fv >= {DWELL_S}) AS qual FROM v2)"
    )
    tail = (
        " SELECT CAST(batch AS BIGINT) AS batch, device_slot, "
        "COUNT(*) AS n_events FROM {src} WHERE {cond} "
        "GROUP BY batch, device_slot ORDER BY batch, device_slot"
    )
    if not edge:
        return base + tail.format(src="q", cond="qual")
    return (
        base
        + ", e AS (SELECT *, SUM(CASE WHEN qual THEN 1 ELSE 0 END) OVER "
        "(PARTITION BY device_slot, grp ORDER BY batch, datetime "
        "ROWS UNBOUNDED PRECEDING) AS qn FROM q)"
        + tail.format(src="e", cond="qual AND qn = 1")
    )


DETECT_QUERIES: dict[str, tuple] = {
    "detect_pipeline": (detect_stateless, DETECT_STATELESS_ORACLE),
    "detect_zone_dateline": (detect_zone_dateline, _zone_world_oracle("dateline")),
    "detect_zone_polar": (detect_zone_polar, _zone_world_oracle("polar")),
    "detect_stateful_trigger": (detect_stateful_trigger, DETECT_ONCE_ORACLE),
    "detect_trigger_times": (detect_trigger_times, DETECT_TIMES_ORACLE),
    "detect_trigger_every": (detect_trigger_every, DETECT_EVERY_ORACLE),
    "detect_devices_at": (detect_devices_at, _devices_at_oracle()),
    "detect_devices_at_stateful": (
        detect_devices_at_stateful,
        _devices_at_stateful_oracle(),
    ),
    "detect_dd_membership": (detect_dd_membership, _dd_membership_oracle()),
    "detect_equal_devices": (detect_equal_devices, _equal_devices_oracle()),
    "detect_devices_object": (detect_devices_object, _devices_object_oracle()),
    "detect_dwell_duration": (detect_dwell_duration, _dwell_oracle(False)),
    "detect_dwell_after": (detect_dwell_after, _dwell_oracle(True)),
    "detect_range_datetime": (detect_range_datetime, DETECT_RANGE_DT_ORACLE),
    "detect_weekday_eq": (detect_weekday_eq, DETECT_WEEKDAY_ORACLE),
}
