"""Antimeridian + pole correctness (round-5 headline, SURVEY §2B.1).

The no-false-negative prefilter invariant must hold GLOBALLY: a
dateline-straddling or pole-crossing true pair must survive the cell
prefilter and be decided by the exact predicate. Ground truth is the
O(n²) trig oracle (brute haversine over all pairs) — fixture distances
avoid the polygonized-circle ambiguity band (inradius 300·cos15° ≈
289.8 m .. circumradius 300 m), so the 12-gon verb and the spherical
circle agree on every fixture pair.

Covers: GridScheme wrap/reflect (cells.py), the kernel's framed rect +
polar widening + geodesic polar verb (runtime.py), the pair-join path
(devices_at.py) and near_pairs at every salt count — both through the
one cell pair join (joins.cell_pair_candidates: wrapped k-ring +
polar-band and polar-cap keys) — and the rule bbox gate for rules
centered at ±180° in both forms — SQL (spark_pipeline._bbox_pred) and
NumPy (detect.rule_gate_mask, on the kernel and keyed-stream
surfaces).

Reference invariant: devices.go:166-199 (index pruning must admit
every true candidate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
from spinix_spark.geo.cells import GridScheme
from spinix_spark.geo.geodesy import haversine_m, lon_to_frame

LAYER = "0" * 20
RADIUS_M = 300.0
# polygonized 12-gon vs true circle disagree only in this distance
# band — fixtures must not put any pair inside it
AMBIG_LO, AMBIG_HI = 270.0, 320.0


# --- fixture worlds ------------------------------------------------------


def _world_dateline():
    """Batch points and snapshot devices straddling ±180° at lat 10."""
    snap = [
        ("s" + "0" * 19, 10.0, 179.9995),
        ("s" + "1" * 19, 10.0, -179.9995),
        ("s" + "2" * 19, 10.0, -179.9960),
    ]
    points = [
        ("pe", "d" + "0" * 18 + "1", 10.0, 179.9988),
        ("pw", "d" + "0" * 18 + "2", 10.0, -179.9992),
        ("pf", "d" + "0" * 18 + "3", 10.0, 179.9600),
    ]
    rule = (
        f"device :radius {int(RADIUS_M)}m intersects devices(@)"
        " { :center 10.0 179.99 :radius 50km }"
    )
    return points, snap, rule


def _world_pole():
    """Batch points and snapshot devices around the north pole."""
    snap = [
        ("s" + "0" * 19, 89.9995, 0.0),
        ("s" + "1" * 19, 89.9995, 180.0),
        ("s" + "2" * 19, 89.9950, 90.0),
    ]
    points = [
        ("p0", "d" + "0" * 18 + "1", 89.9996, 0.0),
        ("p1", "d" + "0" * 18 + "2", 89.9994, 179.9),
    ]
    rule = (
        f"device :radius {int(RADIUS_M)}m intersects devices(@)"
        " { :center 89.99 0.0 :radius 50km }"
    )
    return points, snap, rule


def _points_df(spark, points):
    pdf = pd.DataFrame(
        {
            "url": [p[0] for p in points],
            "device_id": [p[1] for p in points],
            "layer_id": [LAYER] * len(points),
            "lat": [p[2] for p in points],
            "lon": [p[3] for p in points],
            "datetime": [1700000000 + i for i in range(len(points))],
            "speed": [50.0] * len(points),
            "status": [1] * len(points),
        }
    )
    return spark.createDataFrame(pdf).repartition(3), pdf


def _snap_rows(snap):
    return [
        {
            "device_id": sid,
            "layer_id": LAYER,
            "lat": lat,
            "lon": lon,
            "datetime": 1690000000,
        }
        for sid, lat, lon in snap
    ]


def _brute_oracle(points, snap):
    """O(n²) trig ground truth: url -> sorted matched snapshot ids."""
    out = {}
    for url, _, plat, plon in points:
        hits = []
        for sid, slat, slon in snap:
            d = float(haversine_m(plat, plon, slat, slon))
            assert not (AMBIG_LO < d < AMBIG_HI), (
                f"fixture pair {url}-{sid} at {d:.1f} m sits in the "
                "polygon/circle ambiguity band — move it"
            )
            if d <= RADIUS_M:
                hits.append(sid)
        out[url] = tuple(sorted(hits))
    return out


def _events_sets(events_df):
    return {
        r.url: tuple(sorted(r.right_refs or [])) for r in events_df.collect()
    }


def _reference_sets(eng, pdf):
    """_events_sets of the sequential reference, Engine.detect_batch."""
    return {
        e["url"]: tuple(sorted(r for m in e["matches"] for r in m["right_refs"] or []))
        for e in eng.detect_batch(pdf).to_dict("records")
    }


@pytest.mark.parametrize("world", [_world_dateline, _world_pole])
def test_at_global_worlds(spark, world):
    points, snap, rule = world()
    pts_df, _ = _points_df(spark, points)
    snap_rows = _snap_rows(snap)
    oracle = _brute_oracle(points, snap)
    # every world must have a straddling/cross match AND a non-match
    assert any(len(v) >= 2 for v in oracle.values())

    eng_k = Engine()
    for row in snap_rows:
        eng_k.devices.insert_or_replace(row)
    eng_k.add_rule(rule, rule_id="r" + "5" * 19)
    ev_kernel, _ = split_output(detect_batch_spark(pts_df, eng_k))
    kernel = _events_sets(ev_kernel)

    eng_j = Engine()
    eng_j.add_rule(rule, rule_id="r" + "5" * 19)
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_join, _ = split_output(
        detect_batch_spark(pts_df, eng_j, devices_df=devices_df)
    )
    join = _events_sets(ev_join)

    expected = {u: refs for u, refs in oracle.items() if refs}
    assert kernel == expected, f"kernel {kernel} != oracle {expected}"
    assert join == expected, f"join {join} != oracle {expected}"


def _world_dateline_refs():
    """Explicit-refs variant of the dateline world: the rule names the
    snapshot devices instead of ``@`` (plan-time-constant candidate
    rings; the kernel frames each row's lon into the candidate's
    frame)."""
    points, snap, _ = _world_dateline()
    ids = ", ".join(s[0] for s in snap)
    rule = (
        f"device NEAR devices({ids}) :radius {int(RADIUS_M)}m"
        " { :center 10.0 179.99 :radius 50km }"
    )
    return points, snap, rule


def _world_pole_refs():
    """Explicit-refs polar world: pole-crossing candidate circles are
    decided geodesically (kernel _dd_verb_mask polar override)."""
    points, snap, _ = _world_pole()
    ids = ", ".join(s[0] for s in snap)
    rule = (
        f"device NEAR devices({ids}) :radius {int(RADIUS_M)}m"
        " { :center 89.99 0.0 :radius 50km }"
    )
    return points, snap, rule


@pytest.mark.parametrize("world", [_world_dateline_refs, _world_pole_refs])
def test_explicit_refs_global_worlds_vs_oracle(spark, world):
    """Explicit-refs device rules at the dateline and poles take the
    kernel stage (no spatial verb compiles to Catalyst); it and
    Engine.detect_batch must agree with the brute oracle."""
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    points, snap, rule = world()
    pts_df, pdf = _points_df(spark, points)
    oracle = _brute_oracle(points, snap)
    assert any(len(v) >= 2 for v in oracle.values())

    def engine():
        eng = Engine()
        for row in _snap_rows(snap):
            eng.devices.insert_or_replace(row)
        eng.add_rule(rule, rule_id="r" + "6" * 19)
        return eng

    eng = engine()
    assert try_compile_rule_sql(eng, eng.rules["r" + "6" * 19]) is None, rule
    ev, _ = split_output(detect_batch_spark(pts_df, eng))
    expected = {u: refs for u, refs in oracle.items() if refs}
    assert _events_sets(ev) == expected, f"kernel {_events_sets(ev)} != {expected}"
    reference = _reference_sets(engine(), pdf)
    assert reference == expected, f"reference {reference} != {expected}"


# --- spObjectOp (point device vs polygon zones) at the dateline/pole -----


ZRAD = 200.0
# hexagon polygon vs true-disc oracle agree only outside
# [r·cos(π/6), r] — fixtures must avoid [173.2, 200] m
ZAMBIG_LO, ZAMBIG_HI = ZRAD * 0.8660, ZRAD


def test_zone_rule_dateline_kernel_vs_oracle(spark, tmp_path):
    """spObjectOp point-vs-polygon across ±180°: the kernel's framed
    zone PIP (zone_intersects_point + framed _zone_prefilter) on
    detect_batch_spark and the keyed stream (framed rule_gate_mask),
    and Engine.detect_batch must all match the true-disc oracle;
    matches must straddle the line in both directions. The rule does
    not compile to Catalyst."""
    from spinix_spark.engine.sql_compile import try_compile_rule_sql
    from spinix_spark.engine.stores import zone_from_ring
    from spinix_spark.geo.rings import circle_ring
    from spinix_spark.streaming.keyed_detect import keyed_stream_detect

    zones = {
        "a1" + "0" * 18: (10.0, -179.9995),  # west-side zone
        "b1" + "0" * 18: (10.02, 179.9995),  # east-side zone
    }
    pts = [
        ("pe1", 10.0, 179.9996),    # 99 m from zw, ACROSS the line
        ("pw1", 10.0, -179.9990),   # 55 m from zw, same side
        ("pf1", 10.0, 179.9975),    # 329 m from zw — outside
        ("pw2", 10.02, -179.9996),  # 98 m from ze, ACROSS the line
        ("pe2", 10.02, 179.9991),   # 48 m from ze, same side
    ]
    # disc oracle valid: no (point, zone) distance in the ambiguity band
    oracle: dict[str, tuple] = {}
    for url, plat, plon in pts:
        hits = []
        for zid, (zlat, zlon) in zones.items():
            d = float(haversine_m(plat, plon, zlat, zlon))
            assert not (ZAMBIG_LO < d < ZAMBIG_HI), (url, zid, d)
            if d <= ZRAD:
                hits.append(zid)
        oracle[url] = tuple(sorted(hits))
    assert oracle["pe1"] and oracle["pw2"]  # straddling in BOTH directions

    points = [(u, f"d{i:019d}", la, lo) for i, (u, la, lo) in enumerate(pts)]
    pts_df, pdf = _points_df(spark, points)
    zone_ids = ", ".join(zones)
    rule = (
        f"device INTERSECTS polygon({zone_ids})"
        " { :center 10.01 179.9995 :radius 50km }"
    )
    results = {}
    for surface in ("kernel", "reference", "keyed"):
        eng = Engine()
        for zid, (zlat, zlon) in zones.items():
            eng.zones.add(
                zone_from_ring(zid, circle_ring(zlat, zlon, ZRAD, 6),
                               layer_id=LAYER)
            )
        r = eng.add_rule(rule, rule_id="r" + "7" * 19)
        if surface == "keyed":
            src = str(tmp_path / "keyed_src")
            pts_df.write.parquet(src)
            stream = spark.readStream.schema(pts_df.schema).parquet(src)
            rows = []
            q = (
                keyed_stream_detect(stream, eng)
                .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            results[surface] = {
                x.url: tuple(sorted(x.right_refs or [])) for x in rows
            }
            continue
        if surface == "reference":
            results[surface] = _reference_sets(eng, pdf)
            continue
        assert try_compile_rule_sql(eng, r) is None, rule
        ev, _ = split_output(detect_batch_spark(pts_df, eng))
        results[surface] = _events_sets(ev)

    expected = {u: refs for u, refs in oracle.items() if refs}
    for surface, got in results.items():
        assert got == expected, f"{surface} {got} != {expected}"


def test_zone_rule_polar_kernel_vs_reference(spark):
    """spObjectOp point-vs-polygon with a pole-adjacent zone: planar
    polygon semantics (reference parity — the hexagon at lat 89.996 is
    heavily lon-distorted, so the oracle is hand-placed memberships,
    not a disc) on the kernel stage and in Engine.detect_batch."""
    from spinix_spark.engine.stores import zone_from_ring
    from spinix_spark.geo.rings import circle_ring

    zid = "c1" + "0" * 18
    zlat, zlon = 89.996, 150.0
    pts = [
        ("pin", 89.9965, 150.0),    # 55 m north on the center meridian
        ("pout", 89.9975, -30.0),   # far side of the pole, ~723 m
        ("pmid", 89.996, 149.0),    # 1° of lon ≈ 7.8 m — inside
    ]
    points = [(u, f"e{i:019d}", la, lo) for i, (u, la, lo) in enumerate(pts)]
    pts_df, pdf = _points_df(spark, points)
    rule = (
        f"device INTERSECTS polygon({zid})"
        " { :center 89.996 150.0 :radius 50km }"
    )

    def engine():
        eng = Engine()
        eng.zones.add(
            zone_from_ring(zid, circle_ring(zlat, zlon, ZRAD, 6),
                           layer_id=LAYER)
        )
        eng.add_rule(rule, rule_id="r" + "8" * 19)
        return eng

    ev, _ = split_output(detect_batch_spark(pts_df, engine()))
    expected = {"pin": (zid,), "pmid": (zid,)}
    assert _events_sets(ev) == expected, _events_sets(ev)
    assert _reference_sets(engine(), pdf) == expected


def test_buffered_device_vs_zone_dateline(spark):
    """BUFFERED devices vs a zone across ±180° (kernel path — buffered
    devices never compile to Catalyst): ``:radius`` exercises the framed
    ring-ring intersect (zone_intersects_poly), ``:bbox`` + IN the
    framed rect containment (zone_within_rect). Distances avoid the
    polygonized ambiguity band of the 12-gon+hexagon sum
    ([463, 500] m for 300+200)."""
    from spinix_spark.engine.stores import zone_from_ring
    from spinix_spark.geo.rings import circle_ring

    zid = "g1" + "0" * 18
    zlat, zlon = 10.0, -179.9995
    pts = [
        ("bi", 10.0, 179.9985),   # 219 m across the line → intersects
        ("bo", 10.0, 179.9915),   # 986 m → no
        ("bs", 10.0, -179.9975),  # 219 m same side → intersects
    ]
    points = [(u, f"h{i:019d}", la, lo) for i, (u, la, lo) in enumerate(pts)]
    pts_df, _ = _points_df(spark, points)

    def run(rule, rid):
        eng = Engine()
        eng.zones.add(
            zone_from_ring(zid, circle_ring(zlat, zlon, 200.0, 6),
                           layer_id=LAYER)
        )
        eng.add_rule(rule, rule_id=rid)
        ev, _ = split_output(detect_batch_spark(pts_df, eng))
        return _events_sets(ev)

    got = run(
        f"device :radius 300m INTERSECTS polygon({zid})"
        " { :center 10.0 179.9995 :radius 50km }",
        "r" + "c" * 19,
    )
    assert got == {"bi": (zid,), "bs": (zid,)}, got

    # :bbox 600 m rect CONTAINS the framed zone bbox → IN fires across
    # the line (device rect lon span ±~0.0055°, zone interval framed
    # to [179.9987, 180.0023])
    got_in = run(
        f"device :bbox 600m IN polygon({zid})"
        " { :center 10.0 179.9995 :radius 50km }",
        "r" + "d" * 19,
    )
    assert got_in == {"bi": (zid,), "bs": (zid,)}, got_in


def test_at_dateline_both_sides_match(spark):
    """The VERDICT done-criterion: devices on BOTH sides of ±180° fire,
    with cross-dateline refs in each direction."""
    points, snap, rule = _world_dateline()
    oracle = _brute_oracle(points, snap)
    assert "s" + "1" * 19 in oracle["pe"]  # east point → west device
    assert "s" + "0" * 19 in oracle["pw"]  # west point → east device
    assert oracle["pf"] == ()


# --- near_pairs (every salt count) vs brute haversine ------------------


def _brute_pairs(ids, lat, lon, radius_m):
    out = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j]:
                if float(haversine_m(lat[i], lon[i], lat[j], lon[j])) <= radius_m:
                    out.add((ids[i], ids[j]))
    return out


NEAR_WORLD = [
    # dateline pair at lat 10 (110 m apart)
    (1, 10.0, 179.9995),
    (2, 10.0, -179.9995),
    # high-latitude pair: Δlon = 0.012° at lat 80 → 232 m, needs
    # klon=2 at res 9 (a constant k=1 ring silently misses it)
    (3, 80.0, 10.000),
    (4, 80.0, 10.012),
    # cross-pole pair (222 m over the pole)
    (5, 89.999, 0.0),
    (6, 89.999, 180.0),
    # isolated point
    (7, 40.0, -100.0),
    # plain mid-lat pair
    (8, 42.0, 7.0000),
    (9, 42.0, 7.0015),
    # pair STRADDLING the polar band edge (res 9 / 250 m: band starts
    # at row 17919 ≈ lat 89.19 — one partner keys by grid cell, the
    # other by (ring, sector); ~111 m apart)
    (10, 89.1895, 50.0),
    (11, 89.1905, 50.004),
    # pair fully INSIDE the band but outside the polar cap (~45 m)
    (12, 89.5000, -10.0),
    (13, 89.5004, -10.0),
    # band-interior non-pair (same ring, far apart in azimuth)
    (14, 89.5000, 80.0),
    # SOUTH cross-pole pair (~222 m over the south pole — distinct
    # code path: CAP_SOUTH_KEY / POLAR_SOUTH_BASE)
    (15, -89.999, 90.0),
    (16, -89.999, -90.0),
    # south band-interior pair (~45 m)
    (17, -89.5000, 120.0),
    (18, -89.5004, 120.0),
]


@pytest.mark.parametrize("n_salt", [0, 1, 3, 8])
def test_near_pairs_global(spark, n_salt):
    from spinix_spark.engine.joins import near_pairs

    scheme = GridScheme(res=9)
    ids = [w[0] for w in NEAR_WORLD]
    lat = np.array([w[1] for w in NEAR_WORLD])
    lon = np.array([w[2] for w in NEAR_WORLD])
    pdf = pd.DataFrame({"doc_id": ids, "lat": lat, "lon": lon})
    pdf["cell"] = scheme.cell_of(lat, lon)
    df = spark.createDataFrame(pdf).repartition(3)
    radius = 250.0
    got = {
        (r.a_id, r.b_id)
        for r in near_pairs(df, scheme, radius, n_salt).collect()
    }
    exp = _brute_pairs(ids, lat, lon, radius)
    assert got == exp, f"n_salt={n_salt}: {got} != {exp}"
    # the world must actually exercise all the hard cases
    assert (1, 2) in exp and (3, 4) in exp and (5, 6) in exp
    assert (10, 11) in exp and (12, 13) in exp  # polar band edge/interior
    assert (15, 16) in exp and (17, 18) in exp  # south cap / south band


def test_polar_band_key_width_bounded(spark):
    """Round-6 VERDICT #1 done-criterion: the per-row k-ring key
    fan-out is BOUNDED near the poles (≤ 100 for the polar gate's
    parameters) — the pre-round-6 asin-widened column span reached
    ~50 k keys for rows at lat 89.99+. Also pins that the band is
    actually active for this (scheme, radius)."""
    from spinix_spark.engine.joins import _with_neighbor_cells, polar_band_rows

    scheme = GridScheme(res=9)
    assert polar_band_rows(scheme, 250.0) > 0
    lats = [0.0, 45.0, 84.5, 88.9, 89.0, 89.18, 89.2, 89.5, 89.9,
            89.99, 89.995, 89.9985, -89.99, -89.2, -89.9985]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(lats)),
            "lat": lats,
            "lon": [(-180.0 + 37.0 * i) % 360.0 - 180.0 for i in range(len(lats))],
        }
    )
    pdf["cell"] = scheme.cell_of(
        pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    )
    df = spark.createDataFrame(pdf)
    keyed = _with_neighbor_cells(
        df.selectExpr("doc_id", "lat as a_lat", "lon as a_lon", "cell"),
        scheme, "cell", 250.0, lat_col="a_lat",
    )
    widths = {
        r["doc_id"]: r["n"]
        for r in keyed.groupBy("doc_id").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert max(widths.values()) <= 100, widths
    # mid-latitude rows keep the exact 3×3 shape (radius < cell size)
    assert widths[0] == 9, widths


# --- grid scheme unit coverage ------------------------------------------


def test_cell_of_canonical():
    g = GridScheme(res=8)
    assert g.cell_of(10.0, 180.0)[()] == g.cell_of(10.0, -180.0)[()]
    assert g.cell_of(10.0, 190.0)[()] == g.cell_of(10.0, -170.0)[()]
    # lat 90 clamps into the top row
    top = int(g.cell_of(90.0, 0.0)[()])
    assert (top - g.base) // g.cols == g.rows - 1


def test_kring_wraps_dateline():
    g = GridScheme(res=8)
    east = int(g.cell_of(10.0, 179.995)[()])
    west = int(g.cell_of(10.0, -179.995)[()])
    assert west in g.kring(east, 1)
    assert east in g.kring(west, 1)
    assert len(g.kring(east, 1)) == 9


def test_kring_reflects_pole():
    g = GridScheme(res=8)
    top = int(g.cell_of(89.999, 0.0)[()])
    kr = g.kring(top, 1)
    # row below (3 cols) + top row reflected to ALL columns (the 3
    # in-range top-row cells dedupe into it)
    assert len(kr) == 3 + g.cols
    # the reflected side: the top-row cell at the opposite lon
    opposite = int(g.cell_of(89.999, 180.0)[()])
    assert opposite in kr


def test_cover_bbox_unnormalized_lons():
    g = GridScheme(res=8)
    cov = g.cover_bbox(9.99, 179.98, 10.01, 180.02)
    a = int(g.cell_of(10.0, 179.995)[()])
    b = int(g.cell_of(10.0, -179.995)[()])
    assert a in cov and b in cov


def test_sql_cell_expr_matches_numpy_on_edges():
    import duckdb

    g = GridScheme(res=8)
    lats = [10.0, 89.999, -89.999, 0.0, 45.5, 90.0, -90.0]
    lons = [179.995, -179.995, 180.0, -180.0, 0.02, 190.0, -190.0]
    rows = [(la, lo) for la in lats for lo in lons]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {g.sql_cell_expr('lat', 'lon')} FROM t"
        ).fetchall()
    ]
    assert duck == [int(g.cell_of(la, lo)[()]) for la, lo in rows]


def test_devices_store_near_dateline():
    """Devices.Near (op #23): the search rect overflows ±180° and must
    still return the neighbor on the far side."""
    from spinix_spark.engine.stores import DeviceSnapshot

    store = DeviceSnapshot()
    for did, lat, lon in [
        ("a" + "0" * 19, 10.0, 179.9995),
        ("b" + "0" * 19, 10.0, -179.9995),
        ("c" + "0" * 19, 10.0, -179.9000),
    ]:
        store.insert_or_replace(
            {"device_id": did, "layer_id": LAYER, "lat": lat, "lon": lon,
             "datetime": 1}
        )
    got = {d["device_id"] for d in store.near(10.0, 179.9990, 300.0)}
    assert "b" + "0" * 19 in got  # across the dateline
    assert "a" + "0" * 19 in got
    assert "c" + "0" * 19 not in got  # 11 km away


def test_devices_store_near_pole():
    """Devices.Near with a pole-crossing search disc admits the
    cross-pole neighbor (polar band widening — the asin-clamped rect
    alone cannot reach the far-side longitude)."""
    from spinix_spark.engine.stores import DeviceSnapshot

    store = DeviceSnapshot()
    store.insert_or_replace(
        {"device_id": "p" + "0" * 19, "layer_id": LAYER,
         "lat": 89.9995, "lon": 180.0, "datetime": 1}
    )
    got = {d["device_id"] for d in store.near(89.9995, 0.0, 300.0)}
    assert "p" + "0" * 19 in got  # ~111 m over the pole


def test_zones_store_near_pole():
    from spinix_spark.engine.stores import ZoneStore, zone_from_ring
    from spinix_spark.geo.rings import circle_ring

    zs = ZoneStore()
    ring = circle_ring(89.9995, 180.0, 100.0, 6)
    zs.add(zone_from_ring("q" + "0" * 19, ring, layer_id=LAYER))
    got = zs.near(LAYER, 89.9995, 0.0, 300.0)
    assert [z.object_id for z in got] == ["q" + "0" * 19]


def test_zones_store_near_dateline():
    """Objects.Near (op #24): query rect overflowing ±180° finds a
    zone registered on the far side (zones never cross the line —
    RFC 7946 split convention)."""
    from spinix_spark.engine.stores import ZoneStore, zone_from_ring
    from spinix_spark.geo.rings import circle_ring

    zs = ZoneStore()
    ring = circle_ring(10.0, -179.999, 200.0, 6)
    zs.add(zone_from_ring("z" + "0" * 19, ring, layer_id=LAYER))
    got = zs.near(LAYER, 10.0, 179.9995, 300.0)
    assert [z.object_id for z in got] == ["z" + "0" * 19]
    assert zs.near(LAYER, 10.0, 179.0, 300.0) == []


def test_near_pairs_plan_single_generate_per_side(spark):
    """Plan-shape pin for the round-5 perf fix: the k-ring key set is
    ONE per-row array exploded ONCE per side. The regression this
    guards against — chaining two sequence-explodes — measured 1.7×
    slower (each Generate is a codegen stage break; PLANS.md). Expected
    Generates in near_pairs_salted: left keys, right probe keys, right
    salt fan-out = 3 total (a left row takes one salt, it is never
    replicated); plain near_pairs: left keys + right probe keys = 2."""
    from spinix_spark.engine.joins import near_pairs, near_pairs_salted

    scheme = GridScheme(res=9)
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "lat": [10.0, 10.001, 40.0],
         "lon": [7.0, 7.001, -100.0]}
    )
    pdf["cell"] = scheme.cell_of(pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
    df = spark.createDataFrame(pdf)
    plain = near_pairs(df, scheme, 250.0)._jdf.queryExecution().executedPlan().toString()
    salted = near_pairs_salted(df, scheme, 250.0)._jdf.queryExecution().executedPlan().toString()
    assert plain.count("Generate") == 2, plain
    assert salted.count("Generate") == 3, salted


def test_lon_to_frame_noop_and_wrap():
    # bitwise no-op within half a world
    lon = np.array([-72.31, 0.0, 179.9, -179.9])
    assert (lon_to_frame(lon, 0.0)[:3] == lon[:3]).all()
    assert lon_to_frame(-179.9, 179.9)[()] == pytest.approx(180.1)
    assert lon_to_frame(179.9, -179.9)[()] == pytest.approx(-180.1)
