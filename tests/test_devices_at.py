"""Cross-strategy parity: the fact-scale devices(@) pair-join
(engine/devices_at.py) must produce exactly the broadcast kernel
path's events — same rows, same ref SETS (the kernel emits refs in
snapshot-insertion order, the join path canonicalizes to sorted; the
set is the semantic content).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.devices_at import (
    at_candidate_pairs,
    is_at_node,
    snapshot_df_from_points,
)
from spinix_spark.engine.spark_pipeline import (
    _with_rowkey,
    detect_batch_spark,
    split_output,
)

LAYER = "0" * 20


def _mk_points(spark, n=120, seed=7):
    rng = np.random.default_rng(seed)
    lat = 42.90 + rng.random(n) * 0.06
    lon = -72.31 + rng.random(n) * 0.09
    # force some exact coordinate collisions with snapshot devices
    lat[5], lon[5] = 42.9234, -72.2789
    lat[min(17, n - 1)], lon[min(17, n - 1)] = 42.9234, -72.2789
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "device_id": [f"d{i % 29:019d}" for i in range(n)],
            "layer_id": [LAYER] * n,
            "lat": lat,
            "lon": lon,
            "datetime": [1700000000 + i for i in range(n)],
            "speed": rng.integers(0, 200, n).astype(np.float64),
            "status": rng.integers(0, 5, n),
        }
    )
    return pdf


def _mk_snapshot(rng_seed=11, m=40):
    rng = np.random.default_rng(rng_seed)
    rows = []
    for i in range(m):
        rows.append(
            {
                "device_id": f"s{i:019d}",
                "layer_id": LAYER,
                "lat": float(42.90 + rng.random() * 0.06),
                "lon": float(-72.31 + rng.random() * 0.09),
                "datetime": 1690000000 + i,
            }
        )
    # one snapshot device exactly on the coincident point coordinates
    rows[3]["lat"], rows[3]["lon"] = 42.9234, -72.2789
    return rows


RULES = [
    "device :radius 300m intersects devices(@) { :center 42.93 -72.27 :radius 50km }",
    "device near devices(@) { :center 42.93 -72.27 :radius 50km }",
    "device :radius 300m in devices(@) { :center 42.93 -72.27 :radius 50km }",
    "device :radius 400m intersects devices(@) and speed range [40 .. 160]"
    " { :center 42.93 -72.27 :radius 50km }",
]


def _events_canon(events_df):
    rows = []
    for r in events_df.collect():
        rows.append(
            (
                r.url,
                r.device_id,
                r.rule_id,
                r.left_kw,
                r.right_kw,
                r.op,
                tuple(sorted(r.right_refs or [])),
                r.datetime,
            )
        )
    return sorted(rows)


@pytest.mark.parametrize("rule", RULES)
def test_at_join_parity(spark, rule):
    pdf = _mk_points(spark)
    snap_rows = _mk_snapshot()
    points = spark.createDataFrame(pdf).repartition(6)

    eng_b = Engine()
    for row in snap_rows:
        eng_b.devices.insert_or_replace(row)
    eng_b.add_rule(rule, rule_id="r" + "7" * 19)
    ev_kernel, _ = split_output(detect_batch_spark(points, eng_b))

    eng_j = Engine()  # snapshot stays a DataFrame — nothing broadcast
    eng_j.add_rule(rule, rule_id="r" + "7" * 19)
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_join, _ = split_output(
        detect_batch_spark(points, eng_j, devices_df=devices_df)
    )

    a, b = _events_canon(ev_kernel), _events_canon(ev_join)
    assert a == b and len(a) > 0, f"rule={rule} kernel={len(a)} join={len(b)}"


def test_at_join_parity_salted(spark):
    rule = RULES[0]
    pdf = _mk_points(spark)
    snap_rows = _mk_snapshot()
    points = spark.createDataFrame(pdf).repartition(6)
    eng = Engine()
    for row in snap_rows:
        eng.devices.insert_or_replace(row)
    eng.add_rule(rule, rule_id="r" + "7" * 19)
    ev_kernel, _ = split_output(detect_batch_spark(points, eng))

    eng_j = Engine()
    eng_j.add_rule(rule, rule_id="r" + "7" * 19)
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_salted, _ = split_output(
        detect_batch_spark(points, eng_j, devices_df=devices_df, at_salt=4)
    )
    assert _events_canon(ev_kernel) == _events_canon(ev_salted)


def test_at_pair_join_plan_shape(spark):
    """Unsalted (the stream's form) explodes the row keys and the probe
    keys and joins on the cell key alone; salted adds only the
    snapshot's salt fan-out — a point row is never replicated."""
    points = spark.createDataFrame(_mk_points(spark))
    eng_j = Engine()
    eng_j.add_rule(RULES[0], rule_id="r" + "7" * 19)
    devices_df = spark.createDataFrame(pd.DataFrame(_mk_snapshot()))
    (node,) = [n for n in eng_j.rules["r" + "7" * 19].spec.nodes if is_at_node(n)]
    keyed = _with_rowkey(points)
    plain, salted = (
        at_candidate_pairs(keyed, devices_df, node, eng_j.scheme, n_salt=s)
        ._jdf.queryExecution().executedPlan().toString()
        for s in (0, 4)
    )
    assert plain.count("Generate") == 2 and "_bb" not in plain, plain
    assert salted.count("Generate") == 3 and "_bb" in salted, salted


def test_or_fold_at_rule_plans_no_kernel_stage(spark):
    """A stateless OR-fold rule of a point devices(@) node and an
    attribute companion compiles to Catalyst once the snapshot is a
    DataFrame: the node reads its verdict column, no kernel stage
    (MapInPandas) is planned, and the events are Engine.detect_batch's."""
    rule = "device near devices(@) or speed gt 150 { :center 42.93 -72.27 :radius 50km }"
    rid = "r" + "7" * 19
    pdf = _mk_points(spark)
    snap_rows = _mk_snapshot()
    oracle = Engine()
    for row in snap_rows:
        oracle.devices.insert_or_replace(row)
    oracle.add_rule(rule, rule_id=rid)
    want = sorted(
        (e["url"], e["device_id"], e["rule_id"], m["left_kw"], m["right_kw"], m["op"],
         tuple(sorted(m["right_refs"] or [])), e["datetime"])
        for e in oracle.detect_batch(pdf).to_dict("records")
        for m in e["matches"]
    )

    eng = Engine()
    eng.add_rule(rule, rule_id=rid)
    out = detect_batch_spark(
        spark.createDataFrame(pdf).repartition(3), eng,
        devices_df=spark.createDataFrame(pd.DataFrame(snap_rows)),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    ev, _ = split_output(out)
    assert _events_canon(ev) == want
    assert {w[5] for w in want} == {"NEAR", "gt"}, want


def test_devices_at_pages_rule_plan_shape(spark):
    """bench.py ``devices_at_pages``' rule (one ``device :radius 250m
    intersects devices(@)`` node, salted pair join) plans one
    MapInPandas — the pair refine — and joins its verdict onto the rows
    with an inner join."""
    from spinix_spark.io.geoparse import geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages

    points = geoparse_points(synthesize_pages(spark, 200))
    eng = Engine()
    eng.add_rule(
        "device :radius 250m intersects devices(@)"
        f" {{ :center {BASE_LAT} {BASE_LON} :radius 100km }}",
        rule_id="r" + "3" * 19,
    )
    out = detect_batch_spark(
        points, eng, devices_df=snapshot_df_from_points(points), at_salt=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert re.search(r"Join \[_rowkey#\d+L\], \[_rowkey#\d+L\], Inner", plan), plan
    assert "LeftOuter" not in plan, plan


def test_at_join_negated_bump(spark):
    """NNEAR bumps the candidate search to the SMALL tier
    (runtime.go:1515-1525) — the join path must reproduce the widened
    (existential, per-candidate-negated) universe exactly."""
    rule = "device :radius 200m nnear devices(@) { :center 42.93 -72.27 :radius 50km }"
    pdf = _mk_points(spark, n=24)
    snap_rows = _mk_snapshot(m=6)
    points = spark.createDataFrame(pdf).repartition(3)
    eng = Engine()
    for row in snap_rows:
        eng.devices.insert_or_replace(row)
    eng.add_rule(rule, rule_id="r" + "8" * 19)
    ev_kernel, _ = split_output(detect_batch_spark(points, eng))

    eng_j = Engine()
    eng_j.add_rule(rule, rule_id="r" + "8" * 19)
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_join, _ = split_output(
        detect_batch_spark(points, eng_j, devices_df=devices_df)
    )
    a, b = _events_canon(ev_kernel), _events_canon(ev_join)
    assert a == b and len(a) > 0


def test_at_join_wide_lon_coverage(spark):
    """Regression: the candidate k-ring must widen its COLUMN span by
    1/cos(lat) — with the negated-verb 50 km bump at ~43°N the rect's
    longitude reach is ≈0.61° while a constant-k square ring built
    from the 0.45° latitude reach stops at 0.46°; a candidate in the
    gap is inside the exact Devices.Near universe but outside the
    naive ring."""
    rule = "device :radius 200m nnear devices(@) { :center 42.93 -72.27 :radius 50km }"
    pdf = _mk_points(spark, n=10)
    far = {
        "device_id": "s" + "9" * 19,
        "layer_id": LAYER,
        "lat": 42.93,
        "lon": -71.72,  # ≈0.5-0.59° east of every point: in the gap
        "datetime": 1690000099,
    }
    snap_rows = [far]
    points = spark.createDataFrame(pdf).repartition(2)
    eng = Engine()
    eng.devices.insert_or_replace(far)
    eng.add_rule(rule, rule_id="r" + "8" * 19)
    ev_kernel, _ = split_output(detect_batch_spark(points, eng))

    eng_j = Engine()
    eng_j.add_rule(rule, rule_id="r" + "8" * 19)
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_join, _ = split_output(
        detect_batch_spark(points, eng_j, devices_df=devices_df)
    )
    a, b = _events_canon(ev_kernel), _events_canon(ev_join)
    # the far candidate IS in the kernel's universe (rect test) and far
    # from every point, so NNEAR fires with it as the ref
    assert len(a) > 0 and any(r[6] == ("s" + "9" * 19,) for r in a)
    assert a == b


def test_at_join_random_worlds(spark):
    """Randomized cross-strategy fuzz: random verbs, buffers, radii,
    point sets and snapshots — the pair join must equal the broadcast
    kernel on every world."""
    rng = np.random.default_rng(123)
    verbs = ["intersects", "near", "in", "nintersects", "nin"]
    for seed in (31, 57, 88):
        n = int(rng.integers(40, 90))
        pdf = _mk_points(spark, n=n, seed=seed)
        snap_rows = _mk_snapshot(rng_seed=seed + 1, m=int(rng.integers(10, 30)))
        verb = verbs[int(rng.integers(0, len(verbs)))]
        radius = int(rng.integers(100, 900))
        buf = f":radius {radius}m " if rng.integers(0, 2) else ""
        rule = (
            f"device {buf}{verb} devices(@)"
            " { :center 42.93 -72.27 :radius 50km }"
        )
        points = spark.createDataFrame(pdf).repartition(4)
        eng = Engine()
        for row in snap_rows:
            eng.devices.insert_or_replace(row)
        eng.add_rule(rule, rule_id="r" + "7" * 19)
        ev_kernel, _ = split_output(detect_batch_spark(points, eng))

        eng_j = Engine()
        eng_j.add_rule(rule, rule_id="r" + "7" * 19)
        devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
        ev_join, _ = split_output(
            detect_batch_spark(points, eng_j, devices_df=devices_df)
        )
        a, b = _events_canon(ev_kernel), _events_canon(ev_join)
        assert a == b, f"seed={seed} rule={rule}: kernel={len(a)} join={len(b)}"


def test_snapshot_df_no_collect(spark):
    """snapshot_df_from_points is pure DataFrame ops (window + filter);
    its physical plan contains no driver-side collect and one shuffle
    on device_id."""
    pdf = _mk_points(spark)
    points = spark.createDataFrame(pdf)
    snap = snapshot_df_from_points(points)
    assert snap.count() == 29  # one row per device
    latest = {r.device_id: r.datetime for r in snap.collect()}
    exp = pdf.groupby("device_id")["datetime"].max().to_dict()
    assert latest == exp
