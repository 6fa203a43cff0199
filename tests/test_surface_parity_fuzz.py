"""Cross-surface parity fuzz: every detect surface emits the events of
``Engine(eval_dwell=True).detect_batch`` and carries the same states.

A seeded random world — mid-latitude zones (polygons, plus a line
and a point registered from GeoJSON), a zone that crosses ±180° and a
zone at the pole — and one rule registry that covers positive and
negated zone verbs (a buffered NNEAR among them), explicit refs and
``@``, ``:radius``/``:bbox`` devices, point ``devices(@)`` candidates
(a negated verb, whose search radius takes the negated-verb bump, a
``:bbox`` target, an OR fold with an attribute, and two in one all-AND
rule), attribute companions, ``lt``/``gte`` distance
comparators, every ``:trigger`` form with ``:reset after``, and
``:time duration|after`` dwell (one rule with a trigger and a dwell
node, one with two dwell nodes). The same rows, split into random
micro-batches, go to:

- ``Engine.detect_batch`` (the oracle, one call per micro-batch);
- ``detect_batch_spark`` with ``prefer_sql`` True and False, the
  trigger and dwell state carried as ``merge_states``' per-device
  arrays, with the snapshot as a ``devices_df`` DataFrame and broadcast
  from ``engine.devices``;
- ``stream_detect`` (snapshot on the driver, state carry checkpointed);
- ``stream_detect_scalable``;
- ``keyed_stream_detect``, without the device-vs-device rules (out of
  its scope).

Each surface's canonical match rows per micro-batch, and its final
(device, rule) states where it exposes them, must equal the oracle's.
Every surface runs the same state fold (runtime.fold_state), so the
oracle itself is checked against an independent replay of the state
machine from raw node verdicts.
"""

from __future__ import annotations

import functools
import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.devices_at import snapshot_df_from_points
from spinix_spark.engine.spark_pipeline import (
    detect_batch_spark,
    merge_states,
    split_output,
)
from spinix_spark.engine.stores import zone_from_geojson, zone_from_ring
from spinix_spark.geo.rings import circle_ring

SEEDS = (5,)
LAYER = "0" * 20
N_BATCHES = 2

# region -> (center lat, center lon, lat half-span, lon half-span)
MID = (42.93, -72.27, 0.02, 0.026)
DATELINE = (42.93, 180.0, 0.015, 0.02)
POLAR_SPAN = (89.9955, 0.0035, 60.0)  # lat, lat half-span, lon half-span
REGION_DEVICES = {"mid": 6, "dateline": 3, "polar": 4}


def _zid(i: int) -> str:
    return "c5vj26evvhfjvfseau" + f"{i:02d}"


ZA, ZB, ZC, ZD, ZP, ZL, ZQ = (_zid(i) for i in range(7))

P_MID = f":center {MID[0]} {MID[1]} :radius 10km"
P_DL = f":center {DATELINE[0]} {DATELINE[1]} :radius 20km"
P_POLAR = ":center 89.996 0.0 :radius 50km"

# rule id -> spec; the ids sort in registration order
RULES = {
    "ra" + "0" * 18: f"device intersects polygon({ZA}, {ZB}) {{ {P_MID} :trigger every 40s }}",
    "rb" + "0" * 18: (
        f"device NINTERSECTS polygon({ZA}) and speed range [20 .. 150]"
        f" {{ {P_MID} :trigger 2 times interval 30s :reset after 300s }}"
    ),
    "rc" + "0" * 18: f"device :radius 300m intersects polygon(@) {{ {P_MID} :trigger once }}",
    "rd" + "0" * 18: f"device :bbox 400m IN polygon({ZB}) or status in [1, 2] {{ {P_MID} }}",
    "re" + "0" * 18: (
        f"device :radius 500m intersects devices(@) and speed range [10 .. 180] {{ {P_MID} }}"
    ),
    "rf" + "0" * 18: (
        f"device :radius 600m intersects devices(@)"
        f" {{ {P_MID} :trigger every 60s :reset after 200s }}"
    ),
    "rg" + "0" * 18: (
        f"device intersects polygon({ZA}) :time duration 60s"
        f" {{ {P_MID} :trigger 3 times interval 0s :reset after 120s }}"
    ),
    "rh" + "0" * 18: (
        f"device intersects polygon({ZA}) :time after 45s"
        f" or device NEAR polygon({ZC}) :time duration 90s {{ {P_MID} }}"
    ),
    "ri" + "0" * 18: (
        "device :radius 500m intersects devices(@) and device intersects"
        f" polygon(@) :time duration 60s {{ {P_MID} }}"
    ),
    "rj" + "0" * 18: (
        f"device :radius 1km lt polygon({ZC}) and speed range [10 .. 180] {{ {P_MID} }}"
    ),
    "rk" + "0" * 18: (
        f"device intersects polygon({ZD}) :time duration 60s {{ {P_DL} :trigger every 30s }}"
    ),
    "rl" + "0" * 18: f"device NIN polygon({ZD}) or speed gt 150 {{ {P_DL} }}",
    "rm" + "0" * 18: f"device :radius 800m intersects devices(@) {{ {P_DL} }}",
    "rn" + "0" * 18: f"device intersects polygon(@) :time after 30s {{ {P_POLAR} }}",
    "ro" + "0" * 18: f"device NEAR polygon({ZP}) {{ {P_POLAR} :trigger 2 times interval 10s }}",
    "rp" + "0" * 18: f"device :radius 300m NNEAR polygon({ZA}, {ZC}) {{ {P_MID} }}",
    "rq" + "0" * 18: (
        f"device :radius 150m NINTERSECTS devices(@) and speed range [30 .. 170] {{ {P_MID} }}"
    ),
    "rr" + "0" * 18: f"device :bbox 700m intersects devices(@) {{ {P_DL} :trigger every 20s }}",
    "rs" + "0" * 18: (
        f"device :radius 250m intersects line({ZL}) or device :radius 400m NEAR point({ZQ})"
        f" {{ {P_MID} }}"
    ),
    "rt" + "0" * 18: f"device :radius 1200m gte line({ZL}) and speed gt 120 {{ {P_MID} }}",
    "ru" + "0" * 18: f"device :radius 400m intersects devices(@) or speed gt 170 {{ {P_MID} }}",
    "rv" + "0" * 18: (
        f"device :radius 300m intersects devices(@) and device :radius 900m NEAR devices(@)"
        f" {{ {P_MID} }}"
    ),
}
DEVICE_RULES = {k for k, v in RULES.items() if "devices(" in v}
DWELL_RULES = {k for k, v in RULES.items() if ":time" in v}


@functools.lru_cache(maxsize=None)
def _world(seed: int):
    """(zones {id: Zone}, micro-batches): rows in global event order,
    split at random cut points, each batch sorted by (device_id,
    datetime, url) — the order every surface folds state in."""
    rng = np.random.default_rng(seed)

    def jitter(span: float) -> float:
        return float(rng.uniform(-span, span))

    zones = {
        zid: circle_ring(
            MID[0] + jitter(0.008), MID[1] + jitter(0.01),
            float(rng.uniform(700, 1400)), int(rng.integers(5, 10)),
        )
        for zid in (ZA, ZB, ZC)
    }
    # centred on 180°: its ring's lons run past the line
    zones[ZD] = circle_ring(
        DATELINE[0] + jitter(0.004), 180.0,
        float(rng.uniform(900, 1300)), int(rng.integers(6, 10)),
    )
    # near the pole: its hexagon spans ~80° of longitude
    zp_lon = jitter(180.0)
    zones[ZP] = circle_ring(89.996, zp_lon, 300.0, 6)
    zones = {zid: zone_from_ring(zid, ring) for zid, ring in zones.items()}
    # a line and a point registered from GeoJSON ((lon, lat) order)
    line = [
        [MID[1] + dx, MID[0] + dy]
        for dx, dy in ((-0.015, -0.01), (0.002, 0.003), (0.016, 0.012))
    ]
    zones[ZL] = zone_from_geojson(
        ZL, LAYER, json.dumps({"type": "LineString", "coordinates": line})
    )
    point = [MID[1] + 0.004, MID[0] - 0.003]
    zones[ZQ] = zone_from_geojson(
        ZQ, LAYER, json.dumps({"type": "Point", "coordinates": point})
    )

    devices = [
        (f"d{region[0]}{i:018d}", region)
        for region, k in REGION_DEVICES.items()
        for i in range(k)
    ]
    boxes = {
        "mid": MID,
        "dateline": DATELINE,
        "polar": (POLAR_SPAN[0], zp_lon, POLAR_SPAN[1], POLAR_SPAN[2]),
    }
    pos = {
        d: [boxes[r][0] + jitter(boxes[r][2]), boxes[r][1] + jitter(boxes[r][3])]
        for d, r in devices
    }
    rows = []
    t = 1_700_000_000
    for i in range(n_rows := 330):
        t += int(rng.choice([0, 3, 7]))
        d, region = devices[int(rng.integers(len(devices)))]
        clat, clon, hlat, hlon = boxes[region]
        p = pos[d]
        if rng.random() < 0.75:  # linger near the last fix
            p[0] += jitter(hlat / 8)
            p[1] += jitter(hlon / 8)
        else:  # jump anywhere in the region
            p[0], p[1] = clat + jitter(hlat), clon + jitter(hlon)
        p[0] = float(np.clip(p[0], clat - hlat, clat + hlat))
        lon = (p[1] + 180.0) % 360.0 - 180.0
        rows.append(
            {
                "url": f"u{i:04d}",
                "device_id": d,
                "layer_id": LAYER,
                "lat": p[0],
                "lon": lon,
                "datetime": t,
                "speed": float(rng.uniform(0, 200)),
                "status": int(rng.integers(0, 5)),
            }
        )
    pdf = pd.DataFrame(rows)
    # N_BATCHES micro-batches of at least 40 rows each
    cuts = np.sort(rng.choice(n_rows - 40 * N_BATCHES, N_BATCHES - 1, replace=False))
    cuts = cuts + 40 * np.arange(1, N_BATCHES)
    batches = [
        pdf.iloc[lo:hi]
        .sort_values(["device_id", "datetime", "url"])
        .reset_index(drop=True)
        for lo, hi in zip([0, *cuts], [*cuts, n_rows])
    ]
    return zones, batches


def _engine(seed: int, keyed: bool = False) -> Engine:
    zones, _ = _world(seed)
    eng = Engine(eval_dwell=True)
    for zone in zones.values():
        eng.zones.add(zone)
    for rid, spec in RULES.items():
        if not (keyed and rid in DEVICE_RULES):
            eng.add_rule(spec, rule_id=rid)
    return eng


def _row_canon(b: int, r) -> tuple:
    return (
        b, r["url"], r["device_id"], r["rule_id"], r["left_kw"], r["right_kw"],
        r["op"], tuple(sorted(r["right_refs"] or [])), int(r["datetime"]),
    )


def _events_canon(b: int, events) -> list[tuple]:
    return [_row_canon(b, r.asDict()) for r in events.collect()]


def _states_canon(rows) -> list[tuple]:
    """(device, rule) states; ``visits`` as the Spark surfaces' JSON."""
    out = []
    for s in rows:
        v = s["visits"]
        if isinstance(v, dict):
            v = json.dumps(v, separators=(",", ":"), sort_keys=True) if v else ""
        out.append(
            (s["device_id"], s["rule_id"], int(s["last_seen"]), int(s["last_reset"]),
             int(s["hits"]), int(s["now"]), v or "")
        )
    return sorted(out)


@functools.lru_cache(maxsize=None)
def _oracle(seed: int):
    """(events, states) of Engine(eval_dwell=True).detect_batch."""
    _, batches = _world(seed)
    eng = _engine(seed)
    events = []
    for b, pdf in enumerate(batches):
        for e in eng.detect_batch(pdf).to_dict("records"):
            for m in e["matches"]:
                events.append(_row_canon(b, {**e, **m}))
    return sorted(events), _states_canon(eng.states.snapshot())


def _replay(seed: int):
    """(events, states) replayed from raw node verdicts by an
    independent model of the (device, rule) state machine: per gated
    row, in (device_id, datetime, url) order — trigger reset → check →
    changeState (runtime.go:103-163), then each dwell node's visits
    (open on a hit, clear on a miss, ``after`` fires once per visit),
    then the AND/OR fold with AND-skip capture. Pins the state fold's
    semantics, which the surfaces' parity with the oracle cannot."""
    from spinix_spark.dsl import ast_nodes as ast
    from spinix_spark.dsl.compiler import SpDevicesObjectOp, SpObjectOp
    from spinix_spark.dsl.tokens import Token
    from spinix_spark.engine.detect import rule_gate_mask
    from spinix_spark.engine.runtime import DeviceBatch, Reference, eval_node
    from spinix_spark.engine.stores import DeviceSnapshot, StateStore

    _, batches = _world(seed)
    eng = _engine(seed)
    ref = Reference(zones=eng.zones, devices=DeviceSnapshot(), states=StateStore())
    states: dict[tuple, dict] = {}
    events = []
    for b, pdf in enumerate(batches):
        lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
        for rid, rule in eng.rules.items():
            spec, props = rule.spec, rule.spec.props
            sub = pdf.loc[rule_gate_mask(rule.bbox, lat, lon)].reset_index(drop=True)
            if sub.empty:
                continue
            raw = [eval_node(n, DeviceBatch(sub), ref, props.layer) for n in spec.nodes]
            dwell = {
                j: (n.right.dur_val, n.right.dur_typ is Token.AFTER)
                for j, n in enumerate(spec.nodes)
                if isinstance(n, (SpObjectOp, SpDevicesObjectOp))
                and n.right.dur_typ in (Token.DURATION, Token.AFTER)
                and n.right.dur_val > 0
            }
            trigger = props.repeat != ast.REPEAT_NONE
            for i, row in sub.iterrows():
                if row["layer_id"] != props.layer:
                    continue
                now = int(row["datetime"])
                fired = True
                if trigger or dwell:
                    st = states.setdefault(
                        (row["device_id"], rid),
                        {"now": 0, "last_seen": 0, "last_reset": 0, "hits": 0, "visits": {}},
                    )
                if trigger:
                    st["now"] = now
                    if props.reset_interval_s == 0 or st["last_reset"] == 0 or (
                        now - st["last_reset"] >= props.reset_interval_s
                    ):
                        st.update(last_seen=0, hits=0, last_reset=now)
                    if props.repeat == ast.REPEAT_EVERY:
                        fired = st["last_seen"] == 0 or now - st["last_reset"] > props.delay_s
                    elif props.repeat == ast.REPEAT_TIMES:
                        fired = (
                            now - st["last_seen"] >= props.interval_s
                            and st["hits"] < props.times
                        )
                    else:
                        fired = st["hits"] == 0
                    if fired:
                        st["last_seen"] = now
                        if props.repeat != ast.REPEAT_EVERY:
                            st["hits"] += 1
                oks, refs = [], []
                for j, res in enumerate(raw):
                    r = list(res.right_refs[i]) if res.right_refs is not None else []
                    ok = bool(res.ok[i])
                    if j in dwell:
                        dur, edge = dwell[j]
                        visits = st["visits"]
                        for k in [k for k in visits if k.startswith(f"{j}:")]:
                            if k[len(f"{j}:"):] not in r:
                                del visits[k]  # a miss ends the visit
                        kept = []
                        for obj in r:
                            mark = visits.setdefault(f"{j}:{obj}", now)
                            first, done = (-mark - 1, True) if mark < 0 else (mark, False)
                            if now - first >= dur and not (edge and done):
                                kept.append(obj)
                                if edge:
                                    visits[f"{j}:{obj}"] = -(first + 1)
                        ok, r = bool(kept), kept
                    oks.append(ok)
                    refs.append(r)
                acc, recorded = oks[0], [True]
                for j, op in enumerate(spec.ops, start=1):
                    recorded.append(acc if op is Token.AND else True)
                    acc = (acc and oks[j]) if op is Token.AND else (acc or oks[j])
                if not (acc and fired):
                    continue
                for j, res in enumerate(raw):
                    if recorded[j] and oks[j]:
                        events.append(_row_canon(b, {
                            **row, "rule_id": rid, "left_kw": str(res.left_kw),
                            "right_kw": str(res.right_kw), "op": str(res.op),
                            "right_refs": refs[j],
                        }))
        ref.devices.merge_batch(pdf.to_dict("records"))
    return sorted(events), _states_canon(
        [{"device_id": d, "rule_id": r, **st} for (d, r), st in states.items()]
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_oracle_matches_state_replay(seed):
    assert _oracle(seed) == _replay(seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_oracle_exercises_every_rule(seed):
    """Not vacuous: every rule emits, every dwell rule keeps state and
    open visits are carried; some match names several refs."""
    events, states = _oracle(seed)
    assert {e[3] for e in events} == set(RULES)
    assert {s[1] for s in states} >= DWELL_RULES
    assert {s[1] for s in states if s[6]} & DWELL_RULES  # open visits carry
    assert any(len(e[7]) > 1 for e in events)  # several refs in one match


@pytest.fixture
def tiny_arrow_batches(spark):
    """Every surface's Arrow batches cut a device's rows in several
    chunks, so the fold must carry state across them; three shuffle
    partitions keep the many small stages cheap."""
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.shuffle.partitions": "3",
    }
    prior = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in prior.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("snapshot", ["devices_df", "broadcast"])
@pytest.mark.parametrize("prefer_sql", [True, False])
def test_detect_batch_spark_matches_engine(
    spark, tiny_arrow_batches, seed, snapshot, prefer_sql
):
    _, batches = _world(seed)
    eng = _engine(seed)
    events, carry = [], None
    for b, pdf in enumerate(batches):
        points = spark.createDataFrame(pdf.sample(frac=1.0, random_state=b)).repartition(3)
        devices_df = None
        if snapshot == "devices_df":
            prior = (
                spark.createDataFrame(pd.concat(batches[:b])) if b else points.limit(0)
            )
            devices_df = snapshot_df_from_points(prior)
        out = detect_batch_spark(
            points, eng, states=carry, prefer_sql=prefer_sql, devices_df=devices_df
        ).cache()
        ev, st = split_output(out)
        events += _events_canon(b, ev)
        carry = merge_states(carry, st).localCheckpoint()
        if snapshot == "broadcast":
            eng.devices.merge_batch(pdf.to_dict("records"))
        out.unpersist()
    states = carry.select("device_id", F.inline("states")).collect()
    want_events, want_states = _oracle(seed)
    assert sorted(events) == want_events
    assert _states_canon([r.asDict() for r in states]) == want_states


def _stream_source(spark, tmp_path, batches):
    """The micro-batches as parquet files, one per trigger."""
    src = str(tmp_path / "src")
    for pdf in batches:
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    return (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_stream_detect_matches_engine(spark, tiny_arrow_batches, tmp_path, seed):
    """The driver-snapshot stream: batch 2's events depend on batch 1's
    positions in engine.devices and on its carried trigger and dwell
    states."""
    from spinix_spark.streaming.detect_stream import stream_detect

    _, batches = _world(seed)
    eng = _engine(seed)
    events = []
    source = _stream_source(spark, tmp_path, batches)
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    q = stream_detect(
        source, eng,
        lambda ev, batch_id: events.extend(_events_canon(batch_id, ev)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert q.exception() is None
    # each batch frees its predecessor's carry and its own cached frames
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted + 1
    want_events, _ = _oracle(seed)
    assert {e[0] for e in events} == set(range(N_BATCHES))
    assert sorted(events) == want_events
    # the snapshot advanced to every device's last fix
    last = pd.concat(batches).groupby("device_id")["datetime"].max()
    assert {d: eng.devices.lookup(d)["datetime"] for d in last.index} == last.to_dict()


@pytest.mark.parametrize("seed", SEEDS)
def test_stream_detect_scalable_matches_engine(spark, tiny_arrow_batches, tmp_path, seed):
    from spinix_spark.streaming.detect_stream import stream_detect_scalable
    from spinix_spark.streaming.state_table import BucketedVersionTable

    _, batches = _world(seed)
    events = []
    q = stream_detect_scalable(
        _stream_source(spark, tmp_path, batches), _engine(seed),
        lambda ev, batch_id: events.extend(_events_canon(batch_id, ev)),
        work_dir=str(tmp_path / "work"), checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4,
    )
    q.awaitTermination(300)
    assert q.exception() is None
    table = BucketedVersionTable(spark, str(tmp_path / "work" / "devices"))
    states = table.read_latest(10**9).select("device_id", F.inline("states")).collect()
    want_events, want_states = _oracle(seed)
    assert sorted(events) == want_events
    assert _states_canon([r.asDict() for r in states]) == want_states


@pytest.mark.parametrize("seed", SEEDS)
def test_keyed_stream_detect_matches_engine(spark, tiny_arrow_batches, tmp_path, seed):
    from spinix_spark.streaming.keyed_detect import keyed_stream_detect

    _, batches = _world(seed)
    eng = _engine(seed, keyed=True)
    src = str(tmp_path / "src")
    events = []
    for b, pdf in enumerate(batches):
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            keyed_stream_detect(stream, eng)
            .writeStream.foreachBatch(
                lambda df, _id, b=b: events.extend(_events_canon(b, df))
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
    want_events, _ = _oracle(seed)
    assert sorted(events) == [e for e in want_events if e[3] not in DEVICE_RULES]
