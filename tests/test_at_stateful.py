"""Fact-scale devices(@): with the snapshot as a DataFrame, the pair
join supplies the @ verdict as a column — read by the compiled
Catalyst strategy for a stateless rule whose other nodes compile, by
the kernel stage for every other rule (triggers, dwell, companions
that do not compile) — and must reproduce the broadcast kernel and
Engine.detect_batch exactly, events AND trigger-state rows, across
trigger kinds, partitionings, and multi-batch state carries. Also covers the
loud-failure guards for rules that read an empty engine.devices
(reference semantics: runtime.go:103-163 + 1461-1483).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, merge_states, split_output

LAYER = "0" * 20
RID = "r" + "7" * 19


def _mk_points(n=90, seed=5, n_dev=9):
    rng = np.random.default_rng(seed)
    lat = 42.90 + rng.random(n) * 0.06
    lon = -72.31 + rng.random(n) * 0.09
    return pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "device_id": [f"d{i % n_dev:019d}" for i in range(n)],
            "layer_id": [LAYER] * n,
            "lat": lat,
            "lon": lon,
            # several rows per device, increasing event time, gaps of
            # ~700 s so `every 600s` gates interestingly
            "datetime": [1700000000 + (i // n_dev) * 700 + (i % n_dev) for i in range(n)],
            "speed": rng.integers(0, 200, n).astype(np.float64),
            "status": rng.integers(0, 5, n),
        }
    )


def _mk_snapshot(rng_seed=11, m=25):
    rng = np.random.default_rng(rng_seed)
    return [
        {
            "device_id": f"s{i:019d}",
            "layer_id": LAYER,
            "lat": float(42.90 + rng.random() * 0.06),
            "lon": float(-72.31 + rng.random() * 0.09),
            "datetime": 1690000000 + i,
        }
        for i in range(m)
    ]


def _ev_canon(ev):
    return sorted(
        (r.url, r.device_id, r.rule_id, r.left_kw, r.right_kw, r.op,
         tuple(sorted(r.right_refs or [])), r.datetime)
        for r in ev.collect()
    )


def _st_canon(st):
    return sorted(
        (r.device_id, r.rule_id, r.last_seen, r.last_reset, r.hits, r.now, r.visits)
        for r in st.collect()
    )


def _engine_st_canon(eng):
    """Engine.detect_batch's states in _st_canon's form (visits as the
    Spark surfaces' JSON)."""
    return sorted(
        (s["device_id"], s["rule_id"], s["last_seen"], s["last_reset"], s["hits"],
         s["now"], json.dumps(s["visits"], separators=(",", ":"), sort_keys=True)
         if s.get("visits") else "")
        for s in eng.states.snapshot()
    )


def _three_surfaces(spark, rule, pdf, snap_rows, eval_dwell=False, zones=()):
    """Canonical (events, states) of one batch on Engine.detect_batch,
    the broadcast kernel (snapshot in engine.devices) and the fact-scale
    form (snapshot as devices_df, engine.devices empty)."""
    def engine(with_snapshot):
        eng = Engine(eval_dwell=eval_dwell)
        for z in zones:
            eng.zones.add(z)
        if with_snapshot:
            for row in snap_rows:
                eng.devices.insert_or_replace(row)
        eng.add_rule(rule, rule_id=RID)
        return eng

    oracle = engine(True)
    want = (_oracle_canon(oracle.detect_batch(pdf)), _engine_st_canon(oracle))
    points = spark.createDataFrame(pdf).repartition(4)
    ev_k, st_k = split_output(detect_batch_spark(points, engine(True)))
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_j, st_j = split_output(
        detect_batch_spark(points, engine(False), devices_df=devices_df)
    )
    kernel = (_ev_canon(ev_k), _st_canon(st_k))
    fact = (_ev_canon(ev_j), _st_canon(st_j))
    return want, kernel, fact


TRIGGERS = [
    ":trigger once",
    ":trigger 2 times interval 0s",
    ":trigger every 600s :reset after 24h",
]


@pytest.mark.parametrize("trigger", TRIGGERS)
def test_at_stateful_parity(spark, trigger):
    rule = (
        "device :radius 400m intersects devices(@)"
        f" {{ :center 42.93 -72.27 :radius 50km {trigger} }}"
    )
    pdf = _mk_points()
    snap_rows = _mk_snapshot()
    points = spark.createDataFrame(pdf).repartition(6)

    eng_k = Engine()
    for row in snap_rows:
        eng_k.devices.insert_or_replace(row)
    eng_k.add_rule(rule, rule_id=RID)
    ev_k, st_k = split_output(detect_batch_spark(points, eng_k))

    eng_j = Engine()  # snapshot stays a DataFrame — nothing broadcast
    eng_j.add_rule(rule, rule_id=RID)
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_j, st_j = split_output(detect_batch_spark(points, eng_j, devices_df=devices_df))

    a, b = _ev_canon(ev_k), _ev_canon(ev_j)
    assert a == b and len(a) > 0, f"{trigger}: kernel={len(a)} join={len(b)}"
    assert _st_canon(st_k) == _st_canon(st_j)


def test_at_stateful_parity_with_companion_node(spark):
    """A companion Catalyst node (speed range) joins the all-AND fold:
    its failure on a row must not stop the trigger from consuming."""
    rule = (
        "device :radius 400m intersects devices(@) and speed range [40 .. 160]"
        " { :center 42.93 -72.27 :radius 50km :trigger once }"
    )
    pdf = _mk_points()
    snap_rows = _mk_snapshot()
    points = spark.createDataFrame(pdf).repartition(5)

    eng_k = Engine()
    for row in snap_rows:
        eng_k.devices.insert_or_replace(row)
    eng_k.add_rule(rule, rule_id=RID)
    ev_k, st_k = split_output(detect_batch_spark(points, eng_k))

    eng_j = Engine()
    eng_j.add_rule(rule, rule_id=RID)
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    ev_j, st_j = split_output(detect_batch_spark(points, eng_j, devices_df=devices_df))

    assert _ev_canon(ev_k) == _ev_canon(ev_j)
    assert _st_canon(st_k) == _st_canon(st_j)


def test_at_stateful_two_batch_state_carry(spark):
    """Batch-2 events depend on batch-1 trigger state: the pair-join
    path (snapshot as a DataFrame) must equal the broadcast-snapshot
    kernel path under the same states carry, including the merged
    final states."""
    rule = (
        "device :radius 400m intersects devices(@)"
        " { :center 42.93 -72.27 :radius 50km :trigger 7 times interval 0s }"
    )
    pdf = _mk_points()
    b1, b2 = pdf.iloc[:45], pdf.iloc[45:]
    snap_rows = _mk_snapshot()
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    p1 = spark.createDataFrame(b1).repartition(4)
    p2 = spark.createDataFrame(b2).repartition(4)

    eng_k = Engine()
    for row in snap_rows:
        eng_k.devices.insert_or_replace(row)
    eng_k.add_rule(rule, rule_id=RID)
    ev1k, st1k = split_output(detect_batch_spark(p1, eng_k))
    prior_k = merge_states(None, st1k).cache()
    ev2k, st2k = split_output(detect_batch_spark(p2, eng_k, states=prior_k))
    merged_k = merge_states(prior_k, st2k)

    eng_j = Engine()
    eng_j.add_rule(rule, rule_id=RID)
    ev1j, st1j = split_output(detect_batch_spark(p1, eng_j, devices_df=devices_df))
    prior_j = merge_states(None, st1j).cache()
    ev2j, st2j = split_output(
        detect_batch_spark(p2, eng_j, devices_df=devices_df, states=prior_j)
    )
    merged_j = merge_states(prior_j, st2j)

    assert _ev_canon(ev1k) == _ev_canon(ev1j)
    assert _ev_canon(ev2k) == _ev_canon(ev2j)
    assert len(_ev_canon(ev2k)) > 0  # leftover quota fires in batch 2

    def canon(merged):
        rows = merged.select("device_id", F.inline("states")).collect()
        return sorted(
            (r.device_id, r.rule_id, r.last_seen, r.last_reset, r.hits) for r in rows
        )

    assert canon(merged_k) == canon(merged_j)
    assert len(canon(merged_k)) == 9


def test_at_stateful_empty_snapshot_consumes_trigger(spark):
    """Batch-0 semantics in the batch API: with an EMPTY snapshot no
    @ match exists, so no events — but the trigger still consumes on
    every gated row (checkTrigger/changeState run before node
    evaluation), so state rows emit with hits advanced, and a second
    batch against a NOW-POPULATED snapshot stays suppressed."""
    rule = (
        "device :radius 400m intersects devices(@)"
        " { :center 42.93 -72.27 :radius 50km :trigger once }"
    )
    eng = Engine()
    eng.add_rule(rule, rule_id=RID)
    pdf = _mk_points(n=18, n_dev=6)
    points = spark.createDataFrame(pdf).repartition(3)
    empty = spark.createDataFrame(
        [], "device_id string, layer_id string, lat double, lon double, datetime long"
    )
    ev1, st1 = split_output(detect_batch_spark(points, eng, devices_df=empty))
    st1 = st1.cache()
    assert ev1.count() == 0
    states = {r.device_id: r.hits for r in st1.collect()}
    assert len(states) == 6 and all(h == 1 for h in states.values())

    snap = spark.createDataFrame(pd.DataFrame(_mk_snapshot(m=20)))
    ev2, _ = split_output(
        detect_batch_spark(points, eng, devices_df=snap, states=merge_states(None, st1))
    )
    assert ev2.count() == 0  # quota was consumed against the empty snapshot


ZONE_SOUTH = "c5vj26evvhfjvfseaus0"


def _south_zone():
    """A zone over the southern half of _mk_points' box."""
    from spinix_spark.engine.stores import zone_from_ring

    return zone_from_ring(
        ZONE_SOUTH,
        np.array(
            [(42.90, -72.32), (42.90, -72.21), (42.93, -72.21),
             (42.93, -72.32), (42.90, -72.32)]
        ),
    )


@pytest.mark.parametrize("trigger", ["", ":trigger every 600s"])
def test_at_or_fold_parity(spark, trigger):
    """An @ rule in an OR fold, with devices_df and an EMPTY
    engine.devices, reads the pair join's verdict (compiled when
    stateless, in the kernel stage under a trigger) and must equal the
    broadcast kernel and Engine.detect_batch."""
    rule = (
        "device :radius 300m intersects devices(@) or speed range [0 .. 20]"
        f" {{ :center 42.93 -72.27 :radius 50km {trigger} }}"
    )
    want, kernel, fact = _three_surfaces(spark, rule, _mk_points(), _mk_snapshot())
    assert any(e[4] == "devices" for e in want[0])
    assert kernel == want
    assert fact == want
    # devices_df beside a populated engine.devices: accepted, same rows
    eng = Engine()
    for row in _mk_snapshot():
        eng.devices.insert_or_replace(row)
    eng.add_rule(rule, rule_id=RID)
    ev, st = split_output(
        detect_batch_spark(
            spark.createDataFrame(_mk_points()), eng,
            devices_df=spark.createDataFrame(pd.DataFrame(_mk_snapshot())),
        )
    )
    assert (_ev_canon(ev), _st_canon(st)) == want


def test_at_dwell_parity(spark):
    """A dwell rule with a devices(@) node under eval_dwell: the visit
    fold runs in the kernel stage, fed the pair join's @ verdict — the
    fact-scale form once emitted nothing here."""
    rule = (
        "device :radius 300m intersects devices(@) and device intersects"
        f" polygon({ZONE_SOUTH}) :time duration 600s"
        " { :center 42.93 -72.27 :radius 50km }"
    )
    want, kernel, fact = _three_surfaces(
        spark, rule, _mk_points(n=180, n_dev=6), _mk_snapshot(m=60),
        eval_dwell=True, zones=[_south_zone()],
    )
    assert len(want[0]) > 0 and any(v for *_, v in want[1])
    assert kernel == want
    assert fact == want


def test_at_stateful_parity_with_buffered_zone_companion(spark):
    """A stateful @ rule whose companion (a buffered zone verb) does not
    compile to Catalyst: trigger, zone verb and fold run in the kernel
    stage on the pair join's @ verdict."""
    rule = (
        "device :radius 400m intersects devices(@) and device :radius 300m"
        f" intersects polygon({ZONE_SOUTH})"
        " { :center 42.93 -72.27 :radius 50km :trigger every 600s }"
    )
    want, kernel, fact = _three_surfaces(
        spark, rule, _mk_points(), _mk_snapshot(), zones=[_south_zone()]
    )
    assert len(want[0]) > 0
    assert kernel == want
    assert fact == want


def test_buffered_at_candidate_refused(spark, tmp_path):
    """A buffered devices(@) candidate reads engine.devices (the pair
    join evaluates point candidates only): with it empty, fact-scale
    entry points refuse instead of matching nothing."""
    from spinix_spark.streaming.detect_stream import stream_detect_scalable

    eng = Engine()
    eng.add_rule(
        "device intersects devices(@) :radius 300m"
        " { :center 42.93 -72.27 :radius 50km }",
        rule_id=RID,
    )
    points = spark.createDataFrame(_mk_points(n=9))
    devices_df = spark.createDataFrame(pd.DataFrame(_mk_snapshot(m=3)))
    with pytest.raises(ValueError, match="buffered devices.*EMPTY"):
        detect_batch_spark(points, eng, devices_df=devices_df)
    src = str(tmp_path / "src")
    points.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(points.schema).parquet(src)
    with pytest.raises(ValueError, match="buffered devices.*EMPTY"):
        stream_detect_scalable(stream, eng, lambda e, b: None, work_dir=str(tmp_path / "w"))


def test_stream_scalable_or_fold_at_rule(spark, tmp_path):
    """stream_detect_scalable runs an @ rule of any shape (OR fold with
    a trigger here): each batch's events equal Engine.detect_batch fed
    the same batches (snapshot as of the previous batch)."""
    from spinix_spark.streaming.detect_stream import stream_detect_scalable

    rule = (
        "device :radius 300m intersects devices(@) or speed range [0 .. 20]"
        " { :center 42.93 -72.27 :radius 50km :trigger every 50s }"
    )
    pdf = _mk_points(n=36, n_dev=12)
    # a ~450 m box, so most rows have a snapshot device within 300 m
    pdf = pdf.assign(lat=42.93 + (pdf.lat - 42.90) / 15, lon=-72.27 + (pdf.lon + 72.31) / 20)
    batches = [pdf.iloc[:12], pdf.iloc[12:24], pdf.iloc[24:]]
    src = str(tmp_path / "src")
    for b in batches:
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    eng = Engine()
    eng.add_rule(rule, rule_id=RID)
    got = {}

    def sink(events, batch_id):
        got[batch_id] = _ev_canon(events)

    q = stream_detect_scalable(
        stream, eng, sink, work_dir=str(tmp_path / "w"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert q.exception() is None

    oracle = Engine()
    oracle.add_rule(rule, rule_id=RID)
    want = {k: _oracle_canon(oracle.detect_batch(b)) for k, b in enumerate(batches)}
    assert any(e[4] == "devices" for e in want[2])
    assert got == want


def test_stream_scalable_stateful_at_rule(spark, tmp_path):
    """End-to-end streaming stateful devices(@): `:trigger once` is
    CONSUMED by batch 0's rows even though the snapshot is empty then
    (checkTrigger/changeState run before node evaluation), so batch 1
    emits nothing despite @ matching — and the trigger state table
    carries hits=1 per device. The `every 1s` variant fires in batch 1."""
    from spinix_spark.streaming.detect_stream import stream_detect_scalable

    def run(trigger):
        base = tmp_path / trigger.replace(" ", "_").replace(":", "")  # Hadoop Path rejects ":" in components
        b0 = pd.DataFrame(
            {
                "url": [f"b0u{j}" for j in range(4)],
                "device_id": [f"d{j:019d}" for j in range(4)],
                "layer_id": [LAYER] * 4,
                "lat": [42.9301, 42.9302, 42.9310, 42.9400],
                "lon": [-72.2701] * 4,
                "datetime": [1700000000 + j for j in range(4)],
                "speed": [10.0] * 4,
                "status": [1] * 4,
            }
        )
        b1 = b0.assign(
            url=[f"b1u{j}" for j in range(4)],
            datetime=[1700000100 + j for j in range(4)],
        )
        src = str(base / "src")
        spark.createDataFrame(b0).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        eng = Engine()
        eng.add_rule(
            "device :radius 300m intersects devices(@)"
            f" {{ :center 42.93 -72.27 :radius 50km {trigger} }}",
            rule_id=RID,
        )
        got = {}

        def sink(events, batch_id):
            got[batch_id] = events.collect()

        q = stream_detect_scalable(
            stream, eng, sink,
            work_dir=str(base / "work"), checkpoint_dir=str(base / "ckpt"),
        )
        q.awaitTermination(180)
        return got, base

    got_once, base_once = run(":trigger once")
    assert len(got_once[0]) == 0  # empty snapshot: no events...
    assert len(got_once[1]) == 0  # ...but the trigger was consumed
    from spinix_spark.streaming.state_table import BucketedVersionTable

    st = BucketedVersionTable(
        spark, str(base_once / "work" / "devices")
    ).read_latest(10**9)
    rows = {
        r.device_id: (r.hits, r.last_seen, r.now)
        for r in st.select("device_id", F.inline("states")).collect()
    }
    assert len(rows) == 4 and all(h == 1 for h, _, _ in rows.values())
    # last_seen froze at the batch-0 fire time (changeState only runs
    # when the trigger fires); now advanced with the batch-1 row
    assert rows["d" + "0" * 18 + "0"] == (1, 1700000000, 1700000100)

    got_every, _ = run(":trigger every 1s")
    assert len(got_every[0]) == 0  # empty snapshot
    ev = got_every[1]
    assert len(ev) > 0  # 100 s past last_reset: fires where @ matches
    by_dev = {}
    for r in ev:
        by_dev.setdefault(r.device_id, set()).update(r.right_refs)
    d = [f"d{j:019d}" for j in range(4)]
    assert d[0] in by_dev and by_dev[d[0]] >= {d[0], d[1]}
    assert d[3] in by_dev and d[3] in by_dev[d[3]]


def test_latest_version_replay_idempotent(spark, tmp_path):
    """The bucketed state table must serve the newest version STRICTLY
    BELOW the current batch id (per bucket), so a checkpointed replay
    of batch N re-reads the pre-N state instead of its own output —
    even when the crashed attempt already wrote SOME of batch N's
    bucket dirs (partial-write replay)."""
    from spinix_spark.streaming.state_table import BucketedVersionTable

    t = BucketedVersionTable(spark, str(tmp_path / "snapshot"), n_buckets=8)
    # two keys landing in different buckets
    ka, kb = "d0", "d3"
    assert len(
        t.dirty_buckets(
            spark.createDataFrame([(ka,), (kb,)], "device_id string")
        )
    ) == 2
    for v in (0, 1):
        t.write_version(
            spark.createDataFrame(
                [(ka, 10 * (v + 1)), (kb, 10 * (v + 1) + 1)],
                "device_id string, x long",
            ),
            v,
        )
    # batch 2's crashed attempt wrote ONLY ka's bucket before dying
    t.write_version(
        spark.createDataFrame([(ka, 30)], "device_id string, x long"), 2
    )
    # replay of batch 2 reads pre-2 state for BOTH keys
    got = {r.device_id: r.x for r in t.read_latest(2).collect()}
    assert got == {ka: 20, kb: 21}
    # post-replay view (replay completed both buckets at v2)
    t.write_version(
        spark.createDataFrame(
            [(ka, 30), (kb, 31)], "device_id string, x long"
        ),
        2,
    )
    got = {r.device_id: r.x for r in t.read_latest(99).collect()}
    assert got == {ka: 30, kb: 31}


ZID = "c5vj26evvhfjvfseaulg"
# rule bbox: 20 km around the zone; the zone itself is ~400 m across
PROPS = ":center 42.93 -72.27 :radius 20km"
TRIGGERLESS = {
    "sql": f"device :radius 1km lt polygon({ZID}) {{ {PROPS} }}",
    "kernel": f"device :radius 100m intersects polygon({ZID}) {{ {PROPS} }}",
    "pairjoin": f"device :radius 300m intersects devices(@) {{ {PROPS} }}",
}


def _contract_engine(rule, snap_rows):
    from spinix_spark.engine.stores import zone_from_ring

    eng = Engine()
    eng.zones.add(
        zone_from_ring(
            ZID,
            np.array(
                [(42.928, -72.272), (42.928, -72.268), (42.932, -72.268),
                 (42.932, -72.272), (42.928, -72.272)]
            ),
        )
    )
    for row in snap_rows:
        eng.devices.insert_or_replace(row)
    eng.add_rule(rule, rule_id=RID)
    return eng


def _contract_points(n_dev=6, per_dev=2):
    """Half the devices sit in the zone; the other half are 3 km north:
    inside the rule bbox, outside the zone-proximity prune."""
    n = n_dev * per_dev
    dev = [i % n_dev for i in range(n)]
    return pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "device_id": [f"d{d:019d}" for d in dev],
            "layer_id": [LAYER] * n,
            "lat": [42.930 if d < n_dev // 2 else 42.957 for d in dev],
            "lon": [-72.270] * n,
            "datetime": [1700000000 + 60 * i for i in range(n)],
            "speed": [0.0] * n,
            "status": [0] * n,
        }
    )


def _oracle_canon(events: pd.DataFrame):
    return sorted(
        (e["url"], e["device_id"], e["rule_id"], m["left_kw"], m["right_kw"],
         m["op"], tuple(sorted(m["right_refs"] or [])), e["datetime"])
        for e in events.to_dict("records")
        for m in e["matches"]
    )


@pytest.mark.parametrize("path", sorted(TRIGGERLESS))
def test_triggerless_spec_keeps_no_state_on_any_surface(spark, path):
    """The state contract: a ``{...}`` props block without ``:trigger``
    marks a spec stateful, but no event can depend on its state, so no
    surface keeps any — Engine.detect_batch, the kernel, the SQL path
    and the pair join all emit zero state rows and the same events, for
    rows in the rule bbox that the zone prune drops as well as rows it
    keeps."""
    from spinix_spark.engine.devices_at import is_at_node
    from spinix_spark.engine.runtime import at_verdict_col
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    rule = TRIGGERLESS[path]
    snap_rows = [
        {"device_id": f"s{i:019d}", "layer_id": LAYER, "lat": 42.930 + 0.001 * i,
         "lon": -72.270, "datetime": 1690000000 + i}
        for i in range(3)
    ]
    pdf = _contract_points()
    points = spark.createDataFrame(pdf).repartition(3)
    devices_df = (
        spark.createDataFrame(pd.DataFrame(snap_rows)) if path == "pairjoin" else None
    )

    oracle = _contract_engine(rule, snap_rows)
    want = _oracle_canon(oracle.detect_batch(pdf))
    assert len(want) > 0

    eng = _contract_engine(rule, snap_rows)
    r = eng.rules[RID]
    compiled = try_compile_rule_sql(eng, r, columns=points.columns) is not None
    assert compiled == (path == "sql")
    verdict_cols = [at_verdict_col(n) for n in r.spec.nodes if is_at_node(n)]
    assert bool(verdict_cols) == (path == "pairjoin")
    with_verdict = try_compile_rule_sql(eng, r, columns=points.columns + verdict_cols)
    assert (with_verdict is not None) == (path != "kernel")
    for prefer_sql in (True, False):
        ev, st = split_output(
            detect_batch_spark(
                points, eng, prefer_sql=prefer_sql, devices_df=devices_df
            )
        )
        assert st.count() == 0, (path, prefer_sql)
        assert _ev_canon(ev) == want, (path, prefer_sql)
    assert oracle.states.snapshot() == []


@pytest.mark.parametrize("trigger,n_shuffles", [("", 0), (":trigger every 600s", 1)])
def test_kernel_device_shuffle_only_for_state(spark, trigger, n_shuffles):
    """Plan-shape budget: the kernel stage hash-partitions by device_id
    only for rules that carry state; a trigger-less buffered zone rule
    runs where its rows already are."""
    eng = _contract_engine(
        f"device :radius 100m intersects polygon({ZID}) {{ {PROPS} {trigger} }}", []
    )
    out = detect_batch_spark(spark.createDataFrame(_contract_points()), eng)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("hashpartitioning(device_id") == n_shuffles, plan


def test_collect_guard_snapshot(spark, monkeypatch):
    import spinix_spark.engine.spark_pipeline as sp

    monkeypatch.setattr(sp, "SNAPSHOT_GUARD_ROWS", 2)
    points = spark.createDataFrame(_mk_points(n=30, n_dev=9))
    with pytest.raises(ValueError, match="snapshot_df_from_points"):
        sp.snapshot_from_points(points)


def test_collect_guard_stream_detect(spark, tmp_path, monkeypatch):
    import spinix_spark.streaming.detect_stream as ds

    monkeypatch.setattr(ds, "COLLECT_GUARD_ROWS", 2)
    src = str(tmp_path / "src")
    spark.createDataFrame(_mk_points(n=6)).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    eng = Engine()
    eng.add_rule(
        "speed range [0 .. 500] { :center 42.93 -72.27 :radius 500km }",
        rule_id=RID,
    )
    q = ds.stream_detect(stream, eng, lambda e, b: None,
                         checkpoint_dir=str(tmp_path / "ckpt"))
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="stream_detect_scalable"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed on the guard")


def test_at_stateful_plan_shape(spark):
    """Plan-shape regression (PLANS.md round 3): a stateful @ rule
    evaluates the pair-refine stage ONCE — exactly two MapInPandas
    stages (candidate refine + kernel stage) and one device_id
    repartition. A third MapInPandas means a diamond over row_matches
    re-evaluating the k-ring join (measured ~35% slower)."""
    rule = (
        "device :radius 400m intersects devices(@)"
        " { :center 42.93 -72.27 :radius 50km :trigger once }"
    )
    eng = Engine()
    eng.add_rule(rule, rule_id=RID)
    points = spark.createDataFrame(_mk_points(n=20))
    devices_df = spark.createDataFrame(pd.DataFrame(_mk_snapshot(m=5)))
    out = detect_batch_spark(points, eng, devices_df=devices_df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2, plan
    assert "hashpartitioning(device_id" in plan, plan


def test_stream_rules_plan_budget(spark, tmp_path):
    """Plan-shape budget of the benchmark stream's batch: its two
    stateful rules (a buffered zone verb and a devices(@) verb), with
    the snapshot and the prior states as DataFrames, fold in ONE kernel
    stage — two MapInPandas (@ candidate refine + kernel) and two
    device_id exchanges (the rows and the state carry). The prior
    states join as the stored per-device arrays, so no state
    aggregation runs. A second fold stage would add a MapInPandas and
    two exchanges."""
    from perfbench.workloads import gen_params, new_engine, stream_rules, synth_positions

    from pyspark.sql.types import ArrayType

    from spinix_spark.engine.spark_pipeline import STATE_STRUCT

    eng = new_engine()
    for k, spec in enumerate(stream_rules()):
        eng.add_rule(spec, rule_id="rbench" + f"{k:014d}")
    pts = spark.createDataFrame(
        synth_positions(gen_params("stream_stateful", 1, 300), 0, 300)
    )
    # the prior states as the stream reads them: one parquet row per device
    pts.select("device_id").distinct().select(
        "device_id", F.lit(None).cast(ArrayType(STATE_STRUCT)).alias("states")
    ).write.parquet(str(tmp_path / "states"))
    states = spark.read.parquet(str(tmp_path / "states"))
    out = detect_batch_spark(
        pts, eng,
        devices_df=pts.select("device_id", "layer_id", "lat", "lon", "datetime"),
        states=states,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2, plan
    assert plan.count("Exchange hashpartitioning(device_id") <= 2, plan
    assert "collect_list" not in plan, plan


def test_snapshot_from_points_breaks_datetime_ties(spark):
    """One latest-position rule: on a datetime tie snapshot_from_points
    keeps the row snapshot_df_from_points keeps (lat, then lon,
    descending), whatever the input order."""
    from spinix_spark.engine.devices_at import snapshot_df_from_points
    from spinix_spark.engine.spark_pipeline import snapshot_from_points

    rows = [
        ("d0", LAYER, 42.0, -72.0, 5),
        ("d0", LAYER, 42.5, -72.0, 5),
        ("d0", LAYER, 42.5, -71.0, 5),
        ("d0", LAYER, 43.0, -70.0, 4),
    ]
    schema = "device_id string, layer_id string, lat double, lon double, datetime long"
    for order in (rows, rows[::-1]):
        pts = spark.createDataFrame(order, schema).coalesce(1)
        got = snapshot_from_points(pts).lookup("d0")
        assert (got["lat"], got["lon"]) == (42.5, -71.0), order
        (df_row,) = snapshot_df_from_points(pts).collect()
        assert df_row.asDict() == got


def test_at_stateful_random_worlds(spark):
    """Randomized stateful fuzz: random verbs/buffers/snapshots ×
    random trigger props, multi-partition with tiny Arrow batches —
    the pair-join + fold composition must equal the broadcast kernel
    (whose trigger fold is itself pinned to a sequential simulator in
    test_trigger_fuzz.py) on every world, events AND states."""
    rng = np.random.default_rng(77)
    verbs = ["intersects", "near", "nintersects"]
    props = [
        ":trigger once",
        ":trigger every 500s",
        ":trigger 2 times interval 0s :reset after 1200s",
    ]
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        for seed in (3, 41):
            n = int(rng.integers(50, 100))
            pdf = _mk_points(n=n, seed=seed)
            snap_rows = _mk_snapshot(rng_seed=seed + 1, m=int(rng.integers(8, 20)))
            verb = verbs[int(rng.integers(0, len(verbs)))]
            radius = int(rng.integers(150, 700))
            prop = props[int(rng.integers(0, len(props)))]
            rule = (
                f"device :radius {radius}m {verb} devices(@)"
                f" {{ :center 42.93 -72.27 :radius 50km {prop} }}"
            )
            points = spark.createDataFrame(pdf).repartition(7)

            eng_k = Engine()
            for row in snap_rows:
                eng_k.devices.insert_or_replace(row)
            eng_k.add_rule(rule, rule_id=RID)
            ev_k, st_k = split_output(detect_batch_spark(points, eng_k))

            eng_j = Engine()
            eng_j.add_rule(rule, rule_id=RID)
            ddf = spark.createDataFrame(pd.DataFrame(snap_rows))
            ev_j, st_j = split_output(
                detect_batch_spark(points, eng_j, devices_df=ddf, at_salt=3)
            )
            assert _ev_canon(ev_k) == _ev_canon(ev_j), f"seed={seed} {rule}"
            assert _st_canon(st_k) == _st_canon(st_j), f"seed={seed} {rule}"
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

