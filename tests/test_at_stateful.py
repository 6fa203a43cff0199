"""Fact-scale STATEFUL devices(@): the pair-join candidate strategy
composed with the sequential per-device trigger fold
(spark_pipeline._at_rule_events_stateful) must reproduce the broadcast
kernel path exactly — events AND trigger-state rows — across trigger
kinds, partitionings, and multi-batch state carries. Also covers the
loud-failure guards for @ rules that fall outside the pair-join shape
(reference semantics: runtime.go:103-163 + 1461-1483).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output

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
        (r.device_id, r.rule_id, r.last_seen, r.last_reset, r.hits, r.now)
        for r in st.collect()
    )


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
    path's state_df carry must equal the kernel path's state_rows
    carry, including the merged final states."""
    from spinix_spark.engine.spark_pipeline import merge_state_df, merge_state_rows

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
    prior = merge_state_rows([], [r.asDict() for r in st1k.collect()])
    ev2k, st2k = split_output(detect_batch_spark(p2, eng_k, state_rows=prior))
    merged_k = merge_state_rows(prior, [r.asDict() for r in st2k.collect()])

    eng_j = Engine()
    eng_j.add_rule(rule, rule_id=RID)
    ev1j, st1j = split_output(detect_batch_spark(p1, eng_j, devices_df=devices_df))
    st1j = st1j.cache()
    ev2j, st2j = split_output(
        detect_batch_spark(p2, eng_j, devices_df=devices_df, state_df=st1j)
    )
    merged_j = merge_state_df(st1j, st2j)

    assert _ev_canon(ev1k) == _ev_canon(ev1j)
    assert _ev_canon(ev2k) == _ev_canon(ev2j)
    assert len(_ev_canon(ev2k)) > 0  # leftover quota fires in batch 2
    assert sorted(
        (r["device_id"], r["rule_id"], r["last_seen"], r["last_reset"], r["hits"])
        for r in merged_k
    ) == sorted(
        (r.device_id, r.rule_id, r.last_seen, r.last_reset, r.hits)
        for r in merged_j.collect()
    )


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
        detect_batch_spark(points, eng, devices_df=snap, state_df=st1)
    )
    assert ev2.count() == 0  # quota was consumed against the empty snapshot


def test_at_kernel_fallback_guard(spark):
    """An @ rule OUTSIDE the pair-join shape (OR fold) with devices_df
    supplied and an EMPTY broadcast snapshot must raise, not silently
    evaluate @ as false."""
    rule = (
        "device :radius 300m intersects devices(@) or speed range [0 .. 10]"
        " { :center 42.93 -72.27 :radius 50km }"
    )
    eng = Engine()
    eng.add_rule(rule, rule_id=RID)
    points = spark.createDataFrame(_mk_points(n=9))
    devices_df = spark.createDataFrame(pd.DataFrame(_mk_snapshot(m=3)))
    with pytest.raises(ValueError, match="pair-join"):
        detect_batch_spark(points, eng, devices_df=devices_df).count()


def test_at_kernel_fallback_ok_when_snapshot_populated(spark):
    """Same OR-fold rule, but engine.devices IS populated: the kernel
    fallback is correct, so no raise."""
    rule = (
        "device :radius 300m intersects devices(@) or speed range [0 .. 10]"
        " { :center 42.93 -72.27 :radius 50km }"
    )
    snap_rows = _mk_snapshot(m=3)
    eng = Engine()
    for row in snap_rows:
        eng.devices.insert_or_replace(row)
    eng.add_rule(rule, rule_id=RID)
    points = spark.createDataFrame(_mk_points(n=9))
    devices_df = spark.createDataFrame(pd.DataFrame(snap_rows))
    out = detect_batch_spark(points, eng, devices_df=devices_df)
    out.count()  # no raise


def test_stream_scalable_guard_mirrors_eligibility(spark, tmp_path):
    """stream_detect_scalable rejects @ rules outside the pair-join
    shape up front (OR fold here) — and ACCEPTS stateful @ rules, which
    round 2 rejected blanket-wise."""
    from spinix_spark.streaming.detect_stream import stream_detect_scalable

    src = str(tmp_path / "src")
    spark.createDataFrame(_mk_points(n=4)).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    eng_bad = Engine()
    eng_bad.add_rule(
        "device :radius 300m intersects devices(@) or speed range [0 .. 10]"
        " { :center 42.93 -72.27 :radius 50km }",
        rule_id=RID,
    )
    with pytest.raises(ValueError, match="pair-join|kernel"):
        stream_detect_scalable(
            stream, eng_bad, lambda e, b: None, work_dir=str(tmp_path / "w")
        )


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
    "sql": f"device intersects polygon({ZID}) {{ {PROPS} }}",
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
    from spinix_spark.engine.devices_at import devices_at_node
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
    assert (devices_at_node(r) is not None) == (path == "pairjoin")
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
    """Plan-shape regression (PLANS.md round 3): the stateful @
    strategy must evaluate the pair-refine stage ONCE — exactly two
    MapInPandas stages (candidate refine + trigger fold) and one
    device_id repartition. A third MapInPandas means a diamond over
    row_matches re-evaluating the k-ring join (measured ~35% slower)."""
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

