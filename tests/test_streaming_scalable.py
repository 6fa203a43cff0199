"""Fact-scale streaming detect: positions and trigger state in one
per-device parquet table, no driver collect, devices(@) via the
pair-join strategy, multi-partition."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from spinix_spark.engine.detect import Engine
from spinix_spark.streaming.detect_stream import stream_detect_scalable

LAYER = "0" * 20
RULE = "device :radius 300m intersects devices(@) { :center 42.93 -72.27 :radius 50km }"


def _batch(i: int, lat, lon, n=4):
    return pd.DataFrame(
        {
            "url": [f"b{i}u{j}" for j in range(n)],
            "device_id": [f"d{j:019d}" for j in range(n)],
            "layer_id": [LAYER] * n,
            "lat": lat,
            "lon": lon,
            "datetime": [1700000000 + i * 100 + j for j in range(n)],
            "speed": [10.0] * n,
            "status": [1] * n,
        }
    )


def test_stream_detect_scalable_at_rule(spark, tmp_path):
    # batch 0: four devices clustered ~100 m apart; batch 1: two of
    # them move across town (they still see batch-0 positions of the
    # others in the snapshot — evaluate-then-insert)
    b0 = _batch(0, [42.9301, 42.9302, 42.9310, 42.9400], [-72.2701] * 4)
    b1 = _batch(1, [42.9303, 42.9600, 42.9311, 42.9401], [-72.2701] * 4)
    src = str(tmp_path / "src")
    spark.createDataFrame(b0).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    engine = Engine()
    engine.add_rule(RULE, rule_id="r" + "0" * 19)

    got: dict[int, list] = {}

    def sink(events, batch_id):
        got[batch_id] = events.collect()

    q = stream_detect_scalable(
        stream,
        engine,
        sink,
        work_dir=str(tmp_path / "work"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    # batch 0: empty snapshot → no events
    assert got.get(0, []) == [] or len(got[0]) == 0
    # batch 1: rows near the batch-0 cluster positions match; the
    # device that moved to 42.96 matches nothing
    ev = got[1]
    assert len(ev) > 0
    by_dev = {}
    for r in ev:
        by_dev.setdefault(r.device_id, set()).update(r.right_refs)
    d = [f"d{j:019d}" for j in range(4)]
    # d0 at 42.9303 is within 300 m of batch-0 d0/d1 (and d2 ~100m)
    assert d[0] in by_dev and by_dev[d[0]] >= {d[0], d[1]}
    assert d[1] not in by_dev  # moved to 42.96: nothing within 300 m
    assert d[3] in by_dev and d[3] in by_dev[d[3]]  # sees own old position

    # the device positions advanced on disk (bucketed per-batch versions)
    from spinix_spark.streaming.state_table import BucketedVersionTable

    snap_t = BucketedVersionTable(spark, str(tmp_path / "work" / "devices"))
    bv = snap_t.bucket_versions()
    assert bv and all(vs[-1] == 1 for vs in bv.values())  # all touched in b1
    latest = {r.device_id: r.lat for r in snap_t.read_latest(2).collect()}
    assert latest[d[1]] == 42.9600  # batch-1 position won


def test_stream_detect_scalable_trigger_state(spark, tmp_path):
    """Trigger state persists across micro-batches through the
    versioned parquet state table: a :trigger once attribute rule
    fires once per device in batch 0 and is fully suppressed in
    batch 1 — with no state ever collecting to the driver."""
    b0 = _batch(0, [42.93] * 4, [-72.27] * 4)
    b1 = _batch(1, [42.93] * 4, [-72.27] * 4)
    src = str(tmp_path / "src")
    spark.createDataFrame(b0).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    engine = Engine()
    engine.add_rule(
        "status eq 1 { :center 42.93 -72.27 :radius 5km :trigger once }",
        rule_id="r" + "1" * 19,
    )
    got: dict[int, int] = {}

    def sink(events, batch_id):
        got[batch_id] = events.count()

    q = stream_detect_scalable(
        stream,
        engine,
        sink,
        work_dir=str(tmp_path / "work"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert got[0] == 4  # once per device
    assert got[1] == 0  # carried state suppresses the replay
    from spinix_spark.streaming.state_table import BucketedVersionTable

    st = BucketedVersionTable(
        spark, str(tmp_path / "work" / "devices")
    ).read_latest(10**9)
    rows = {
        (r.device_id, r.rule_id): r.hits
        for r in st.select("device_id", F.inline("states")).collect()
    }
    assert len(rows) == 4 and all(h == 1 for h in rows.values())


def test_stream_detect_scalable_version_retention(spark, tmp_path, monkeypatch):
    """retain_versions bounds the on-disk history of the one devices
    table while each batch still evaluates against its predecessor
    (trigger state stays continuous across the pruned horizon). Each
    micro-batch reads the table once, writes it once and prunes it
    once, with no dirty-bucket collect."""
    import os
    from collections import Counter

    from spinix_spark.streaming.state_table import BucketedVersionTable

    calls = Counter()
    for name in ("read_latest", "write_version", "prune", "dirty_buckets"):
        fn = getattr(BucketedVersionTable, name)

        def counted(self, *a, _fn=fn, _name=name, **kw):
            calls[_name] += 1
            return _fn(self, *a, **kw)

        monkeypatch.setattr(BucketedVersionTable, name, counted)

    src = str(tmp_path / "src")
    n_batches = 5
    for i in range(n_batches):
        b = _batch(i, [42.93] * 4, [-72.27] * 4)
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    engine = Engine()
    engine.add_rule(
        "status eq 1 { :center 42.93 -72.27 :radius 5km :trigger 2 times interval 0s }",
        rule_id="r" + "2" * 19,
    )
    got = {}

    def sink(events, batch_id):
        got[batch_id] = events.count()

    q = stream_detect_scalable(
        stream, engine, sink,
        work_dir=str(tmp_path / "work"), checkpoint_dir=str(tmp_path / "ckpt"),
        retain_versions=2,
    )
    q.awaitTermination(240)
    # trigger continuity: 2-times quota is spent in batches 0+1, then 0
    assert [got[i] for i in range(n_batches)] == [4, 4, 0, 0, 0]
    assert calls == {
        "read_latest": n_batches, "write_version": n_batches, "prune": n_batches
    }, calls
    # one table under work_dir; every device was touched every batch,
    # so each bucket keeps exactly its newest retain+1 = 3 versions
    assert os.listdir(tmp_path / "work") == ["devices"]
    bv = BucketedVersionTable(
        spark, str(tmp_path / "work" / "devices")
    ).bucket_versions()
    assert bv
    for b, versions in bv.items():
        assert versions == [2, 3, 4], (b, versions)


# --- bucketed incremental state table (round 4) ---


def _mtimes_under(path):
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_bucketed_table_dirty_write_leaves_others_untouched(spark, tmp_path):
    """A merge restricted to the updated keys' buckets (in_buckets_of)
    and written with write_version rewrites ONLY those buckets:
    untouched buckets get no new version dir and their existing data
    files are byte-untouched (mtime_ns unchanged) — per-batch write
    I/O is O(delta), not O(universe)."""
    from pyspark.sql import functions as F

    from spinix_spark.streaming.state_table import BucketedVersionTable

    base = str(tmp_path / "tbl")
    t = BucketedVersionTable(spark, base, key_col="device_id", n_buckets=256)
    full = spark.createDataFrame(
        [(f"d{i}", float(i)) for i in range(8)], "device_id string, v double"
    )
    t.write_version(full, 0)
    bv0 = t.bucket_versions()
    assert sum(len(vs) for vs in bv0.values()) == len(bv0)  # one version each
    before = _mtimes_under(base)

    upd = spark.createDataFrame([("d0", 100.0)], "device_id string, v double")

    def merge(prior, u):
        allr = prior.withColumn("_p", F.lit(0)).unionByName(
            u.withColumn("_p", F.lit(1))
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("device_id").orderBy(F.col("_p").desc())
        return (
            allr.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn", "_p")
        )

    written = t.write_version(
        merge(t.in_buckets_of(t.read_latest(1), upd), upd), 1
    )
    d0_bucket = t.dirty_buckets(upd)
    assert written == d0_bucket and len(written) == 1
    bv1 = t.bucket_versions()
    for b, vs in bv1.items():
        assert vs == ([0, 1] if b in written else [0]), (b, vs)
    # every pre-existing file is untouched (the dirty bucket's v0 dir
    # is immutable too — the new data landed in its v1)
    after = _mtimes_under(base)
    for p, m in before.items():
        assert after.get(p) == m, f"rewritten: {p}"
    # the merged view is correct
    got = {r.device_id: r.v for r in t.read_latest(10**9).collect()}
    assert got["d0"] == 100.0 and got["d3"] == 3.0 and len(got) == 8


def test_bucketed_table_replay_contract(spark, tmp_path):
    """Per-bucket 'newest version STRICTLY BELOW batch_id' + idempotent
    vN replacement — the checkpointed-replay contract of the flat
    layout, now per bucket."""
    from spinix_spark.streaming.state_table import BucketedVersionTable

    t = BucketedVersionTable(spark, str(tmp_path / "tbl"), n_buckets=4)
    for v, val in ((0, 10), (1, 20), (3, 30)):
        t.write_version(
            spark.createDataFrame(
                [("k", val)], "device_id string, x long"
            ),
            v,
        )
    assert t.read_latest(0) is None
    assert t.read_latest(1).collect()[0].x == 10
    # replay of batch 3 must see v1, not its own v3 output
    assert t.read_latest(3).collect()[0].x == 20
    assert t.read_latest(99).collect()[0].x == 30
    assert BucketedVersionTable(spark, str(tmp_path / "nope")).read_latest(5) is None
    # replaying batch 3 with different data replaces v3 cleanly
    t.write_version(
        spark.createDataFrame([("k", 31)], "device_id string, x long"), 3
    )
    assert t.read_latest(99).collect()[0].x == 31


def test_stream_scalable_incremental_buckets(spark, tmp_path):
    """Streaming end to end: batches 1-2 touch ONE device out of 8 —
    the 7 untouched devices' buckets keep exactly their
    batch-0 version, with batch-0 files' mtimes unchanged across the
    later batches (captured between availableNow runs sharing one
    checkpoint)."""
    from spinix_spark.streaming.state_table import BucketedVersionTable

    n = 8
    src = str(tmp_path / "src")

    def feed(i, devs):
        b = pd.DataFrame(
            {
                "url": [f"b{i}u{j}" for j in devs],
                "device_id": [f"d{j:019d}" for j in devs],
                "layer_id": [LAYER] * len(devs),
                "lat": [42.93 + 0.0001 * j for j in devs],
                "lon": [-72.27] * len(devs),
                "datetime": [1700000000 + i * 100 + j for j in devs],
                "speed": [10.0] * len(devs),
                "status": [1] * len(devs),
            }
        )
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 10)
            .parquet(src)
        )
        engine = Engine()
        engine.add_rule(
            "status eq 1 { :center 42.93 -72.27 :radius 5km :trigger once }",
            rule_id="r" + "3" * 19,
        )
        q = stream_detect_scalable(
            stream,
            engine,
            lambda e, b: e.count(),
            work_dir=str(tmp_path / "work"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(180)

    feed(0, range(n))
    run_once()
    snap_base = str(tmp_path / "work" / "devices")
    before_snap = _mtimes_under(snap_base)
    snap_t = BucketedVersionTable(spark, snap_base)
    hot = set(
        snap_t.dirty_buckets(
            spark.createDataFrame([("d" + "0" * 19,)], "device_id string")
        )
    )

    feed(1, [0])
    run_once()
    feed(2, [0])
    run_once()

    bv = snap_t.bucket_versions()
    assert len(bv) >= 2  # 8 devices spread over >1 bucket
    for b, vs in bv.items():
        if b in hot:
            assert vs == [0, 1, 2], (b, vs)
        else:
            assert vs == [0], (b, vs)  # never rewritten
    # batch-0 files byte-untouched through batches 1-2
    after_snap = _mtimes_under(snap_base)
    for p, m in before_snap.items():
        assert after_snap.get(p) == m, f"devices table rewritten: {p}"
    # and the merged table is still the full 8-device latest view, each
    # device with its one carried trigger state
    rows = snap_t.read_latest(10**9).collect()
    latest = {r.device_id: r.datetime for r in rows}
    assert len(latest) == n
    assert latest["d" + "0" * 19] == 1700000200  # batch-2 position won
    assert latest[f"d{7:019d}"] == 1700000007  # untouched batch-0 row
    assert all(len(r.states) == 1 and r.states[0].hits == 1 for r in rows)


def test_empty_devices_ref_rule_refused(spark, tmp_path):
    """Rules with EXPLICIT device refs resolve positions from
    engine.devices at compile time; with an empty snapshot they would
    silently match nothing — fact-scale entry points must refuse."""
    import pytest

    from spinix_spark.engine.spark_pipeline import detect_batch_spark

    OG = "c5vj26evvhfjvfseauog"
    spec = (
        f"device NEAR devices({OG}) :radius 300m"
        " { :center 42.93 -72.27 :radius 10km }"
    )
    pts = spark.createDataFrame(_batch(0, [42.93] * 4, [-72.27] * 4))

    eng = Engine()
    eng.add_rule(spec, rule_id="r" + "4" * 19)
    snap = pts.select("device_id", "layer_id", "lat", "lon")
    with pytest.raises(ValueError, match="engine.devices.*EMPTY|EMPTY"):
        detect_batch_spark(pts, eng, devices_df=snap)

    src = str(tmp_path / "src")
    pts.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    with pytest.raises(ValueError, match="empty broadcast device snapshot"):
        stream_detect_scalable(
            stream, eng, lambda e, b: None, work_dir=str(tmp_path / "w")
        )

    # populated snapshot → accepted (dimension-sized refs registered)
    eng.devices.insert_or_replace(
        {"device_id": OG, "layer_id": LAYER, "lat": 42.93, "lon": -72.27}
    )
    out = detect_batch_spark(pts, eng, devices_df=snap)
    assert out.count() >= 0


def test_two_table_work_dir_refused(spark, tmp_path):
    """A work_dir written by the two-table layout (snapshot/ + state/)
    is refused at start instead of resuming with empty trigger state."""
    import pytest

    src = str(tmp_path / "src")
    spark.createDataFrame(_batch(0, [42.93] * 4, [-72.27] * 4)).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    engine = Engine()
    engine.add_rule(
        "status eq 1 { :center 42.93 -72.27 :radius 5km :trigger once }",
        rule_id="r" + "5" * 19,
    )
    active = len(spark.streams.active)
    for old in ("snapshot", "state"):
        work = tmp_path / f"work-{old}"
        (work / old / "bucket=0" / "v0").mkdir(parents=True)
        with pytest.raises(ValueError, match=f"{old}/.*two-table state layout"):
            stream_detect_scalable(stream, engine, lambda e, b: None, work_dir=str(work))
    assert len(spark.streams.active) == active  # no query started


def test_snapshot_keeps_newest_row_on_every_surface(spark, tmp_path):
    """A micro-batch that holds a device's rows out of datetime order
    leaves its NEWEST row in the snapshot — in Engine.detect_batch as
    in the stream's devices table — so the next batch's devices(@)
    events agree across surfaces."""
    d0, d1, d2 = (f"d{j:019d}" for j in range(3))

    def rows(specs):
        return pd.DataFrame(
            {
                "url": [f"u{dt}" for _, dt, _ in specs],
                "device_id": [d for d, _, _ in specs],
                "layer_id": [LAYER] * len(specs),
                "lat": [lat for _, _, lat in specs],
                "lon": [-72.27] * len(specs),
                "datetime": [1700000000 + dt for _, dt, _ in specs],
                "speed": [10.0] * len(specs),
                "status": [1] * len(specs),
            }
        )

    # batch 0: d0 at t=200 (42.930), then d0 at t=100 (42.950, 2.2 km north)
    b0 = rows([(d0, 200, 42.9300), (d0, 100, 42.9500)])
    # batch 1: d1 next to d0's newest position, d2 next to its older one
    b1 = rows([(d1, 300, 42.9301), (d2, 301, 42.9501)])

    engine = Engine()
    engine.add_rule(RULE, rule_id="r" + "0" * 19)
    engine.detect_batch(b0)
    kept = engine.devices.lookup(d0)
    assert (kept["datetime"], kept["lat"]) == (1700000200, 42.9300)
    want = sorted(
        (e["url"], tuple(sorted(m["right_refs"])))
        for e in engine.detect_batch(b1).to_dict("records")
        for m in e["matches"]
    )
    assert want == [("u300", (d0,))]

    src = str(tmp_path / "src")
    for b in (b0, b1):
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_engine = Engine()
    stream_engine.add_rule(RULE, rule_id="r" + "0" * 19)
    got: dict[int, list] = {}

    def sink(events, batch_id):
        got[batch_id] = sorted(
            (r.url, tuple(sorted(r.right_refs))) for r in events.collect()
        )

    q = stream_detect_scalable(
        stream,
        stream_engine,
        sink,
        work_dir=str(tmp_path / "work"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert got[1] == want
