"""Seeded inputs, the benchmark workloads, and their output checks.

Each workload is a closed loop driven from one process: the next
repetition starts when the previous one has produced its complete
result. The generator's parameters (device count, grid, hot-cell
share, near-duplicate share) come from the workload seed; the program
under test receives only the generated pages DataFrame (batch
workloads) or the micro-batch parquet files (stream workload).

Every library call a layer owns goes through ``tracer`` so the traced
run can time it and tag its Spark jobs; the untraced run passes a
no-op tracer, so both runs execute the same actions in the same order.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spinix_spark.engine.detect import Engine
from spinix_spark.engine.spark_pipeline import detect_batch_spark, rules_prune_expr, split_output
from spinix_spark.engine.stores import zone_from_ring
from spinix_spark.engine.tiles import point_density_raster
from spinix_spark.geo.cells import DEFAULT_SCHEME
from spinix_spark.geo.rings import circle_ring
from spinix_spark.io.geoparse import cell_column, geoparse_points
from spinix_spark.io.pages import BASE_LAT, BASE_LON, GRID_STEP_DEG
from spinix_spark.queries_text import neardup_drop_ids
from spinix_spark.streaming.detect_stream import stream_detect_scalable

# Fleet size range, around the ``io.pages`` default of 1000 devices.
DEVICES = (990, 1011)
STREAM_BUCKETS = 16  # state-table buckets of the stream (see SIZES)
BASE_TS = 1700000000  # Tue 2023-11-14 22:13:20 UTC
BODY_TOKENS = 24  # words per page body: long enough for 3-shingle LSH
VOCAB = 5000

# Input sizes per workload. ``tiny`` keeps the self-tests fast; ``full``
# is what the benchmark measures. A stream batch has 10k rows from a fleet
# of ~1000 devices, so every state bucket is dirty in every batch. The
# state tables get 16 buckets, not the library's default 256: a batch's
# cost grows with the buckets it rewrites (on a shared 4-core host, ~30 s
# a batch at 256, ~15 s at 64, ~7 s at 16), and a run must time several
# batches within its budget to report a steady median. A stream
# repetition publishes ``stream_batches`` files at once and ends when
# the last has committed. A neardup repetition costs about the same at
# 20k and 30k pages (its jobs' fixed cost dominates), so 20k it is.
SIZES = {
    "full": {"neardup_e2e": 20_000, "stream_batches": 3, "stream_rows": 10_000},
    "tiny": {"neardup_e2e": 3_000, "stream_batches": 1, "stream_rows": 300},
}


# --- seeded generator -------------------------------------------------


@dataclass(frozen=True)
class GenParams:
    n_pages: int
    n_devices: int
    grid: int
    hot_share: float
    dup_share: float
    salt: int


def gen_params(workload: str, seed: int, n_pages: int) -> GenParams:
    """Generator parameters drawn from the seed. The ranges are narrow
    on purpose (about ±1 %): the seed changes which pages, devices and
    duplicates exist, not how much work a run does, so runs with
    different seeds measure the same load."""
    rng = random.Random(f"{workload}:{seed}")
    return GenParams(
        n_pages=n_pages,
        n_devices=rng.randrange(*DEVICES),
        grid=rng.randrange(45, 47),
        hot_share=round(rng.uniform(0.099, 0.101), 4),
        dup_share=round(rng.uniform(0.198, 0.202), 4) if workload == "neardup_e2e" else 0.0,
        salt=rng.randrange(1, 2**31 - 1),
    )


def _mix(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finaliser: a well-spread uint64 hash of each element."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _h(salt: int, x: np.ndarray, k: int | np.ndarray) -> np.ndarray:
    """uint64 hash of each ``x`` for stream ``k``, keyed by salt."""
    return _mix(_mix(x ^ np.uint64(salt)) + np.asarray(k, dtype=np.uint64))


def _dev_ids(p: GenParams) -> np.ndarray:
    """The fleet's 20-character device ids (``d`` + 19 base-32 digits)."""
    return np.array(["d" + np.base_repr(d, 32).lower().rjust(19, "0") for d in range(p.n_devices)])


def _place(p: GenParams, src: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lat, lon, speed) of rows ``src``: a grid cell (``hot_share`` of
    rows in cell 0), a jitter inside it, and a speed."""
    cell = np.where(_h(p.salt, src, 2) % np.uint64(10000) < int(p.hot_share * 10000),
                    np.uint64(0), _h(p.salt, src, 5) % np.uint64(p.grid * p.grid))
    gy = (cell // np.uint64(p.grid)).astype(np.float64)
    gx = (cell % np.uint64(p.grid)).astype(np.float64)
    jlat = ((_h(p.salt, src, 6) % np.uint64(20000)).astype(np.float64) - 10000) / 10_000_000.0
    jlon = ((_h(p.salt, src, 7) % np.uint64(20000)).astype(np.float64) - 10000) / 10_000_000.0
    speed = (_h(p.salt, src, 8) % np.uint64(200)).astype(np.int64)
    return BASE_LAT + gy * GRID_STEP_DEG + jlat, BASE_LON + gx * GRID_STEP_DEG + jlon, speed


def synth_pages(spark: SparkSession, p: GenParams, workdir: str) -> DataFrame:
    """``p.n_pages`` pages in the ``io.pages`` shape ``(url, warc_ts,
    html, text, lang)``.

    Row ``i`` is a pure function of ``(i, salt)``: device, location and
    speed (``_place``), and a body of ``BODY_TOKENS`` random words
    followed by ``located at <lat>, <lon> speed <s> end.`` A
    ``dup_share`` of rows copy an earlier row's text (coordinates
    included) with one body word replaced — near duplicates for the LSH
    stage; sources may themselves be copies, which makes chains for
    connected components. Built with numpy and handed to Spark as a
    parquet file in ``workdir``.
    """
    s = p.salt
    i = np.arange(p.n_pages, dtype=np.uint64)
    dev_id = _dev_ids(p)[(_h(s, i, 1) % np.uint64(p.n_devices)).astype(np.int64)]
    is_dup = _h(s, i, 3) % np.uint64(10000) < int(p.dup_share * 10000)
    back = _h(s, i, 4) % np.uint64(500) + np.uint64(1)
    copied = is_dup & (i >= back)
    src = np.where(copied, i - back, i)  # location, speed and words come from src
    lat, lon, speed = _place(p, src)
    words = _h(s, src[:, None], np.arange(100, 100 + BODY_TOKENS)) % np.uint64(VOCAB)
    sub_at = (_h(s, i, 9) % np.uint64(BODY_TOKENS)).astype(np.int64)
    texts = []
    for k in range(p.n_pages):
        body = ["w" + str(w) for w in words[k].tolist()]
        if copied[k]:
            body[sub_at[k]] = "x" + str(k)
        texts.append(" ".join(body) + f" located at {float(lat[k])!r}, {float(lon[k])!r}"
                     f" speed {speed[k]} end.")
    pdf = pd.DataFrame({
        "url": ["https://bench.test/" + d + "/" + str(k) for k, d in enumerate(dev_id)],
        "ts": BASE_TS + i.astype(np.int64),
        "html": [("<html><body>" + t + "</body></html>").encode() for t in texts],
        "text": texts,
        "lang": np.where(_h(s, i, 10) % np.uint64(100) < 3, "de", "en"),
    })
    path = os.path.join(workdir, "pages.parquet")
    pdf.to_parquet(path, index=False)
    return spark.read.parquet(path).select(
        "url", F.timestamp_seconds("ts").alias("warc_ts"), "html", "text", "lang")


def synth_positions(p: GenParams, first: int, n: int) -> pd.DataFrame:
    """Device positions ``[first, first + n)`` in the shape
    ``geoparse_points`` gives (without ``text``), for the stream's
    micro-batch files. Row ``i`` is a pure function of ``(i, salt)``:
    device, location and speed as in ``synth_pages``; ``datetime`` is
    ``BASE_TS + i``."""
    i = np.arange(first, first + n, dtype=np.uint64)
    dev_id = _dev_ids(p)[(_h(p.salt, i, 1) % np.uint64(p.n_devices)).astype(np.int64)]
    lat, lon, speed = _place(p, i)
    return pd.DataFrame({
        "url": ["https://bench.test/" + d + "/" + str(k) for d, k in zip(dev_id, i.tolist())],
        "device_id": dev_id,
        "layer_id": "0" * 20,
        "lat": lat,
        "lon": lon,
        "datetime": BASE_TS + i.astype(np.int64),
        "speed": speed.astype(np.float64),
        "status": np.zeros(n, dtype=np.int32),
    })


# --- zones and rules --------------------------------------------------


def _zid(k: int) -> str:
    return "c5vjbench" + f"{k:011d}"


# (lat offset, lon offset) in grid steps, radius m, ring steps; zone 0
# sits on the hot cell
ZONES = [(0, 0, 900.0, 6), (3, 4, 1500.0, 8)]


def _zone_center(k: int) -> tuple[float, float]:
    dy, dx, _, _ = ZONES[k]
    return BASE_LAT + dy * GRID_STEP_DEG, BASE_LON + dx * GRID_STEP_DEG


def new_engine() -> Engine:
    engine = Engine()
    for k, (_, _, r, steps) in enumerate(ZONES):
        lat, lon = _zone_center(k)
        engine.zones.add(zone_from_ring(_zid(k), circle_ring(lat, lon, r, steps)))
    return engine


def neardup_rule() -> str:
    """The one detect rule of neardup_e2e: a buffered zone verb and a
    speed range."""
    return (f"device :radius 300m INTERSECTS polygon({_zid(0)}, {_zid(1)})"
            " and speed range [30 .. 170]")


def stream_rules() -> list[str]:
    """One stateful zone rule and one stateful ``devices(@)`` rule."""
    return [
        f"device :radius 300m intersects polygon({_zid(0)}, {_zid(1)}) "
        f"{{ :trigger every 600s :reset after 1h }}",
        f"device :radius 250m intersects devices(@) {{ :center {BASE_LAT} {BASE_LON} "
        f":radius 3km :trigger every 300s :reset after 2h }}",
    ]


def register(engine: Engine, rules: list[str], tracer) -> None:
    for k, spec in enumerate(rules):
        tracer.call("dsl", engine.add_rule, spec, rule_id="rbench" + f"{k:014d}")


# --- event comparison -------------------------------------------------


def spark_event_keys(rows) -> list[tuple]:
    """Canonical match-row keys of detect_batch_spark event rows."""
    return sorted(
        (r["url"], r["rule_id"], r["left_kw"], r["right_kw"], r["op"],
         tuple(sorted(r["right_refs"] or [])))
        for r in rows
    )


def engine_event_keys(events: pd.DataFrame) -> list[tuple]:
    """Canonical match-row keys of Engine.detect_batch events (one key
    per recorded match, reference-id lists as sorted sets)."""
    return sorted(
        (e["url"], e["rule_id"], m["left_kw"], m["right_kw"], m["op"],
         tuple(sorted(m["right_refs"] or [])))
        for e in events.to_dict("records")
        for m in e["matches"]
    )


def _first_diff(a: list, b: list) -> str:
    sa, sb = set(a), set(b)
    only_a, only_b = sorted(sa - sb)[:2], sorted(sb - sa)[:2]
    return f"{len(a)} vs {len(b)} rows; only-spark {only_a}; only-reference {only_b}"


# --- workloads ----------------------------------------------------------


@dataclass
class Rep:
    """One repetition's outcome: the counts every repetition must
    reproduce, plus the outputs the full check reads."""

    counts: dict
    t0: float
    t1: float
    ops: int = 1
    outputs: dict = field(default_factory=dict)
    batch_s: list = field(default_factory=list)


def prune_pass_frac(engine: Engine, points: DataFrame) -> float:
    """Share of detect-input rows inside at least one rule's bbox."""
    n = points.count()
    return points.where(F.expr(rules_prune_expr(engine))).count() / n if n else 0.0


FUNNEL_MIN_CHARS = 30


class NeardupE2E:
    """pages → quality funnel → neardup_drop_ids → anti-join →
    geoparse → one-rule detect → tiles. One operation is one repetition;
    the warm-up repetition is checked in full and every timed one must
    reproduce its counts."""

    name = "neardup_e2e"
    checks_every_rep = False
    ops_per_rep = 1
    WARM_REPS = 3

    def __init__(self, spark, params: GenParams, workdir: str, tracer):
        self.spark = spark
        self.params = params
        self.pages = synth_pages(spark, params, workdir).persist()
        self.n_rows = self.pages.count()
        self.engine = new_engine()
        register(self.engine, [neardup_rule()], tracer)

    def corpus(self) -> DataFrame:
        return (
            self.pages.where((F.col("lang") == "en") & (F.length("text") >= FUNNEL_MIN_CHARS))
            .withColumn("doc_id", F.xxhash64("url"))
            .withColumn("n_chars", F.length("text"))
        )

    @staticmethod
    def points(clean: DataFrame) -> DataFrame:
        return (geoparse_points(clean.drop("doc_id", "n_chars")).drop("text")
                .withColumn("cell", cell_column(DEFAULT_SCHEME)))

    def run(self, tracer, keep_outputs: bool = False) -> Rep:
        t0 = time.time()
        corpus = self.corpus()
        with tracer.span("queries_text"):
            drop = tracer.call("queries_text:neardup_drop_ids", neardup_drop_ids, corpus).persist()
            n_dropped = drop.count()
        clean = corpus.join(drop, "doc_id", "left_anti")
        with tracer.span("io.geoparse"):
            points = tracer.call("io.geoparse:build", lambda: self.points(clean).persist())
            n_clean = points.count()
        with tracer.span("engine.spark_pipeline"):
            out = tracer.call("engine.spark_pipeline:build", detect_batch_spark, points, self.engine)
            events, _ = split_output(out)
            with tracer.span("engine.spark_pipeline:exec"):
                n_events = events.count()
        with tracer.span("engine.tiles"):
            tiles = tracer.call("engine.tiles:build", point_density_raster, points)
            n_tiles = tiles.count()
        rep = Rep(counts={"dropped": n_dropped, "clean": n_clean, "events": n_events,
                          "tiles": n_tiles}, t0=t0, t1=time.time())
        if keep_outputs:
            rep.outputs = {"drop": sorted(r.doc_id for r in drop.collect())}
        drop.unpersist()
        points.unpersist()
        return rep

    def warm_up(self) -> Rep:
        """``WARM_REPS`` repetitions; the last is kept for the full check.
        The first takes about three times as long as a warm one, and the
        next two are still about a third slower while the JVM compiles
        the hot paths; the median over the timed window absorbs the rest
        of that slope."""
        reps = [self.run(_NOOP) for _ in range(self.WARM_REPS - 1)]
        reps.append(self.run(_NOOP, keep_outputs=True))
        self.warm_s = [r.t1 - r.t0 for r in reps]
        return reps[-1]

    def digest(self) -> int:
        """Order-independent checksum of the generated pages."""
        return self.pages.select(F.bit_xor(F.xxhash64("url", "text"))).first()[0]

    def star_edges(self) -> list[tuple[int, int]]:
        """The star edges neardup_drop_ids feeds to connected components,
        built by the same SQL over the same corpus."""
        from spinix_spark.queries_text import (
            _fast_shingle_sig_wide_sql,
            _lsh_star_edges_wide_window,
        )

        self.corpus().select("doc_id", "text").createOrReplaceTempView("_bench_corpus")
        sql = _lsh_star_edges_wide_window("(" + _fast_shingle_sig_wide_sql("_bench_corpus") + ")")
        return [(r.a_id, r.b_id) for r in self.spark.sql(sql).collect()]

    def check(self, rep: Rep) -> list[tuple[int, str]]:
        """The drop set equals a driver-side union-find over the same
        star edges with the keep-longest / min-doc_id rule, and clean
        plus dropped equals funneled."""
        bad = []
        n_chars = {r.doc_id: r.n_chars for r in self.corpus().select("doc_id", "n_chars").collect()}
        edges = self.star_edges()
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps: dict[int, list[int]] = {}
        for node in list(parent):
            comps.setdefault(find(node), []).append(node)
        want = sorted(
            n for members in comps.values()
            for n in sorted(members, key=lambda m: (-n_chars[m], m))[1:]
        )
        if rep.outputs["drop"] != want:
            bad.append("neardup drop set differs from union-find over the star edges: "
                       + _first_diff(rep.outputs["drop"], want))
        if not want:
            bad.append("no near duplicates found: the dedup stage did no work")
        # geoparse keeps every funneled page (each text has a coordinate)
        if rep.counts["clean"] + rep.counts["dropped"] != len(n_chars):
            bad.append(f"clean {rep.counts['clean']} + dropped {rep.counts['dropped']}"
                       f" != funneled {len(n_chars)}")
        self.n_star_edges = len(edges)
        self.drop_ids = want
        return [(0, b) for b in bad]

    def census(self, rep: Rep) -> dict:
        drop = self.spark.createDataFrame([(d,) for d in self.drop_ids], "doc_id long")
        clean = self.corpus().join(drop, "doc_id", "left_anti")
        points = self.points(clean)
        return {"rules": len(self.engine.rules), "events_out": rep.counts["events"],
                "tiles_out": rep.counts["tiles"], "star_edges": self.n_star_edges,
                "dropped": rep.counts["dropped"],
                "geoparse_rows_out_frac": rep.counts["clean"] / clean.count(),
                "prune_pass_frac": prune_pass_frac(self.engine, points)}

    def close(self):
        self.pages.unpersist()


class StreamStateful:
    """Micro-batch parquet files → stream_detect_scalable
    (maxFilesPerTrigger=1) with one stateful zone rule and one stateful
    devices(@) rule.

    One query runs for the whole session; each micro-batch starts when
    the previous one has committed and a file is waiting. The warm-up
    publishes two batch files (the first starts the query and the Python
    workers and fills the plan caches; the second is the first to read
    and merge saved state, and takes about 25 % longer than the third,
    after which batch latency is flat); each repetition then publishes K
    more files at once and waits until the query has committed all K,
    each against the state the earlier batches left. One operation is
    one micro-batch; every batch is checked against the reference."""

    name = "stream_stateful"
    checks_every_rep = True
    WARM_BATCHES = 2
    TIMEOUT_S = 120

    def __init__(self, spark, params: GenParams, workdir: str, tracer, n_batches: int):
        self.spark = spark
        self.params = params
        self.src = os.path.join(workdir, "stream_src")
        self.stage = os.path.join(workdir, "stream_stage")
        self.work = os.path.join(workdir, "stream_work")
        self.ckpt = os.path.join(workdir, "stream_ckpt")
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.ops_per_rep = n_batches
        self.rows_per_batch = params.n_pages // n_batches
        self.n_rows = n_batches * self.rows_per_batch
        self.batches: dict[int, pd.DataFrame] = {}
        self.next_batch = 0
        self.engine = new_engine()
        register(self.engine, stream_rules(), tracer)
        self.ref = new_engine()
        register(self.ref, stream_rules(), _NOOP)
        self.want: dict[int, list] = {}
        self.got: dict[int, list] = {}
        self.query = None
        self._tracer = _NOOP

    def _stage_batches(self, first: int, n: int) -> list[str]:
        """Generate batches [first, first + n) of the seeded positions as
        one staged parquet file each, written in batch order: the file
        source replays files in modification-time order."""
        rows = self.rows_per_batch
        files = []
        for k in range(first, first + n):
            self.batches[k] = synth_positions(self.params, k * rows, rows)
            files.append(os.path.join(self.stage, f"batch-{k:06d}.parquet"))
            self.batches[k].to_parquet(files[-1], index=False)
        return files

    def _sink(self, events, batch_id):
        with self._tracer.span("engine.spark_pipeline:exec"):
            self.got[batch_id] = events.collect()

    def _committed(self, last: int) -> bool:
        """Whether batch ``last`` has committed. Reads only the latest
        progress report: the full list is rebuilt as JSON on every call,
        work the poll would add to the measured session."""
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        p = self.query.lastProgress
        # a report with no input rows is an idle trigger, numbered as the
        # batch that has not run yet
        return p is not None and (p["batchId"] > last or (p["batchId"] == last and p["numInputRows"] > 0))

    def run(self, tracer, keep_outputs: bool = True, n: int | None = None) -> Rep:
        n = n or self.ops_per_rep
        first = self.next_batch
        self.next_batch += n
        files = self._stage_batches(first, n)
        self._tracer = tracer
        try:
            t0 = time.time()
            with tracer.span("streaming.detect_stream"):
                for f in files:
                    os.rename(f, os.path.join(self.src, os.path.basename(f)))
                if self.query is None:
                    schema = self.spark.read.parquet(self.src).schema
                    stream = (self.spark.readStream.schema(schema)
                              .option("maxFilesPerTrigger", 1).parquet(self.src))
                    self.query = tracer.call(
                        "streaming.detect_stream:start", stream_detect_scalable, stream,
                        self.engine, self._sink, work_dir=self.work, checkpoint_dir=self.ckpt,
                        trigger_available_now=False, n_buckets=STREAM_BUCKETS,
                    )
                while not self._committed(first + n - 1):
                    if time.time() - t0 > self.TIMEOUT_S:
                        raise TimeoutError(f"stream batches {first}..{first + n - 1} not committed")
                    time.sleep(0.05)
            t1 = time.time()
        finally:
            self._tracer = _NOOP
        ids = range(first, first + n)
        done = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        got = {b: self.got.pop(b) for b in ids if b in self.got}
        return Rep(
            counts={"batches": len(got), "events": sum(len(v) for v in got.values())},
            t0=t0, t1=t1, ops=n, outputs={"events": got, "batches": list(ids)},
            batch_s=[p["durationMs"]["triggerExecution"] / 1000.0
                     for p in done if p["batchId"] in ids],
        )

    def warm_up(self) -> Rep:
        rep = self.run(_NOOP, n=self.WARM_BATCHES)
        self.warm_s = rep.batch_s
        return rep

    def digest(self) -> int:
        """Checksum of the generated micro-batches."""
        return int(sum(int(pd.util.hash_pandas_object(b).sum()) for b in self.batches.values())
                   % 2**63)

    def reference(self, b: int) -> list[tuple]:
        """Events of batch ``b`` from Engine.detect_batch fed every batch
        up to ``b`` in order, each in the per-device time order the
        distributed trigger fold uses."""
        for k in range(len(self.want), b + 1):
            pdf = self.batches[k].sort_values(["device_id", "datetime", "url"])
            self.want[k] = engine_event_keys(self.ref.detect_batch(pdf.reset_index(drop=True)))
        return self.want[b]

    def check(self, rep: Rep) -> list[tuple[int, str]]:
        """Each batch's events equal the reference's events for it."""
        got = rep.outputs["events"]
        bad = []
        for b in rep.outputs["batches"]:
            want = self.reference(b)
            if b not in got:
                bad.append((b, f"stream batch {b} was not committed"))
                continue
            have = spark_event_keys([r.asDict() for r in got[b]])
            if have != want:
                bad.append((b, f"stream batch {b} events differ from Engine.detect_batch: "
                            + _first_diff(have, want)))
        if not any(self.want[b] for b in rep.outputs["batches"]):
            bad.append((rep.outputs["batches"][0], "no stream events: the rules matched nothing"))
        return bad

    def census(self, rep: Rep) -> dict:
        pdf = pd.concat([self.batches[b] for b in rep.outputs["batches"]], ignore_index=True)
        return {"rules": len(self.engine.rules), "events_out": rep.counts["events"],
                "prune_pass_frac": prune_pass_frac(self.engine, self.spark.createDataFrame(pdf))}

    def close(self):
        if self.query is not None:
            self.query.stop()


class _NoopTracer:
    """Tracer stand-in for untraced runs: calls straight through."""

    class _Null:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def call(self, _name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def span(self, _name):
        return self._Null()


_NOOP = _NoopTracer()


def make(workload: str, spark, seed: int, size: str, workdir: str, tracer):
    sz = SIZES[size]
    if workload == "neardup_e2e":
        p = gen_params(workload, seed, sz["neardup_e2e"])
        return NeardupE2E(spark, p, workdir, tracer)
    if workload == "stream_stateful":
        p = gen_params(workload, seed, sz["stream_batches"] * sz["stream_rows"])
        return StreamStateful(spark, p, workdir, tracer, sz["stream_batches"])
    raise ValueError(f"unknown workload {workload!r}")
