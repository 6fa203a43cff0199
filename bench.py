#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Workload:
- ``geo_pipeline``: the flagship spatial-join pipeline — synthesize
  sf-scaled Common-Crawl-style pages (distributed, deterministic),
  geoparse (codegen regex), rule-bbox prune, vectorized spatial
  refinement against a broadcast zone + device-snapshot, event rows +
  tile rollup. Throughput is reported as ``pages_per_sec``.
- a slice of the operator-registry queries (cell joins, dedup,
  minhash, ANN) at the same scale factor.
"""

from __future__ import annotations

import json
import os
import sys
import time


def build_spark(cpus: str, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    n = int(cpus)
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName("spinix-spark-bench")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(2 * n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # progress bars write \r-junk AFTER the final JSON line on some
        # terminals, pushing it out of the driver's 2000-char stdout
        # tail — keep stdout clean (round-6 truncation-proofing)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def hw_capacity_probe(procs: int = 8, n: int = 400_000) -> float:
    """Aggregate sha256 throughput of `procs` independent processes —
    a pure-CPU host-capacity number recorded alongside the query
    timings so cross-round comparisons can be normalized: this shared
    box's capacity was measured drifting ~2× between windows
    (PLANS.md), which otherwise reads as a code regression."""
    import multiprocessing
    import time as _t

    with multiprocessing.Pool(procs) as p:
        p.map(_burn_child, [1000] * procs)
        best = 0.0
        for _ in range(3):
            t0 = _t.time()
            p.map(_burn_child, [n] * procs)
            best = max(best, procs * n / (_t.time() - t0))
    return best


def _burn_child(k: int) -> int:
    import hashlib

    x = b"a"
    for _ in range(k):
        x = hashlib.sha256(x).digest()
    return 0


def hw_quick_probe(n: int = 150_000) -> float:
    """Single-process sha256 hashes/sec — a ~50 ms capacity sample
    recorded PER QUERY (BENCH r4 adjudication: one mid-suite host
    interference window made `stateful_at_pages` read 9.61 s vs an
    isolated 6.93 s; per-query probes let the judge de-noise a
    single-shot row without re-running the suite)."""
    import time as _t

    t0 = _t.time()
    _burn_child(n)
    return n / (_t.time() - t0)


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run_geo_pipeline(spark, n_pages: int) -> dict:
    """pages → geoparse → detect (2 rules) → events count + tile rollup."""
    import numpy as np

    from spinix_spark.engine.detect import Engine
    from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
    from spinix_spark.engine.stores import zone_from_ring
    from spinix_spark.geo.cells import DEFAULT_SCHEME
    from spinix_spark.geo.rings import circle_ring
    from spinix_spark.io.geoparse import cell_column, geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages

    pages = synthesize_pages(spark, n_pages)
    # persist the geoparsed points: both downstream actions (detect
    # events, tile raster) consume them — a real job would write them
    # to the lake once; recomputing synthesis+geoparse per action
    # would double-count the scan. The wide `text` column is PRUNED
    # from the persisted projection: neither detect nor the raster
    # reads it (byte-identical text stays in the pages table), and
    # caching it would dominate the cache write at any scale.
    points = (
        geoparse_points(pages)
        .drop("text")
        .withColumn("cell", cell_column(DEFAULT_SCHEME))
        .persist()
    )

    engine = Engine()
    # zone near the hot cell + a second zone mid-grid
    engine.zones.add(
        zone_from_ring(
            "c5vj26evvhfjvfseaulg", circle_ring(BASE_LAT, BASE_LON, 900.0, 6)
        )
    )
    engine.zones.add(
        zone_from_ring(
            "c5vj26evvhfjvfseauk0", circle_ring(BASE_LAT + 0.3, BASE_LON + 0.3, 1500.0, 6)
        )
    )
    # stateless rules (the reference's hot path — trigger state is
    # benchmarked separately); centers/radii auto-derived from the
    # referenced zones (engine.go:137-188), giving a real bbox prune
    engine.add_rule(
        "device :radius 300m INTERSECTS polygon(c5vj26evvhfjvfseaulg,"
        " c5vj26evvhfjvfseauk0) and speed range [30 .. 170]",
        rule_id="r" + "0" * 19,
    )
    # point-device rule: compiles to the all-Catalyst path
    # (engine/sql_compile.py) — no Python at all for this rule
    engine.add_rule(
        "device NEAR polygon(c5vj26evvhfjvfseaulg)",
        rule_id="r" + "1" * 19,
    )

    n_points = points.count()  # materialize the persist: isolates detect

    t0 = time.time()
    events, _ = split_output(detect_batch_spark(points, engine))
    n_events = events.count()
    t_detect = time.time() - t0

    from spinix_spark.engine.tiles import point_density_raster

    raster_rows = point_density_raster(points).count()
    points.unpersist()
    return {
        "n_events": int(n_events),
        "n_tiles": int(raster_rows),
        "n_points": int(n_points),
        "detect_s": round(t_detect, 3),
        # the BASELINE metric's "rule-eval rows/sec": points evaluated
        # through the full rule registry per second (detect stage only,
        # input materialized beforehand)
        "rule_eval_rows_per_sec": round(n_points / max(t_detect, 1e-9), 1),
    }


HEADLINE_QUERIES = [
    "points_derive",
    "cell_assign",
    "tile_rollup",
    "pip_polygon",
    "zone_join",
    "device_near_device",
    "detect_devices_at",  # fact-scale devices(@) pair-join strategy
    "detect_stateful_trigger",  # two-batch trigger fold (keyed state)
    "dedup_exact",
    "minhash_lsh_pairs",  # salted band join
    "ngram_jaccard_lsh",  # LSH-prefiltered exact-Jaccard verify (full table)
    "simhash",
    "ann_brute_topk",
    "embed_neardup_pairs",
    "sessionize",
    "pricing_summary",
    "regex_token_count",
]


def run_devices_at_pages(spark, n_pages: int) -> dict:
    """Fact-scale devices(@) over the pages pipeline: geoparse points,
    latest-per-device snapshot as a DataFrame (no collect), pair-join
    strategy with per-row k-ring cover — the 100 TB shape of the
    reference's Devices.Near hot path."""
    from spinix_spark.engine.detect import Engine
    from spinix_spark.engine.devices_at import snapshot_df_from_points
    from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
    from spinix_spark.io.geoparse import geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages

    points = geoparse_points(synthesize_pages(spark, n_pages))
    snap = snapshot_df_from_points(points)
    engine = Engine()
    engine.add_rule(
        "device :radius 250m intersects devices(@)"
        f" {{ :center {BASE_LAT} {BASE_LON} :radius 100km }}",
        rule_id="r" + "3" * 19,
    )
    events, _ = split_output(
        detect_batch_spark(points, engine, devices_df=snap, at_salt=8)
    )
    return {"n_at_events": int(events.count())}


def run_string_rule_kernel(spark, n_pages: int) -> dict:
    """Kernel-path string comparator: a buffered-device zone rule AND a
    ``day eq`` weekday-string clause — the buffered node keeps the rule
    on the vectorized kernel (the measured-fastest physical plan), so
    this times EqualStrOp's NumPy unicode comparison over every pruned
    row (no per-row Python since round 3)."""
    from spinix_spark.engine.detect import Engine
    from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
    from spinix_spark.engine.stores import zone_from_ring
    from spinix_spark.geo.rings import circle_ring
    from spinix_spark.io.geoparse import geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages

    points = geoparse_points(synthesize_pages(spark, n_pages)).drop("text")
    engine = Engine()
    engine.zones.add(
        zone_from_ring(
            "c5vj26evvhfjvfseaulg", circle_ring(BASE_LAT, BASE_LON, 900.0, 6)
        )
    )
    # base_ts 1700000000 is Tue 2023-11-14; rows span one day (Tue/Wed)
    engine.add_rule(
        'device :radius 300m INTERSECTS polygon(c5vj26evvhfjvfseaulg)'
        ' and day eq "Tuesday"',
        rule_id="r" + "4" * 19,
    )
    events, _ = split_output(detect_batch_spark(points, engine))
    return {"n_string_rule_events": int(events.count())}


def run_stateful_at_pages(spark, n_pages: int) -> dict:
    """Fact-scale STATEFUL devices(@): pair join for the @ verdict,
    read by the kernel stage's sequential per-device trigger fold
    riding the device_id shuffle, DataFrame snapshot, no driver
    collect."""
    from spinix_spark.engine.detect import Engine
    from spinix_spark.engine.devices_at import snapshot_df_from_points
    from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
    from spinix_spark.io.geoparse import geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages

    points = geoparse_points(synthesize_pages(spark, n_pages)).drop("text")
    snap = snapshot_df_from_points(points)
    engine = Engine()
    engine.add_rule(
        "device :radius 250m intersects devices(@)"
        f" {{ :center {BASE_LAT} {BASE_LON} :radius 100km"
        " :trigger every 600s :reset after 24h }",
        rule_id="r" + "5" * 19,
    )
    out = detect_batch_spark(points, engine, devices_df=snap, at_salt=8)
    events, states = split_output(out)
    return {"n_stateful_at_events": int(events.count())}


def run_e2e_pipeline(spark, n_pages: int) -> dict:
    """Composed 100×-shape rehearsal in ONE lineage: pages → text
    quality/lang funnel → exact near-dup drop (fingerprint distinct) →
    geoparse → detect → tile rollup. Every stage is the scale form
    (Catalyst text ops, one-shuffle dedup, pruned persist, kernel
    detect, single-shuffle raster) so the composed DAG — not just the
    stages in isolation — has a recorded wall number."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from spinix_spark.engine.detect import Engine
    from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
    from spinix_spark.engine.stores import zone_from_ring
    from spinix_spark.engine.tiles import point_density_raster
    from spinix_spark.geo.cells import DEFAULT_SCHEME
    from spinix_spark.geo.rings import circle_ring
    from spinix_spark.io.geoparse import cell_column, geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages

    pages = synthesize_pages(spark, n_pages)
    # funnel: language gate + length/word-count quality floor (Catalyst)
    funneled = pages.where(
        (F.col("lang") == "en")
        & (F.length("text") >= 30)
        & (F.size(F.split(F.col("text"), r"\s+")) >= 6)
    )
    # exact dedup by content fingerprint: one shuffle on the hash,
    # first url per fingerprint wins (deterministic)
    w = Window.partitionBy("_fp").orderBy("url")
    deduped = (
        funneled.withColumn("_fp", F.xxhash64("text"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )
    points = (
        geoparse_points(deduped)
        .drop("text")
        .withColumn("cell", cell_column(DEFAULT_SCHEME))
        .persist()
    )
    n_clean = points.count()
    engine = Engine()
    engine.zones.add(
        zone_from_ring(
            "c5vj26evvhfjvfseaulg", circle_ring(BASE_LAT, BASE_LON, 900.0, 6)
        )
    )
    engine.add_rule(
        "device :radius 300m INTERSECTS polygon(c5vj26evvhfjvfseaulg)"
        " and speed range [30 .. 170]",
        rule_id="r" + "6" * 19,
    )
    events, _ = split_output(detect_batch_spark(points, engine))
    n_ev = events.count()
    n_tiles = point_density_raster(points).count()
    points.unpersist()
    return {
        "n_e2e_clean": int(n_clean),
        "n_e2e_events": int(n_ev),
        "n_e2e_tiles": int(n_tiles),
    }


def run_e2e_neardup(spark, n_pages: int) -> dict:
    """The near-dup REMOVAL lineage composed end to end — the most
    common real LLM-pipeline shape: pages → quality funnel → minhash
    LSH candidate pairs → Large-Star/Small-Star duplicate clusters →
    keep-longest canonical per cluster → filtered corpus → geoparse →
    detect → tile rollup, as ONE lineage. Differs from
    run_e2e_pipeline's exact-fingerprint dedup stage by running the
    full approximate pipeline (shingles, signatures, salted band join,
    CC iterations) at fact scale."""
    from pyspark.sql import functions as F

    from spinix_spark.engine.detect import Engine
    from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
    from spinix_spark.engine.stores import zone_from_ring
    from spinix_spark.engine.tiles import point_density_raster
    from spinix_spark.geo.cells import DEFAULT_SCHEME
    from spinix_spark.geo.rings import circle_ring
    from spinix_spark.io.geoparse import cell_column, geoparse_points
    from spinix_spark.io.pages import BASE_LAT, BASE_LON, synthesize_pages
    from spinix_spark.queries_text import neardup_drop_ids

    pages = synthesize_pages(spark, n_pages)
    funneled = pages.where(
        (F.col("lang") == "en") & (F.length("text") >= 30)
    ).withColumn("doc_id", F.xxhash64("url"))
    corpus = funneled.withColumn("n_chars", F.length("text"))
    # persist the drop set: its count (the dedup-stage metric — not
    # funnel/geoparse attrition) and the anti-join below both consume
    # it; without the persist the keep-longest window lineage would
    # evaluate twice (only the CC edge set is checkpointed upstream)
    drop = neardup_drop_ids(corpus).persist()
    n_dropped = drop.count()
    clean = corpus.join(drop, "doc_id", "left_anti")
    points = (
        geoparse_points(clean.drop("doc_id", "n_chars"))
        .drop("text")
        .withColumn("cell", cell_column(DEFAULT_SCHEME))
        .persist()
    )
    n_clean = points.count()
    drop.unpersist()
    engine = Engine()
    engine.zones.add(
        zone_from_ring(
            "c5vj26evvhfjvfseaulg", circle_ring(BASE_LAT, BASE_LON, 900.0, 6)
        )
    )
    engine.add_rule(
        "device :radius 300m INTERSECTS polygon(c5vj26evvhfjvfseaulg)"
        " and speed range [30 .. 170]",
        rule_id="r" + "8" * 19,
    )
    events, _ = split_output(detect_batch_spark(points, engine))
    n_ev = events.count()
    n_tiles = point_density_raster(points).count()
    points.unpersist()
    from spinix_spark.queries_text import NEARDUP_LINEAGE_VERSION

    return {
        "neardup_lineage_version": NEARDUP_LINEAGE_VERSION,
        "n_neardup_dropped": int(n_dropped),
        "n_funnel_geoparse_dropped": int(n_pages - n_dropped - n_clean),
        "n_neardup_clean": int(n_clean),
        "n_neardup_events": int(n_ev),
        "n_neardup_tiles": int(n_tiles),
    }


def run_ann_recall(spark, sf_dir: str) -> dict:
    """IVF recall@10 vs brute-force ground truth for NPROBE ∈
    {1, 2, 4} over the quantizer trained by ivf_train — the
    recall/latency tuning curve of the 100 TB deployment."""
    from spinix_spark.queries_ann import ann_recall_stats

    return ann_recall_stats(spark, sf_dir)


def run_hot_cell_pairs(spark, n_pages: int) -> dict:
    """Hot-cell radius self-join: the synthetic pages put ~10% of all
    points into ONE grid cell; the two-level salted pair join
    (engine/joins.py:near_pairs_salted) must grind through that cell's
    quadratic core without a straggler task."""
    from pyspark.sql import functions as F

    from spinix_spark.engine.joins import near_pairs_salted
    from spinix_spark.geo.cells import GridScheme
    from spinix_spark.io.geoparse import cell_column, geoparse_points
    from spinix_spark.io.pages import synthesize_pages

    fine = GridScheme(res=9)
    points = (
        geoparse_points(synthesize_pages(spark, n_pages))
        .withColumn("cell", cell_column(fine))
        .withColumn("doc_id", F.xxhash64("url"))
    )
    pairs = near_pairs_salted(points, fine, radius_m=150.0, n_salt=8)
    return {"n_hot_pairs": int(pairs.count())}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_from_dir(sf_dir)
    n_pages = max(int(6_000_000 * sf), 10_000)

    hw_start = hw_capacity_probe()
    spark = build_spark(cpus)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    queries: dict[str, float] = {}
    probes: dict[str, dict] = {}
    suite_t0 = time.time()

    def timed(name: str, fn) -> dict | int:
        """Run one suite entry: pre-query capacity sample + offset
        timestamp, then the timed body."""
        probes[name] = {
            "t_offset_s": round(time.time() - suite_t0, 1),
            "hw_hashes_per_sec": round(hw_quick_probe(), 0),
        }
        t0 = time.time()
        out = fn()
        queries[name] = round(time.time() - t0, 3)
        return out

    # warmup: spin up Python workers / JIT / codegen caches so the
    # timed number is steady-state throughput, not JVM cold start
    run_geo_pipeline(spark, 20_000)

    pipe_stats = timed("geo_pipeline", lambda: run_geo_pipeline(spark, n_pages))
    t_pipe = queries["geo_pipeline"]

    qmap = entrymod.queries()
    for name in HEADLINE_QUERIES:
        n = timed(name, lambda: qmap[name](spark, sf_dir).count())
        pipe_stats[f"rows_{name}"] = int(n)

    # the deployment-default FUSED minhash path beside the md5 gate
    # form above (same banding, hash-domain shingles — no oracle can
    # replay xxhash64 buckets, see queries_text.spark_lsh_pairs_fused)
    from spinix_spark.queries_text import spark_lsh_pairs_fused

    pipe_stats["rows_minhash_lsh_pairs_fused"] = int(
        timed(
            "minhash_lsh_pairs_fused",
            lambda: spark_lsh_pairs_fused(spark, sf_dir).count(),
        )
    )

    # hot-cell salted pair join over ~1/10 of the pipeline's pages
    # (the pair count in the hot cell grows quadratically with input)
    pipe_stats.update(
        timed("hot_cell_pairs",
              lambda: run_hot_cell_pairs(spark, max(n_pages // 10, 10_000)))
    )

    # fact-scale devices(@): full pages pipeline + DataFrame snapshot
    pipe_stats.update(
        timed("devices_at_pages",
              lambda: run_devices_at_pages(spark, max(n_pages // 10, 10_000)))
    )

    # fact-scale STATEFUL devices(@): pair-join verdict + kernel trigger fold
    pipe_stats.update(
        timed("stateful_at_pages",
              lambda: run_stateful_at_pages(spark, max(n_pages // 10, 10_000)))
    )

    # kernel string comparator (EqualStrOp NumPy unicode path)
    pipe_stats.update(
        timed("string_rule_kernel", lambda: run_string_rule_kernel(spark, n_pages))
    )

    # composed funnel→dedup→geoparse→detect→tiles lineage
    pipe_stats.update(timed("e2e_pipeline", lambda: run_e2e_pipeline(spark, n_pages)))

    # composed NEAR-DUP REMOVAL lineage (minhash → star-edge LSH →
    # CC clusters → keep-longest → filtered corpus → detect → tiles)
    # at the full fact scale — no cap
    pipe_stats.update(timed("e2e_neardup", lambda: run_e2e_neardup(spark, n_pages)))

    # ANN quality: recall@10 of IVF probe vs brute-force ground truth
    # for NPROBE ∈ {1, 2, 4} over the trained quantizer — at 100 TB
    # NPROBE is tuned by recall, not by matching a fixed oracle
    pipe_stats.update(timed("ann_recall", lambda: run_ann_recall(spark, sf_dir)))

    pipe_stats["probes"] = probes

    hw_after = hw_capacity_probe()
    total = round(sum(queries.values()), 3)
    out = {
        "metric": "headline geo-pipeline + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_pages": n_pages,
        "pages_per_sec": round(n_pages / t_pipe, 1),
        "rule_eval_rows_per_sec": pipe_stats.get("rule_eval_rows_per_sec"),
        # host capacity at suite start/end (sha256, 8 procs): divide
        # query timings by the ratio of two rounds' probes before
        # reading a cross-round delta as a code change (PLANS.md:
        # this box drifts ~2× between measurement windows)
        "hw_hashes_per_sec_start": round(hw_start, 0),
        "hw_hashes_per_sec_end": round(hw_after, 0),
        "stats": pipe_stats,
    }
    # Truncation-proof artifact (round-5 verdict): the driver captures
    # only a ~2000-char TAIL of stdout, and the full JSON (with the
    # bulky stats/probes maps) exceeds that — BENCH_r05.json recorded
    # `parsed: null` and every per-query timing was lost. So the full
    # record goes to a committed file, and stdout carries ONE compact
    # line (metric/value/queries only) that always fits in the tail.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "LAST_BENCH.json"
    )
    try:
        with open(full_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"warning: could not write {full_path}: {exc}", file=sys.stderr)
    compact = {k: v for k, v in out.items() if k != "stats"}
    compact["full_json"] = "BENCH/LAST_BENCH.json"
    spark.stop()
    # after stop(): nothing else writes to stdout, so the compact line
    # is guaranteed to be the LAST thing in the driver's tail capture
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
