"""One benchmark session: a fresh JVM that sets up one workload, warms
it up, checks its output, and measures it.

Started by ``run.py`` as a subprocess (one session per run), with the
repository root on ``PYTHONPATH`` so the Python workers Spark starts can
import ``spinix_spark`` from any working directory. Writes one JSON
result file; prints nothing the caller parses.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import json
import os
import statistics
import sys
import threading
import time
import traceback

T_START = time.time()  # the set-up clock starts before the JVM does

from pyspark.sql import SparkSession  # noqa: E402

import workloads  # noqa: E402
from tracing import EventLog, Tracer, install_layer_wraps, layer_metrics  # noqa: E402

# Spark's local threads. Two, not one per core of the 4-core host the
# benchmark was sized on: both workloads are bound by per-job fixed cost,
# so a repetition took as long or longer with four threads, and the JVM,
# its Python workers and the driver process then contend for the cores
# (their runs also saw more CPU time stolen by the hypervisor).
CPUS = min(2, os.cpu_count() or 1)
HEAP_MB = 2048


def build_spark(workdir: str, eventlog_dir: str | None) -> SparkSession:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", f"{HEAP_MB}m")
        # a fixed, pre-touched heap (see MemorySampler)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", tmp)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse"))
    )
    if eventlog_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + eventlog_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class MemorySampler:
    """Memory of the timed region. ``peak_rss_mb`` is the peak resident
    memory of this process and all its descendants (the driver JVM and
    the Python workers it forks) outside the JVM's heap, sampled from
    /proc every ``interval`` seconds: the heap is fixed and pre-touched,
    so it is resident in full and subtracted. ``heap_live_mb`` is the
    JVM heap still in use after a full collection at the end of the
    region: what the session keeps (caches, state, plan metadata). Heap
    in use at any earlier moment is mostly garbage waiting for the next
    collection, so its peak follows the collector's sizing, not the
    program. Nothing calls into the JVM while sampling runs."""

    def __init__(self, spark: SparkSession, interval: float = 0.5):
        self.interval = interval
        self.peak_rss_mb = self.heap_live_mb = 0.0
        self._jvm = spark._jvm
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._heap_mb = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, self.tree_rss_kb(me) / 1024.0 - self._heap_mb)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        # A JVM object a Python proxy still refers to (a broadcast, a
        # DataFrame) stays live until Python's collector has released the
        # proxy; Spark's context cleaner then frees unreferenced broadcasts
        # and shuffles, and block managers drop unpersisted blocks,
        # asynchronously after a JVM collection has found them. So collect
        # on both sides a fixed number of times, with pauses, and keep the
        # least heap seen.
        heap = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_after_gc_mb = []
        for _ in range(8):
            gc.collect()
            self._jvm.java.lang.System.gc()
            self.heap_after_gc_mb.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.3)
        self.heap_live_mb = min(self.heap_after_gc_mb)
        return False


def verify(w, rep, ref_counts: dict) -> list[tuple[int, str]]:
    """(operation, message) for each failed check of a repetition: the
    stream checks every micro-batch against the reference; a batch
    repetition must reproduce the counts of the fully checked one."""
    if w.checks_every_rep:
        return w.check(rep)
    if rep.counts != ref_counts:
        return [(0, f"counts {rep.counts} != checked {ref_counts}")]
    return []


def tally(acc: dict, ops: int, bad: list[tuple[int, str]]) -> None:
    acc["attempted"] += ops
    acc["failed"] += len({op for op, _ in bad})
    acc["errors"] += [msg for _, msg in bad]


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of this machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def measure(w, seconds: float, ref_counts: dict, acc: dict) -> dict:
    """Closed loop: repetitions back to back while the next one, if it
    takes as long as the last, ends within ``seconds`` (at least one
    runs). The repetitions are checked after the loop, so checks take
    no time from the timed window. Returns walls, batch latencies, peak
    memory and the share of CPU time the hypervisor stole during the
    loop; operations are tallied into ``acc``."""
    reps, walls, batches = [], [], []
    t_loop = time.time()
    cpu0 = cpu_jiffies()
    with MemorySampler(w.spark) as mem:
        while True:
            try:
                reps.append(w.run(workloads._NOOP, keep_outputs=w.checks_every_rep))
            except Exception:  # a failed repetition is a failed operation; keep measuring
                tb = traceback.format_exc(limit=3)
                tally(acc, w.ops_per_rep, [(op, tb) for op in range(w.ops_per_rep)])
            last = reps[-1].t1 - reps[-1].t0 if reps else 0.0
            if time.time() - t_loop + last > seconds:
                break
    cpu1 = cpu_jiffies()
    for rep in reps:
        tally(acc, rep.ops, verify(w, rep, ref_counts))
        walls.append(rep.t1 - rep.t0)
        batches.extend(rep.batch_s or [rep.t1 - rep.t0])
    return {"walls": walls, "batches": batches,
            "peak_rss_mb": mem.peak_rss_mb, "heap_live_mb": mem.heap_live_mb,
            "heap_after_gc_mb": mem.heap_after_gc_mb,
            "steal_frac": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    evdir = os.path.join(a.workdir, "eventlog") if a.trace else None
    if evdir:
        os.makedirs(evdir, exist_ok=True)
    spark = build_spark(a.workdir, evdir)
    t_spark = time.time()
    tracer = Tracer(spark) if a.trace else workloads._NOOP
    w = workloads.make(a.workload, spark, a.seed, a.size, a.workdir, tracer)
    t_inputs = time.time()
    warm = w.warm_up()
    t_warm = time.time()
    setup_s = t_warm - T_START

    # the warm-up repetition is checked in full, outside every timed region
    out = {"setup_s": setup_s, "rows": w.n_rows, "params": dataclasses.asdict(w.params),
           "setup_phases_s": {"spark": t_spark - T_START, "inputs": t_inputs - t_spark,
                              "warm_up": t_warm - t_inputs},
           "warm_s": w.warm_s,
           "attempted": 0, "failed": 0, "errors": []}
    tally(out, warm.ops, w.check(warm))

    out.update(measure(w, a.seconds / 2 if a.trace else a.seconds, warm.counts, out))
    out["input_digest"] = str(w.digest())

    if a.trace:
        install_layer_wraps(tracer)
        try:
            rep = w.run(tracer, keep_outputs=w.checks_every_rep)
        finally:
            tracer.unwrap_all()
        tally(out, rep.ops, verify(w, rep, warm.counts))
        extra = w.census(rep)
    w.close()
    spark.stop()

    if a.trace:
        log = EventLog(EventLog.find(evdir))
        layers, detail = layer_metrics(tracer, log, rep.t0, rep.t1, extra)
        untraced = statistics.median(out["walls"]) if out["walls"] else rep.t1 - rep.t0
        layers["trace.overhead_frac"] = (rep.t1 - rep.t0) / untraced - 1.0
        out.update(layers=layers, trace_detail=detail)

    with open(a.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
