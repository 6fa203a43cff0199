"""Benchmark of the spinix_spark pipelines: one run of one workload.

    python3 perfbench/run.py --workload neardup_e2e --seed 1 --seconds 20 --trace 0

Run from the repository root (or any directory: paths are resolved
from this file). Each run starts one fresh session process with its own
JVM (``session.py``), with the repository root on ``PYTHONPATH`` so
Spark's Python workers import the package from any working directory.
The session generates the workload's inputs from ``--seed``, sets up,
warms up, checks the output, then measures repetitions back to back
for ``--seconds``.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` prints its per-layer metrics, measured on one traced
repetition that follows untraced ones in the same session. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``. The line before it (``perfbench {...}``)
carries the generator parameters, ``failed_frac``, every repetition's
wall time and two host-capacity probes (a sha256 rate before the run,
and the share of CPU time the hypervisor stole during the timed
window; neither rescales a metric); the full record, with the span and
plan census detail of a traced run, is written under ``.perfbench/``.

Workloads (why each was chosen is in BENCHMARK.json):

- ``neardup_e2e``: pages with a near-duplicate share → quality funnel →
  ``neardup_drop_ids`` → anti-join → geoparse → one-rule detect → tiles.
- ``stream_stateful``: micro-batch files → ``stream_detect_scalable``
  with a stateful zone rule and a stateful ``devices(@)`` rule.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("neardup_e2e", "stream_stateful")
RUN_DEADLINE_S = 160  # a run must end within 180 s, stopping its session included

# Which end-to-end metric each layer's metrics should move, on which
# workload it is heavy, and where it should stay flat.
LAYER_MAP = {
    "io.geoparse": ("wall_s", ["neardup_e2e"], ["stream_stateful"]),
    "dsl": ("setup_s", ["stream_stateful"], ["neardup_e2e"]),
    "engine.spark_pipeline": ("batch_p50_s", ["stream_stateful"], ["neardup_e2e"]),
    "engine.runtime": ("batch_p50_s", ["stream_stateful"], ["neardup_e2e"]),
    "engine.devices_at": ("batch_p50_s", ["stream_stateful"], ["neardup_e2e"]),
    "engine.tiles": ("wall_s", ["neardup_e2e"], ["stream_stateful"]),
    "queries_text": ("wall_s", ["neardup_e2e"], ["stream_stateful"]),
    "streaming.state_table": ("batch_p50_s", ["stream_stateful"], ["neardup_e2e"]),
    "streaming.detect_stream": ("batch_p50_s", ["stream_stateful"], ["neardup_e2e"]),
    "spark": ("wall_s; batch_p50_s", list(WORKLOADS), []),
    "plan": ("wall_s; batch_p50_s", list(WORKLOADS), []),
    "trace": ("(tracing itself)", list(WORKLOADS), []),
}


def host_probe(n: int = 150_000) -> float:
    """Single-process sha256 chain rate (hashes/s): a ~50 ms sample of
    host capacity recorded beside the metrics. Never used to rescale."""
    t0 = time.perf_counter()
    x = b"a"
    for _ in range(n):
        x = hashlib.sha256(x).digest()
    return n / (time.perf_counter() - t0)


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def stop_session(sid: int) -> None:
    """Stop every process of the session (the JVM, Python workers) and
    wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in _session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while _session_pids(sid) and time.time() < deadline:
            time.sleep(0.1)
        if not _session_pids(sid):
            return


def run_session(args, workdir: str, deadline: float) -> dict | None:
    """Run ``session.py`` in a session of its own and return its result.

    The separate process is what lets a run keep its promises when Spark
    does not: the session id names every process the run started (the
    JVM, PySpark's worker daemon and the workers it forks, which are
    re-parented away from this process when the daemon exits), so all of
    them can be stopped and waited for, and a Spark action that hangs is
    cut at ``deadline`` while the run still exits, non-zero, in time."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # keep temp files inside the checkout: no JVM perf-data files in /tmp
    env["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(env["TMPDIR"])
    env["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    out_path = os.path.join(workdir, "session.json")
    cmd = [sys.executable, os.path.join(HERE, "session.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--workdir", workdir, "--out", out_path]
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print("perfbench: session timed out", file=sys.stderr)
    finally:
        stop_session(proc.pid)
        proc.wait()
    if proc.returncode != 0 or not os.path.exists(out_path):
        print(f"perfbench: session failed (exit {proc.returncode})", file=sys.stderr)
        return None
    with open(out_path) as fh:
        return json.load(fh)


def end_to_end(s: dict) -> dict:
    wall = statistics.median(s["walls"])
    return {
        "setup_s": s["setup_s"],
        "wall_s": wall,
        "rows_per_s": s["rows"] / wall,
        "batch_p50_s": statistics.median(s["batches"]),
        "peak_rss_mb": s["peak_rss_mb"],
        "heap_live_mb": s["heap_live_mb"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    args = ap.parse_args()
    deadline = time.time() + RUN_DEADLINE_S
    # a terminated run still stops its session (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "spinix_spark", "__init__.py")) or not os.path.isfile(spec_path):
        print(f"perfbench: no spinix_spark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    probe = host_probe()
    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        s = run_session(args, workdir, deadline)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if s is None or not s["walls"]:
        if s is not None:
            print("perfbench: no repetition completed:\n" + "\n".join(s["errors"]), file=sys.stderr)
        return 1

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = s["layers"] if args.trace else end_to_end(s)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "params": s["params"], "input_digest": s["input_digest"], "rows": s["rows"],
        "host_sha256_per_s": round(probe), "host_steal_frac": round(s["steal_frac"], 4),
        "attempted": s["attempted"], "failed": s["failed"],
        "failed_frac": s["failed"] / s["attempted"], "walls_s": s["walls"],
        "batches_s": s["batches"], "setup_phases_s": s["setup_phases_s"],
        "warm_s": s["warm_s"], "heap_after_gc_mb": s["heap_after_gc_mb"],
        "errors": s["errors"][:5],
    }
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                           f"-{int(time.time())}.json"), "w") as fh:
        json.dump(dict(info, metrics=values, layer_map=LAYER_MAP,
                       trace_detail=s.get("trace_detail")), fh, indent=1)
    print("perfbench " + json.dumps({k: v for k, v in info.items() if k != "batches_s"}))
    print(json.dumps({"correct": s["failed"] == 0, "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
