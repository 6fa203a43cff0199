"""Tests of the benchmark itself: tiny-size runs of every workload.

    python3 -m pytest perfbench -q

Each run is a subprocess exactly as the benchmark is invoked, so these
also exercise process hygiene (fresh JVM, package import path, exit
codes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload: str, seed: int, trace: int, root: str = ROOT, cwd: str | None = None):
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd or root, capture_output=True, text=True, timeout=180,
    )


def parse(p) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench ")
    return json.loads(lines[-2][len("perfbench "):]), json.loads(lines[-1])


def assert_metrics(result: dict, names: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_two_seeds_differ_and_pass(workload, tmp_path):
    """Both seeds print every end-to-end metric with its unit and pass
    every check, and their generated inputs differ. Started from a
    directory outside the repository."""
    infos = []
    for seed in (1, 2):
        info, result = parse(run(workload, seed, 0, cwd=str(tmp_path)))
        assert_metrics(result, SPEC["end_to_end"])
        assert all(v["value"] > 0 for v in result["metrics"].values())
        infos.append(info)
    assert infos[0]["params"] != infos[1]["params"]
    assert infos[0]["input_digest"] != infos[1]["input_digest"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    info, result = parse(run(workload, 1, 1))
    assert_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.uncovered_frac"] <= 0.1
    assert m["spark.jobs"] > 0 and m["plan.scans"] > 0
    # each Python node reads at most the repetition's input rows, except
    # the devices(@) refine, which reads the candidate pairs
    py_rows = m["engine.runtime.python_rows_in"] - m["engine.devices_at.candidate_pairs"]
    assert 0 < py_rows <= info["rows"] * m["plan.python_evals"]


def test_event_log_counts_a_cached_plan_once(tmp_path):
    """A cached plan that three executions read is one node: counted, and
    its metrics summed, once, and only for the job group that ran it."""
    sys.path.insert(0, HERE)
    from tracing import EventLog

    def node(name, metrics, children=()):
        return {"nodeName": name, "simpleString": name, "children": list(children),
                "metrics": [{"name": k, "accumulatorId": i, "metricType": "sum"}
                            for k, i in metrics]}

    cached = node("MapInPandas", [("data sent to Python workers", 1)],
                  [node("Scan parquet", [("number of output rows", 2)])])
    events = []
    for ex in range(3):
        scan_id = 10 + ex
        updates = [(scan_id, 100)] + ([(1, 500), (2, 100)] if ex == 0 else [])
        events += [
            {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
             "executionId": ex, "time": 0,
             "sparkPlanInfo": node("InMemoryTableScan", [("number of output rows", scan_id)],
                                   [cached])},
            {"Event": "SparkListenerJobStart", "Job ID": ex, "Submission Time": 0,
             "Stage IDs": [ex], "Properties": {"spark.sql.execution.id": str(ex),
                                               "spark.jobGroup.id": f"g{ex}"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": ex, "Task Metrics": {},
             "Task Info": {"Launch Time": 0, "Finish Time": 1, "Accumulables": [
                 {"ID": i, "Update": v, "Metadata": "sql"} for i, v in updates]}},
        ]
    path = tmp_path / "eventlog"
    path.write_text("\n".join(json.dumps(e) for e in events))
    log = EventLog(str(path))
    every = {"g0", "g1", "g2"}
    assert log.census(every) == {"exchanges": 0, "windows": 0, "scans": 4,
                                 "python_evals": 1, "executions": 3}
    py = log.python_boundary(every)
    assert (py["rows_in"], py["bytes_sent"]) == (100, 500)
    assert log.census({"g1"})["python_evals"] == 0
    assert log.python_boundary({"g1"})["rows_in"] == 0


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark,
    the run exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run(WORKLOADS[0], 1, 0, root=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
