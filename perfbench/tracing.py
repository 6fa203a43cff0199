"""Traced run: spans around calls into each layer, Spark job groups, and
the analysis of Spark's own event log.

Spans are recorded by the benchmark around the library calls it makes
(and, during the traced repetition only, around a few module functions
the library calls internally, by wrapping them in place). Each span sets
a Spark job group, so every job, stage, task and SQL execution in the
event log can be attributed to the span that caused it. Spark is lazy:
a layer's time is the time of the spans that materialise its output at
its boundary.

All span data stays in memory; the event log is read after the session
stops.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench"

# physical-plan node names counted by the plan census
EXCHANGE_NODES = {"Exchange", "BroadcastExchange"}
WINDOW_NODES = {"Window", "WindowGroupLimit"}
PYTHON_NODES = {"MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
                "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas"}


def _is_scan(name: str) -> bool:
    return "Scan" in name or name == "Range"


class Span:
    __slots__ = ("idx", "name", "layer", "parent", "t0", "t1", "group")

    def __init__(self, idx, name, parent, t0):
        self.idx, self.name, self.parent, self.t0 = idx, name, parent, t0
        self.layer = name.split(":", 1)[0]
        self.t1 = None
        self.group = f"{GROUP_PREFIX}-{idx}"


class Tracer:
    """Records spans and counters; sets a Spark job group per span.

    Spans nest per thread. A span opened on a thread with no open span
    (a ``foreachBatch`` callback thread) is parented to the innermost
    open span of the thread that created the tracer, which is blocked
    waiting for the stream at that moment.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = self._stack()
        self._undo: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            sp = Span(len(self.spans), name, parent.idx if parent else None, time.time())
            self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # --- wrapping module functions during the traced repetition ---

    def wrap(self, owner, attr: str, name: str | None = None,
             counter: str | None = None, count=lambda _out: 1):
        """Replace ``owner.attr`` until unwrap_all() by a wrapper that
        opens span ``name`` around the call and/or adds ``count(result)``
        to ``counter``. A missing attribute is skipped (its metrics then
        read zero)."""
        fn = getattr(owner, attr, None)
        if fn is None:
            return

        def wrapped(*args, **kwargs):
            if name is None:
                out = fn(*args, **kwargs)
            else:
                with self.span(name):
                    out = fn(*args, **kwargs)
            if counter is not None:
                self.counters[counter] += count(out)
            return out

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, fn))

    def unwrap_all(self):
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()


def install_layer_wraps(tracer: Tracer) -> None:
    """Spans around the module functions the library calls internally,
    so their time and jobs land in their own layer."""
    try:  # the DataFrame class a classic (non-Connect) session builds
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from spinix_spark import queries_text
    from spinix_spark.engine import spark_pipeline
    from spinix_spark.streaming import detect_stream, state_table

    T = state_table.BucketedVersionTable
    tracer.wrap(T, "read_latest", "streaming.state_table:read")
    tracer.wrap(T, "merge_write", "streaming.state_table:write")
    tracer.wrap(T, "write_version", "streaming.state_table:write")
    tracer.wrap(T, "bucket_versions", "streaming.state_table:list")
    tracer.wrap(T, "prune", "streaming.state_table:prune")
    tracer.wrap(T, "dirty_buckets", "streaming.state_table:write", counter="dirty_buckets", count=len)
    tracer.wrap(detect_stream, "detect_batch_spark", "engine.spark_pipeline:build")

    # routing census: which physical strategy each rule took
    tracer.wrap(spark_pipeline, "_sql_rule_events", counter="rules_sql")
    for attr in ("_at_rule_events", "_at_rule_events_stateful"):
        tracer.wrap(spark_pipeline, attr, counter="rules_pairjoin", count=lambda ev: ev is not None)

    # connected components: one job group per eager checkpoint (the
    # first is the star-edge set, each later one a fused round-pair)
    # and per structural fixpoint check
    tracer.wrap(queries_text, "cc_two_phase", "queries_text:cc_two_phase")
    ckpt = DataFrame.localCheckpoint
    n_ckpt = [0]

    def local_checkpoint(self, *args, **kwargs):
        if not any(s.name == "queries_text:cc_two_phase" for s in tracer._stack()):
            return ckpt(self, *args, **kwargs)
        name = "queries_text:star_edges" if n_ckpt[0] == 0 else f"queries_text:round_pair{n_ckpt[0]}"
        n_ckpt[0] += 1
        with tracer.span(name):
            return ckpt(self, *args, **kwargs)

    DataFrame.localCheckpoint = local_checkpoint
    tracer._undo.append((DataFrame, "localCheckpoint", ckpt))
    tracer.wrap(queries_text, "_is_star_fixpoint", "queries_text:fixpoint", counter="cc_round_pairs")


# --- event log analysis ---------------------------------------------------


def _rows_into(node) -> int | None:
    """Accumulator id of the 'number of output rows' metric of the
    nearest descendant that has one (the rows a Python node consumed)."""
    stack = list(node.get("children", []))
    while stack:
        n = stack.pop(0)
        for m in n.get("metrics", []):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
        stack[:0] = n.get("children", [])
    return None


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application,
    attributed to the job group (span) that submitted them."""

    def __init__(self, path: str):
        self.jobs = {}            # job id -> dict(group, t0, exec_id)
        self.stage_group = {}     # stage id -> group
        self.tasks = defaultdict(list)   # group -> [(stage, launch, finish, run_ms, shuf_w, spill, out_b)]
        self.execs = {}           # exec id -> dict(group, t0, plan)
        # group -> accumulator id -> summed SQL-metric updates of that
        # group's tasks (and of the driver, for its executions)
        self.accum = defaultdict(lambda: defaultdict(float))
        driver_accum = []         # (exec id, accumulator id, value)
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                if e["Event"].endswith("SparkListenerDriverAccumUpdates"):
                    driver_accum += [(e["executionId"], a, v) for a, v in e.get("accumUpdates", [])]
                else:
                    self._event(e)
        for j in self.jobs.values():
            ex = self.execs.get(j["exec_id"])
            if ex is not None and ex["group"] is None:
                ex["group"] = j["group"]
        for exec_id, acc_id, value in driver_accum:
            ex = self.execs.get(exec_id)
            self.accum[ex["group"] if ex else None][acc_id] += float(value)

    def _event(self, e):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            group = props.get("spark.jobGroup.id")
            self.jobs[e["Job ID"]] = {"group": group, "t0": e["Submission Time"] / 1000.0,
                                      "exec_id": int(exec_id) if exec_id else None}
            for s in e.get("Stage IDs", []):
                self.stage_group[s] = group
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            group = self.stage_group.get(e["Stage ID"])
            self.tasks[group].append((
                e["Stage ID"], info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0,
                m.get("Executor Run Time", 0),
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            ))
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    self.accum[group][a["ID"]] += float(a["Update"])
        elif kind.endswith("SQLExecutionStart"):
            self.execs[e["executionId"]] = {"group": e.get("jobGroupId"), "t0": e["time"] / 1000.0,
                                            "plan": e["sparkPlanInfo"]}
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]

    @staticmethod
    def find(workdir: str) -> str:
        logs = [os.path.join(workdir, f) for f in os.listdir(workdir) if not f.startswith(".")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {workdir}, found {logs}")
        return logs[0]

    # --- per-group views ---

    def _values(self, groups) -> dict:
        out = defaultdict(float)
        for g in groups:
            for acc_id, v in self.accum.get(g, {}).items():
                out[acc_id] += v
        return out

    def executed_nodes(self, groups):
        """Plan nodes that ran in the SQL executions of ``groups``, each
        once. A node ran there if those groups' tasks updated one of its
        SQL metrics (a node without metrics goes with its parent). A node
        is one physical operator, known by its metric ids: the cached plan
        under every InMemoryTableScan that reads it, and the exchange under
        every ReusedExchange, are one node each, and count only where
        their tasks ran."""
        updated = self._values(groups)
        seen = set()
        for ex in self.execs.values():
            if ex["group"] not in groups:
                continue
            stack = [(ex["plan"], True)]
            while stack:
                n, parent_ran = stack.pop()
                ids = tuple(sorted(m["accumulatorId"] for m in n.get("metrics", [])))
                if ids:
                    if ids in seen:
                        continue
                    seen.add(ids)
                ran = any(i in updated for i in ids) if ids else parent_ran
                if ran:
                    yield n
                stack.extend((c, ran) for c in n.get("children", []))

    def census(self, groups) -> dict:
        """Counts of the plan nodes ``groups`` executed (final, post-AQE
        plans)."""
        out = {"exchanges": 0, "windows": 0, "scans": 0, "python_evals": 0,
               "executions": sum(ex["group"] in groups for ex in self.execs.values())}
        for n in self.executed_nodes(groups):
            name = n["nodeName"]
            out["exchanges"] += name in EXCHANGE_NODES
            out["windows"] += name in WINDOW_NODES
            out["scans"] += _is_scan(name)
            out["python_evals"] += name in PYTHON_NODES
        return out

    def python_boundary(self, groups) -> dict:
        """Arrow-boundary SQL metrics of every Python node ``groups``
        executed, plus the ``refine`` node of the devices(@) pair join
        (candidate pairs in, matched pairs out)."""
        acc = self._values(groups)
        out = defaultdict(float)
        for n in self.executed_nodes(groups):
            if n["nodeName"] not in PYTHON_NODES:
                continue
            met = {m["name"]: acc.get(m["accumulatorId"], 0.0) for m in n.get("metrics", [])}
            rows_in = acc.get(_rows_into(n), 0.0)
            out["rows_in"] += rows_in
            out["bytes_sent"] += met.get("data sent to Python workers", 0.0)
            out["bytes_recv"] += met.get("data returned from Python workers", 0.0)
            out["run_ms"] += met.get("time to run Python workers", 0.0)
            out["start_ms"] += (met.get("time to start Python workers", 0.0)
                                + met.get("time to initialize Python workers", 0.0))
            if "refine(" in n.get("simpleString", ""):
                out["refine_in"] += rows_in
                out["refine_out"] += met.get("number of output rows", 0.0)
        return out

    def spark_totals(self, groups) -> dict:
        tasks = [t for g in groups for t in self.tasks.get(g, [])]
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        stages = {s for s, g in self.stage_group.items() if g in groups}
        return {
            "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
            "shuffle_write_bytes": sum(t[4] for t in tasks),
            "spill_bytes": sum(t[5] for t in tasks),
            "output_bytes": sum(t[6] for t in tasks),
        }

    def task_skew(self, groups) -> float:
        """Sum over stages of the slowest task / sum over stages of the
        median task (executor run time): 1.0 when every stage is even."""
        by_stage = defaultdict(list)
        for g in groups:
            for t in self.tasks.get(g, []):
                by_stage[t[0]].append(t[3])
        mx = sum(max(v) for v in by_stage.values())
        med = sum(statistics.median(v) for v in by_stage.values())
        return mx / med if med > 0 else 1.0

    def busy_s(self, groups, t0: float, t1: float) -> float:
        """Seconds within [t0, t1] during which at least one task of
        ``groups`` ran."""
        iv = sorted((max(t[1], t0), min(t[2], t1))
                    for g in groups for t in self.tasks.get(g, []))
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy

    def first_exec_start(self, groups) -> float | None:
        ts = [ex["t0"] for ex in self.execs.values() if ex["group"] in groups]
        return min(ts) if ts else None


# --- per-layer metrics ------------------------------------------------------


def _exclusive(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the duration of its direct children."""
    excl = {s.idx: s.t1 - s.t0 for s in spans}
    for s in spans:
        if s.parent in excl:
            excl[s.parent] -= s.t1 - s.t0
    return excl


def layer_metrics(tracer: Tracer, log: EventLog, t0: float, t1: float, extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced repetition [t0, t1] (plus the
    dsl spans of set-up). Returns (metrics, detail)."""
    rep = [s for s in tracer.spans if s.t1 is not None and s.t0 >= t0 and s.t1 <= t1]
    excl = _exclusive(rep)
    ids = {s.idx for s in rep}

    def spans_of(prefix):
        return [s for s in rep if s.name == prefix or s.name.startswith(prefix + ":")]

    def self_s(layer):
        return sum(excl[s.idx] for s in rep if s.layer == layer)

    def dur(name):
        return sum(s.t1 - s.t0 for s in rep if s.name == name)

    def groups(spans):
        return {s.group for s in spans}

    all_groups = groups(rep)
    wall = t1 - t0
    top = [s for s in rep if s.parent not in ids]
    covered = sum(s.t1 - s.t0 for s in top)

    dsl = [s for s in tracer.spans if s.name == "dsl" and s.t1 is not None]
    m = {
        "trace.wall_s": wall,
        "trace.uncovered_frac": max(0.0, wall - covered) / wall,
        "io.geoparse.self_s": self_s("io.geoparse"),
        "io.geoparse.rows_out_frac": extra.get("geoparse_rows_out_frac", 0.0),
        "dsl.compile_s": sum(s.t1 - s.t0 for s in dsl),
        "dsl.rules": len(dsl),
    }

    # engine.spark_pipeline
    sp_groups = groups(spans_of("engine.spark_pipeline"))
    plan_ms = 0.0
    for s in rep:
        if s.name == "engine.spark_pipeline:exec":
            first = log.first_exec_start({s.group})
            if first is not None:
                plan_ms += max(0.0, first - s.t0) * 1000.0
    sp_census = log.census(sp_groups)
    n_build = max(1, sum(1 for s in rep if s.name == "engine.spark_pipeline:build"))
    rules_total = extra.get("rules", 0)
    rules_sql = tracer.counters["rules_sql"] / n_build
    rules_pair = tracer.counters["rules_pairjoin"] / n_build
    m.update({
        "engine.spark_pipeline.build_s": dur("engine.spark_pipeline:build"),
        "engine.spark_pipeline.plan_ms": plan_ms,
        "engine.spark_pipeline.exec_s": dur("engine.spark_pipeline:exec"),
        "engine.spark_pipeline.rules_sql": rules_sql,
        "engine.spark_pipeline.rules_kernel": max(0.0, rules_total - rules_sql - rules_pair),
        "engine.spark_pipeline.rules_pairjoin": rules_pair,
        "engine.spark_pipeline.prune_pass_frac": extra.get("prune_pass_frac", 0.0),
        "engine.spark_pipeline.events_out": extra.get("events_out", 0),
        "engine.spark_pipeline.exchanges": sp_census["exchanges"],
        "engine.spark_pipeline.scans": sp_census["scans"],
    })

    py = log.python_boundary(all_groups)
    m.update({
        "engine.runtime.python_rows_in": py["rows_in"],
        "engine.runtime.python_bytes_sent": py["bytes_sent"],
        "engine.runtime.python_bytes_recv": py["bytes_recv"],
        "engine.runtime.python_run_s": py["run_ms"] / 1000.0,
        "engine.runtime.python_start_s": py["start_ms"] / 1000.0,
        "engine.devices_at.candidate_pairs": py["refine_in"],
        "engine.devices_at.pair_yield": py["refine_out"] / py["refine_in"] if py["refine_in"] else 0.0,
        "engine.tiles.self_s": self_s("engine.tiles"),
        "engine.tiles.tiles_out": extra.get("tiles_out", 0),
    })

    # queries_text
    qt = spans_of("queries_text")
    qt_groups = groups(qt)
    rounds = [s for s in qt if s.name.startswith("queries_text:round_pair")]
    round_census = [dict(log.census({s.group}), span=s.name) for s in rounds]
    star_edges = extra.get("star_edges", 0)
    m.update({
        "queries_text.neardup_build_s": dur("queries_text:neardup_drop_ids"),
        "queries_text.star_edges": star_edges,
        "queries_text.cc_rounds": 2 * tracer.counters["cc_round_pairs"],
        "queries_text.drop_yield": extra.get("dropped", 0) / star_edges if star_edges else 0.0,
        "queries_text.round_exchanges": max((c["exchanges"] for c in round_census), default=0),
        "queries_text.round_windows": max((c["windows"] for c in round_census), default=0),
        "queries_text.shuffle_write_bytes": log.spark_totals(qt_groups)["shuffle_write_bytes"],
        "queries_text.task_skew": log.task_skew(qt_groups) if qt_groups else 0.0,
    })

    # streaming
    st_groups = groups(spans_of("streaming.state_table"))

    def st_self(part):
        return sum(excl[s.idx] for s in rep if s.name == f"streaming.state_table:{part}")

    builds = [s for s in rep if s.name == "engine.spark_pipeline:build"]
    sinks = [s for s in rep if s.name == "engine.spark_pipeline:exec"]
    stream = bool(spans_of("streaming.detect_stream"))
    per_batch = [b.t1 - b.t0 + k.t1 - k.t0 for b, k in zip(builds, sinks)] if stream else []
    m.update({
        "streaming.state_table.read_s": st_self("read"),
        "streaming.state_table.write_s": st_self("write"),
        "streaming.state_table.list_s": st_self("list"),
        "streaming.state_table.prune_s": st_self("prune"),
        "streaming.state_table.dirty_buckets": tracer.counters["dirty_buckets"],
        "streaming.state_table.bytes_written": log.spark_totals(st_groups)["output_bytes"],
        "streaming.detect_stream.self_s": self_s("streaming.detect_stream"),
        "streaming.detect_stream.batch_detect_s": statistics.median(per_batch) if per_batch else 0.0,
    })

    totals = log.spark_totals(all_groups)
    census = log.census(all_groups)
    m.update({
        "spark.jobs": totals["jobs"],
        "spark.stages": totals["stages"],
        "spark.tasks": totals["tasks"],
        "spark.shuffle_write_bytes": totals["shuffle_write_bytes"],
        "spark.spill_bytes": totals["spill_bytes"],
        "spark.no_task_s": wall - log.busy_s(all_groups, t0, t1),
        "plan.exchanges": census["exchanges"],
        "plan.windows": census["windows"],
        "plan.scans": census["scans"],
        "plan.python_evals": census["python_evals"],
    })

    detail = {
        "spans": [
            {"name": s.name, "start_s": round(s.t0 - t0, 4), "dur_s": round(s.t1 - s.t0, 4),
             "self_s": round(excl[s.idx], 4),
             "parent": s.parent, "idx": s.idx, **log.spark_totals({s.group}),
             "no_task_s": round((s.t1 - s.t0) - log.busy_s({s.group}, s.t0, s.t1), 4),
             "census": log.census({s.group})}
            for s in rep
        ],
        "cc_round_pairs": round_census,
    }
    return m, detail
