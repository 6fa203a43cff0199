"""Distributed detection: the Spark expression of Engine.Detect.

``detect_batch_spark`` evaluates every registered rule over a points
DataFrame and returns one OUT_SCHEMA frame of ``row_type = 'event'``
and ``row_type = 'state'`` rows. Each rule first passes its geofence
prune (``_bbox_pred`` ≙ Rules.Walk, rule.go:229-249, pushed into the
scan; tightened to zone proximity where that is event-sound), then
takes one of two strategies:

- stateless rules of attribute, distance and point devices(@) nodes:
  compiled to Catalyst expressions (engine/sql_compile.py), entirely
  JVM-side;
- everything else: the kernel stage, ``kernel_event_frames``, in
  mapInPandas, with zones, rules and the device snapshot broadcast.
  It is the one evaluator of zone and explicit-device verbs.

When the snapshot is given as a DataFrame, the pair join
(engine/devices_at.py) supplies each point devices(@) node's verdict
as a column (``_at_verdicts``), left-joined onto the rows of either
strategy: a compiled rule reads it in Catalyst, the kernel in place of
the broadcast snapshot. Without that DataFrame no devices(@) node
compiles, and the kernel reads the broadcast snapshot.

The kernel stage is shared with the keyed stream. It calls
``rule_gate_mask`` (engine/detect.py) for the in-task bbox gate,
``eval_spec_full`` (engine/runtime.py), whose ``fold_state`` is the
one sequential per-row trigger and dwell fold of every surface, and
``_state_rows_frame`` for the state rows. Rows of rules that carry
state (``runtime.spec_carries_state``) are hash-partitioned by
device_id and sorted by (device_id, datetime, url), so each (device,
rule) state is owned by one task and folds in event-time order.
Prior states cross batches in one form, ``(device_id, states)``: each
device's STATE_STRUCT array, joined onto its rows. Each task emits only
the states it touched, and ``merge_states`` lays them over the prior
arrays. The streaming forms built on this (foreachBatch) and the keyed
applyInPandasWithState form live in spinix_spark/streaming/.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spinix_spark.dsl.tokens import Token
from spinix_spark.engine.detect import Engine, rule_gate_mask
from spinix_spark.engine.runtime import (
    Reference,
    at_verdict_col,
    eval_spec_full,
    spec_carries_state,
)
from spinix_spark.engine.stores import DeviceSnapshot, StateStore

OUT_SCHEMA = StructType(
    [
        StructField("row_type", StringType()),  # 'event' | 'state'
        StructField("url", StringType()),
        StructField("device_id", StringType()),
        StructField("rule_id", StringType()),
        StructField("spec", StringType()),
        StructField("ok", BooleanType()),
        StructField("left_kw", StringType()),
        StructField("right_kw", StringType()),
        StructField("op", StringType()),
        StructField("right_refs", ArrayType(StringType())),
        StructField("datetime", LongType()),
        StructField("last_seen", LongType()),
        StructField("last_reset", LongType()),
        StructField("hits", LongType()),
        StructField("now", LongType()),
        # dwell visit map (JSON string; empty unless eval_dwell rules
        # ran — see runtime.fold_state)
        StructField("visits", StringType()),
    ]
)

# one (device, rule) trigger-state row, as every surface carries it:
# the 'state' rows of OUT_SCHEMA, the per-device ``_states`` shuffle
# carry, the stream's devices table and keyed_detect's GroupState
STATE_COLS = ["device_id", "rule_id", "last_seen", "last_reset", "hits", "now", "visits"]
# the element of a per-device state array (STATE_COLS minus device_id):
# the ``_states`` carry, the devices table's ``states`` column and
# keyed_detect's GroupState all hold arrays of it
STATE_STRUCT = StructType([OUT_SCHEMA[c] for c in STATE_COLS[1:]])


def _bbox_pred(b, pad_lat: float = 0.0, pad_lon: float = 0.0) -> str:
    """Catalyst-pushable bbox containment. A rule circle centered near
    ±180° yields an UNNORMALIZED lon range (e.g. 179.5 .. 180.5, from
    the continuous 8-gon ring) — then the point lon is framed (±360°
    shift) to the box's center so west-side points still match. The
    framed CASE is emitted ONLY for overflowing boxes; every mid-lon
    rule keeps the plain comparison (identical SQL text and pushdown)."""
    lo_lat = float(b[0]) - pad_lat
    hi_lat = float(b[2]) + pad_lat
    lo_lon = float(b[1]) - pad_lon
    hi_lon = float(b[3]) + pad_lon
    lon_expr = "lon"
    if lo_lon < -180.0 or hi_lon > 180.0:
        from spinix_spark.geo.sqlgen import lon_frame_sql

        lon_expr = lon_frame_sql("lon", repr((lo_lon + hi_lon) / 2.0))
    return (
        f"(lat >= {lo_lat!r} AND lat <= {hi_lat!r}"
        f" AND {lon_expr} >= {lo_lon!r} AND {lon_expr} <= {hi_lon!r})"
    )


_POSITIVE_ZONE_OPS = (Token.IN, Token.INTERSECTS, Token.NEAR)

# every column the vectorized kernel can read (DeviceBatch fields +
# attribute mappers + event provenance) — anything else (page text,
# html, cell keys) is dead weight across the Arrow boundary and is
# pruned before mapInPandas
KERNEL_COLS = frozenset(
    {
        "url", "device_id", "layer_id", "lat", "lon", "datetime", "status",
        "speed", "battery", "temperature", "humidity", "luminosity",
        "pressure", "fuel_level", "alt", "model", "brand", "owner", "imei",
    }
)


def _rule_prune_expr_for(engine: Engine, rule) -> str:
    """Catalyst-pushable prune predicate for one rule.

    Base form is the rule's geofence bbox (≙ Rules.Walk,
    rule.go:229-249). When the rule's fold is all-AND and contains a
    non-negated zone op with explicit refs, zone proximity is a
    NECESSARY condition for a match, so the prune tightens to the
    union of that node's zone bboxes padded by the device-buffer
    reach — typically orders of magnitude fewer rows cross the Arrow
    boundary into the Python refinement stage. Negated verbs
    (NINTERSECTS/NIN/NNEAR) match on far-away rows by design
    (SURVEY.md §2A.1) so rules containing only those keep the wide
    bbox.

    Rules that carry state (``runtime.spec_carries_state``) never
    tighten: ``runtime.fold_state`` advances the state on every in-bbox
    layer-matching row regardless of node outcomes. For a REAL trigger
    (checkTrigger/changeState, runtime.go:103-163), dropping a
    non-matching in-bbox row would change which later rows fire —
    tightening is only event-sound when the gate is constant-true. For
    a dwell rule under ``eval_dwell``, a non-matching in-bbox row is
    the event that CLEARS a visit, so dropping it would let a stale
    first_visit anchor qualify later rows."""
    import math

    from spinix_spark.dsl.compiler import SpDevicesObjectOp, SpObjectOp

    base = _bbox_pred(rule.bbox)
    if spec_carries_state(rule.spec, engine.eval_dwell):
        return base
    if any(op is not Token.AND for op in rule.spec.ops):
        return base
    for node in rule.spec.nodes:
        if (
            isinstance(node, (SpObjectOp, SpDevicesObjectOp))
            and node.op in _POSITIVE_ZONE_OPS
            and node.right.refs
            and not node.right.all
        ):
            zones = [
                engine.zones.lookup(r)
                for r in node.right.refs
                if engine.zones.lookup(r) is not None
            ]
            if not zones:
                continue
            meters = node.left.meters() + 1.0
            parts = []
            for z in zones:
                ref_lat = max(abs(float(z.bbox[0])), abs(float(z.bbox[2])))
                pad_lat = meters / 110574.0
                coslat = math.cos(math.radians(min(ref_lat, 84.0)))
                pad_lon = meters / (111320.0 * max(coslat, 0.05))
                parts.append(_bbox_pred(z.bbox, pad_lat, pad_lon))
            return f"({base} AND ({' OR '.join(parts)}))"
    return base


def rules_prune_expr(engine: Engine) -> str:
    """OR over every rule's prune predicate — the standalone Rules.Walk
    filter (useful for pre-filtering a points table before any
    per-rule processing)."""
    parts = [_rule_prune_expr_for(engine, rule) for rule in engine.rules.values()]
    return " OR ".join(parts) if parts else "false"


def _event_cols_sql(rule, columns) -> list[str]:
    """SQL select list of ``row_type = 'event'`` rows (OUT_SCHEMA) for a
    compiled rule, over rows carrying one matching node's ``_lkw``,
    ``_rkw``, ``_op`` and ``_refs``."""
    url_sql = "url" if "url" in columns else "''"
    dt_sql = "CAST(datetime AS BIGINT)" if "datetime" in columns else "CAST(0 AS BIGINT)"
    spec_lit = rule.spec.source.replace("'", "''")
    return [
        "'event' AS row_type",
        f"{url_sql} AS url",
        "device_id",
        f"'{rule.rule_id}' AS rule_id",
        f"'{spec_lit}' AS spec",
        "true AS ok",
        "_lkw AS left_kw",
        "_rkw AS right_kw",
        "_op AS op",
        "_refs AS right_refs",
        f"{dt_sql} AS datetime",
        "CAST(0 AS BIGINT) AS last_seen",
        "CAST(0 AS BIGINT) AS last_reset",
        "CAST(0 AS BIGINT) AS hits",
        "CAST(0 AS BIGINT) AS now",
        "CAST('' AS STRING) AS visits",
    ]


def _sql_rule_events(
    points: DataFrame, engine: Engine, rule, plan, verdicts: dict[str, DataFrame]
) -> DataFrame:
    """All-Catalyst event rows for one compiled-to-SQL rule: prune →
    the verdict columns of its point devices(@) nodes, left-joined on
    ``_rowkey`` from ``verdicts`` (``_at_verdicts``) → the rows the fold
    keeps → one event row per recorded matching node, generated from
    one projection (``inline`` over the per-node match structs). Under
    an all-AND fold the ``IS NOT NULL`` filter turns each left join
    inner (Catalyst's EliminateOuterJoin)."""
    points.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    cols = set(points.columns)
    pruned = _join_verdicts(
        points.where(F.expr(_rule_prune_expr_for(engine, rule))), [rule], verdicts
    )
    matches = ", ".join(
        f"named_struct('keep', {plan.recorded_sql[j]} AND {ns.ok_sql},"
        f" 'lkw', '{ns.left_kw}', 'rkw', '{ns.right_kw}', 'op', '{ns.op}',"
        f" 'refs', {ns.refs_sql})"
        for j, ns in enumerate(plan.nodes)
    )
    return (
        pruned.where(F.expr(plan.final_sql))
        .selectExpr(
            "*",
            f"inline(filter(array({matches}), m -> m.keep)) AS (_keep, _lkw, _rkw, _op, _refs)",
        )
        .selectExpr(*_event_cols_sql(rule, cols))
    )


def _with_rowkey(df: DataFrame) -> DataFrame:
    """``_rowkey``: the row identity the devices(@) verdict joins on."""
    key_cols = [c for c in ("url", "device_id", "datetime", "lat", "lon") if c in df.columns]
    return df.withColumn("_rowkey", F.xxhash64(*key_cols))


def _verdict_cols(rules) -> list[str]:
    """The verdict columns (``runtime.at_verdict_col``) the point
    devices(@) nodes of ``rules`` read, each once."""
    from spinix_spark.engine.devices_at import is_at_node

    return list(
        dict.fromkeys(
            at_verdict_col(n) for r in rules for n in r.spec.nodes if is_at_node(n)
        )
    )


def _join_verdicts(
    rows: DataFrame, rules, verdicts: dict[str, DataFrame]
) -> DataFrame:
    """``rows`` with the ``verdicts`` columns that ``rules`` read
    left-joined on ``_rowkey`` (null where no snapshot device satisfies
    the verb)."""
    cols = [c for c in _verdict_cols(rules) if c in verdicts]
    if not cols:
        return rows
    rows = _with_rowkey(rows)
    for c in cols:
        rows = rows.join(verdicts[c], "_rowkey", "left")
    return rows.drop("_rowkey")


def _visits_json(st: dict) -> str:
    """Deterministic JSON form of a state row's dwell visit map for
    the DataFrame carry (empty map -> '' keeps pre-dwell rows
    byte-identical)."""
    v = st.get("visits")
    return json.dumps(v, separators=(",", ":"), sort_keys=True) if v else ""


def _state_rows_frame(snap: list[dict]) -> pd.DataFrame:
    """``row_type = 'state'`` output rows (OUT_SCHEMA) for the state
    dicts a task touched."""
    return pd.DataFrame(
        {
            "row_type": "state",
            "url": "",
            "device_id": [s["device_id"] for s in snap],
            "rule_id": [s["rule_id"] for s in snap],
            "spec": "",
            "ok": True,
            "left_kw": "",
            "right_kw": "",
            "op": "",
            "right_refs": [[] for _ in snap],
            "datetime": 0,
            "last_seen": [int(s["last_seen"]) for s in snap],
            "last_reset": [int(s["last_reset"]) for s in snap],
            "hits": [int(s["hits"]) for s in snap],
            "now": [int(s["now"]) for s in snap],
            "visits": [_visits_json(s) for s in snap],
        }
    )


def _event_rows_frame(
    rule_id: str, spec_src: str, kws: tuple, urls, dids, dts, refs: list
) -> pd.DataFrame:
    """``row_type = 'event'`` output rows (OUT_SCHEMA) for one node's
    matches: ``kws`` = (left_kw, right_kw, op), the rest per row."""
    left_kw, right_kw, op = kws
    return pd.DataFrame(
        {
            "row_type": "event",
            "url": urls,
            "device_id": dids,
            "rule_id": rule_id,
            "spec": spec_src,
            "ok": True,
            "left_kw": left_kw,
            "right_kw": right_kw,
            "op": op,
            "right_refs": refs,
            "datetime": dts,
            "last_seen": 0,
            "last_reset": 0,
            "hits": 0,
            "now": 0,
            "visits": "",
        }
    )


def kernel_event_frames(
    rules, pdf: pd.DataFrame, ref: Reference, eval_dwell: bool
) -> list[pd.DataFrame]:
    """The kernel stage of detect_batch_spark and the keyed stream: per
    ``(rule_id, spec, bbox)`` in ``rules``, the bbox gate
    (``rule_gate_mask``), then ``eval_spec_full`` (its ``fold_state``
    advances trigger and dwell state in ``ref.states``), then one columnar
    ``_event_rows_frame`` per matching node. Rows must arrive in
    per-device event order."""
    frames: list[pd.DataFrame] = []
    lat = pdf["lat"].to_numpy(dtype=np.float64)
    lon = pdf["lon"].to_numpy(dtype=np.float64)
    for rule_id, spec, bbox in rules:
        mask = rule_gate_mask(bbox, lat, lon)
        if not mask.any():
            continue
        sub = pdf.loc[mask].reset_index(drop=True)
        ok, node_results, recorded, _gate = eval_spec_full(
            spec, sub, ref, rule_id, eval_dwell=eval_dwell
        )
        if not ok.any():
            continue
        urls = (
            sub["url"].to_numpy(dtype=object)
            if "url" in sub
            else np.full(len(sub), "", dtype=object)
        )
        dids = sub["device_id"].to_numpy(dtype=object)
        dts = (
            sub["datetime"].to_numpy(dtype=np.int64)
            if "datetime" in sub
            else np.zeros(len(sub), dtype=np.int64)
        )
        for j, res in enumerate(node_results):
            idx = np.nonzero(ok & recorded[j] & res.ok)[0]
            if idx.size == 0:
                continue
            refs_col = (
                [list(res.right_refs[i]) for i in idx]
                if res.right_refs is not None
                else [[] for _ in range(idx.size)]
            )
            kws = (str(res.left_kw), str(res.right_kw), str(res.op))
            frames.append(
                _event_rows_frame(
                    rule_id, spec.source, kws,
                    urls[idx], dids[idx], dts[idx], refs_col,
                )
            )
    return frames


def _state_seed_rows(device_id: str, st_list) -> list[dict]:
    """One device's carried state structs (STATE_COLS minus device_id)
    as StateStore rows."""
    return [
        {
            "device_id": str(device_id),
            "rule_id": str(st["rule_id"]),
            "last_seen": int(st["last_seen"]),
            "last_reset": int(st["last_reset"]),
            "hits": int(st["hits"]),
            "now": int(st["now"]),
            "visits": st["visits"],
        }
        for st in st_list
    ]


def _seed_states_from_column(states: StateStore, pdf: pd.DataFrame) -> None:
    """Seed the prior states that arrived attached to this batch's rows
    as each device's ``_states`` array. First sighting wins — later
    Arrow batches must not clobber in-task mutations."""
    if "_states" not in pdf.columns:
        return
    states.load_if_absent(
        [
            row
            for did, st_list in zip(pdf["device_id"], pdf["_states"])
            if st_list is not None
            for row in _state_seed_rows(did, st_list)
        ]
    )


def _at_verdicts(
    points: DataFrame, engine: Engine, rules, devices_df: DataFrame, n_salt: int
) -> dict[str, DataFrame]:
    """``at_verdict_col(node)`` -> (``_rowkey``, that column) frame for
    every point devices(@) node of ``rules``: the pair join
    (engine/devices_at.py) over the pruned, layer-matching rows of the
    rules that read the column. A compiled rule reads it as a Catalyst
    column (sql_compile.compile_node_sql), the kernel in place of the
    broadcast snapshot (runtime._eval_sp_devices)."""
    from functools import reduce

    from spinix_spark.engine.devices_at import (
        at_candidate_pairs,
        at_row_matches,
        is_at_node,
    )

    wanted: dict[str, tuple] = {}  # column -> (node, row predicates)
    for r in rules:
        pred = F.expr(_rule_prune_expr_for(engine, r)) & (
            F.col("layer_id") == r.spec.props.layer
        )
        for n in r.spec.nodes:
            if is_at_node(n):
                wanted.setdefault(at_verdict_col(n), (n, []))[1].append(pred)
    return {
        col: at_row_matches(
            at_candidate_pairs(
                _with_rowkey(points.where(reduce(lambda a, b: a | b, preds))),
                devices_df, node, engine.scheme, n_salt=n_salt,
            )
        ).withColumnRenamed("_at_refs", col)
        for col, (node, preds) in wanted.items()
    }


def detect_batch_spark(
    points: DataFrame,
    engine: Engine,
    states: DataFrame | None = None,
    prefer_sql: bool = True,
    devices_df: DataFrame | None = None,
    at_salt: int = 0,
) -> DataFrame:
    """Evaluate every registered rule over a points DataFrame.

    Returns the union output (row_type 'event' per golden match row +
    'state' for updated trigger states). Use :func:`split_output` to
    get (events, states).

    With ``devices_df`` given, the device snapshot stays a DataFrame
    (no broadcast, no driver collect): the pair join
    (engine/devices_at.py) computes each point devices(@) node's
    verdict once, as a column (``runtime.at_verdict_col``) that either
    strategy joins onto its rows. Per-rule physical strategy:
    1. A stateless rule of attribute, distance and (with
       ``devices_df``) point devices(@) nodes compiles to pure
       Catalyst expressions (engine/sql_compile.py) → entirely
       JVM-side.
    2. Otherwise → the kernel stage (``kernel_event_frames`` in
       mapInPandas), with zones, rules and engine.devices broadcast:
       the one evaluator of zone and explicit-device verbs, triggers
       and dwell. A point devices(@) node reads its verdict column in
       place of the broadcast snapshot.
    Both strategies produce identical rows (cross-path parity tested);
    ``prefer_sql=False`` sends every rule to the kernel stage.

    ``states`` is the prior trigger and dwell state, ``(device_id,
    states: array<STATE_STRUCT>)`` with one row per device, as
    :func:`merge_states` returns it and the stream's devices table holds
    it. It joins the rules' device_id shuffle, so each device's prior
    states ride its rows into the task that owns it. The next batch's
    carry is ``merge_states(states, <this batch's 'state' rows>)``.

    engine.devices still serves explicit device refs and buffered
    devices(@) candidates. With ``devices_df`` given and
    engine.devices EMPTY, a rule that reads it would silently match
    nothing, so this raises instead
    (``devices_at.empty_snapshot_ref_reasons``).

    State rows are emitted only for rules whose state a later event can
    depend on (``runtime.spec_carries_state``: a real ``:trigger``, or
    a dwell suffix under ``eval_dwell``), identically on every path.
    """
    from spinix_spark.engine.devices_at import empty_snapshot_ref_reasons
    from spinix_spark.engine.sql_compile import try_compile_rule_sql

    rules = list(engine.rules.values())
    if devices_df is not None:
        ref_reasons = empty_snapshot_ref_reasons(engine)
        if ref_reasons:
            raise ValueError(
                "detect_batch_spark(devices_df=...): "
                + "; ".join(ref_reasons)
            )
    verdicts = (
        _at_verdicts(points, engine, rules, devices_df, at_salt)
        if devices_df is not None
        else {}
    )
    # a point devices(@) node's verdict column compiles like any other
    columns = [*points.columns, *verdicts]
    sql_planned = []
    kernel_rules = []
    for r in rules:
        plan = try_compile_rule_sql(engine, r, columns=columns) if prefer_sql else None
        if plan is not None:
            sql_planned.append((r, plan))
        else:
            kernel_rules.append(r)

    sql_outs = [
        _sql_rule_events(points, engine, r, plan, verdicts) for r, plan in sql_planned
    ]
    if not kernel_rules:
        if not sql_outs:
            return points.sparkSession.createDataFrame([], OUT_SCHEMA)
        out = sql_outs[0]
        for o in sql_outs[1:]:
            out = out.unionAll(o)
        return out

    sc = points.sparkSession.sparkContext
    payload = {
        "zones": engine.zones,
        "snapshot": engine.devices,
        "rules": [(r.rule_id, r.spec, r.bbox) for r in kernel_rules],
        "eval_dwell": engine.eval_dwell,
    }
    b = sc.broadcast(payload)

    kernel_prune = " OR ".join(
        _rule_prune_expr_for(engine, r) for r in kernel_rules
    )
    pruned = _join_verdicts(
        points.where(F.expr(kernel_prune)).select(
            *[c for c in points.columns if c in KERNEL_COLS]
        ),
        kernel_rules,
        verdicts,
    )
    if any(spec_carries_state(r.spec, engine.eval_dwell) for r in kernel_rules):
        if states is not None:
            # each device's prior states ride its rows as one array; the
            # join and the repartition below share the device_id
            # partitioning
            pruned = pruned.join(
                states.select("device_id", F.col("states").alias("_states")),
                "device_id",
                "left",
            )
        # one owner task per device + deterministic per-device event
        # order: trigger state folds sequentially over (device_id,
        # datetime) regardless of Arrow batch boundaries or partition
        # count (the reference's per-event Detect ordering)
        sort_cols = [c for c in ("device_id", "datetime", "url") if c in points.columns]
        pruned = pruned.repartition("device_id").sortWithinPartitions(*sort_cols)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = b.value
        states = StateStore()
        ref = Reference(zones=p["zones"], devices=p["snapshot"], states=states)
        for pdf in batches:
            if pdf.empty:
                continue
            _seed_states_from_column(states, pdf)
            frames = kernel_event_frames(p["rules"], pdf, ref, p["eval_dwell"])
            if frames:
                yield pd.concat(frames, ignore_index=True)
        # state rows: ONE emission per task, touched keys only. The
        # repartition("device_id") above means every row of a device
        # lands in exactly one task, so each touched (device, rule)
        # key is emitted by exactly one task; prior states a task never
        # touched stay in the caller's carry (merge_states)
        snap = states.dirty_snapshot()
        if snap:
            yield _state_rows_frame(snap)

    out = pruned.mapInPandas(process, schema=OUT_SCHEMA)
    for o in sql_outs:
        out = out.unionAll(o)
    return out


def merge_states(prior: DataFrame | None, emitted: DataFrame) -> DataFrame:
    """The next batch's state carry, ``(device_id, states)``: each
    device's ``prior`` STATE_STRUCT array with this batch's emitted
    'state' rows (STATE_COLS, as :func:`split_output` returns them)
    laid over it per rule — an emitted (device, rule) state replaces the
    prior one. One groupBy of the emitted rows and one full-outer join
    on device_id; nothing touches the driver. ``prior`` None is the
    first batch. A device with neither prior nor emitted states keeps a
    null array."""
    new = emitted.groupBy("device_id").agg(
        F.collect_list(F.struct(*STATE_COLS[1:])).alias("_new")
    )
    if prior is None:
        return new.withColumnRenamed("_new", "states")
    # concat and array_contains are null on a null input, so a device
    # on one side only falls through to that side's array
    kept = F.filter(
        "states", lambda s: ~F.array_contains(F.col("_new.rule_id"), s["rule_id"])
    )
    return prior.select("device_id", "states").join(new, "device_id", "full_outer").select(
        "device_id", F.coalesce(F.concat(kept, "_new"), "states", "_new").alias("states")
    )


def split_output(out: DataFrame) -> tuple[DataFrame, DataFrame]:
    events = out.where(F.col("row_type") == "event").drop("row_type", *STATE_COLS[2:])
    states = out.where(F.col("row_type") == "state").select(*STATE_COLS)
    return events, states


# snapshot_from_points collects the per-device latest rows to the
# driver (dimension-scale broadcastable snapshot); refuse past this
# device count — the fact-scale form is devices_at.snapshot_df_from_points
SNAPSHOT_GUARD_ROWS = 1_000_000


def snapshot_from_points(points: DataFrame) -> DeviceSnapshot:
    """Latest position per device (InsertOrReplace set-form,
    devices.go:105-147) collected to a broadcastable snapshot: the rows
    of :func:`spinix_spark.engine.devices_at.snapshot_df_from_points`,
    which keeps the snapshot a DataFrame. DIMENSION-SCALE ONLY (one
    row per device on the driver) — at url-as-device cardinality use
    that DataFrame form directly."""
    from spinix_spark.engine.devices_at import snapshot_df_from_points

    latest = snapshot_df_from_points(points).cache()
    n = latest.count()
    if n > SNAPSHOT_GUARD_ROWS:
        latest.unpersist()
        raise ValueError(
            f"snapshot_from_points: {n} devices (> {SNAPSHOT_GUARD_ROWS}) "
            "would be collected to the driver; use "
            "devices_at.snapshot_df_from_points (DataFrame snapshot, no "
            "collect) at this scale"
        )
    snap = DeviceSnapshot()
    for row in latest.collect():
        snap.insert_or_replace(row.asDict())
    latest.unpersist()
    return snap
