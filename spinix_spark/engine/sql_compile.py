"""Rule → Catalyst compiler for attribute, distance and point
``devices(@)`` rules: the all-JVM fast path.

For an eligible rule the entire evaluation — the attribute and distance
comparators, the ``@`` verdict reads, the left-to-right AND/OR fold
with AND-skip match capture, and the per-node ref collection —
compiles to Catalyst column expressions over the points scan. No Arrow
boundary, no Python workers: whole-stage codegen end to end.

Eligible (any other rule takes the kernel stage of
engine/spark_pipeline.py):

- stateless rules only (trigger state is a keyed stateful stage)
- every attribute op (int/float/string/time/datetime views of the
  device row, runtime.go:2126-2224)
- distance comparators to zone centers (EqualObjectOp) and to explicit
  devices (EqualDevicesOp), with their 50 m rounding and the
  reference's last-candidate-wins Ok (runtime.go:1795-1825, 1860-1888)
- a point ``devices(@)`` node (``devices_at.is_at_node``) whose
  pair-join verdict column (``runtime.at_verdict_col``) is in the
  schema, as it is when detect_batch_spark is given the snapshot as a
  DataFrame: the node reads that column exactly as
  ``runtime._eval_sp_devices`` does

Every other spatial verb (``device``/``devices`` against zones or
explicit devices, a buffered ``@`` candidate) never compiles: the
kernel stage is its one evaluator. Measured per rule family
(PLANS.md, "Catalyst compile per rule family"), the unrolled ray-cast
grows with every zone's and candidate ring's vertex count: it lost to
the kernel from ~64 vertices, on ``@`` registries and on candidate
rings, and won only over tiny zones, by the kernel's fixed
Arrow-boundary cost. Attribute and distance rules run several times
faster here than across that boundary; a ``@`` verdict is one column
read.

Output rows are bit-identical to the kernel path (asserted by the
cross-path parity tests).
"""

from __future__ import annotations

from dataclasses import dataclass

from spinix_spark.dsl import ast_nodes as ast
from spinix_spark.dsl.compiler import (
    CompiledSpec,
    EqualDevicesOp,
    EqualFloatOp,
    EqualIntOp,
    EqualObjectOp,
    EqualStrOp,
    EqualTimeOp,
    InFloatOp,
    InIntOp,
    InStringOp,
    RangeDateTimeOp,
    RangeFloatOp,
    RangeIntOp,
    RangeTimeOp,
)
from spinix_spark.dsl.tokens import Token
from spinix_spark.engine.devices_at import is_at_node
from spinix_spark.engine.runtime import at_verdict_col
from spinix_spark.geo.geodesy import MIN_DIST_METERS
from spinix_spark.geo.sqlgen import haversine_sql, round50_sql


@dataclass
class NodeSQL:
    ok_sql: str
    refs_sql: str  # array<string> expression
    left_kw: str
    right_kw: str
    op: str


_CMP_SQL = {
    Token.EQ: "=",
    Token.LT: "<",
    Token.GT: ">",
    Token.NE: "<>",
    Token.LTE: "<=",
    Token.GTE: ">=",
}

_FLOAT_COLS = {
    Token.FUELLEVEL: "fuel_level",
    Token.PRESSURE: "pressure",
    Token.LUMINOSITY: "luminosity",
    Token.HUMIDITY: "humidity",
    Token.TEMPERATURE: "temperature",
    Token.BATTERY_CHARGE: "battery",
    Token.SPEED: "speed",
}

_STR_COLS = {
    Token.MODEL: "model",
    Token.BRAND: "brand",
    Token.OWNER: "owner",
    Token.IMEI: "imei",
}

_TS = "to_timestamp(datetime)"  # session tz pinned to UTC by the caller

_DATE_FLOAT = {
    Token.YEAR: f"CAST(year({_TS}) AS DOUBLE)",
    Token.MONTH: f"CAST(month({_TS}) AS DOUBLE)",
    Token.WEEK: f"CAST(weekofyear({_TS}) AS DOUBLE)",
    Token.DAY: f"CAST(day({_TS}) AS DOUBLE)",
    Token.HOUR: f"CAST(hour({_TS}) AS DOUBLE)",
}

_DATE_STR = {
    Token.MONTH: f"date_format({_TS}, 'MMMM')",
    Token.DAY: f"date_format({_TS}, 'EEEE')",
    Token.DATE: f"date_format({_TS}, 'yyyy-MM-dd')",
    Token.DATETIME: f"date_format({_TS}, \"yyyy-MM-dd'T'HH:mm:ss'Z'\")",
}


def _float_sql(kw: Token, columns: set[str]) -> str | None:
    if kw is Token.STATUS:
        return "CAST(status AS DOUBLE)" if "status" in columns else "CAST(0 AS DOUBLE)"
    col = _FLOAT_COLS.get(kw)
    if col is not None:
        # zero-value semantics for BOTH null and NaN (a pandas/Arrow
        # NaN is a DOUBLE NaN, not NULL — coalesce alone passes it
        # through, and ANSI CAST(NaN AS BIGINT) throws on the int view)
        return (
            f"nanvl(CAST(coalesce({col}, 0.0) AS DOUBLE), CAST(0.0 AS DOUBLE))"
            if col in columns
            else "CAST(0.0 AS DOUBLE)"
        )
    expr = _DATE_FLOAT.get(kw)
    if expr is not None:
        return expr if "datetime" in columns else None
    return None


def _int_sql(kw: Token, columns: set[str]) -> str | None:
    f = _float_sql(kw, columns)
    # Go int(float64) truncates toward zero; Spark CAST(double AS BIGINT) too
    return None if f is None else f"CAST({f} AS BIGINT)"


def _str_sql(kw: Token, columns: set[str]) -> str | None:
    col = _STR_COLS.get(kw)
    if col is not None:
        return f"coalesce({col}, '')" if col in columns else "''"
    expr = _DATE_STR.get(kw)
    if expr is not None:
        return expr if "datetime" in columns else None
    return None


def _day_anchor_sql(h: int, m: int) -> str:
    # UTC midnight from unix seconds (datetimes are non-negative here)
    return f"((datetime DIV 86400) * 86400 + {h * 3600 + m * 60})"


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _refs_array_sql(pairs: list[tuple[str, str]]) -> str:
    """[(pred_sql, ref_id)] → array<string> of satisfied refs, in
    candidate iteration order."""
    cases = ", ".join(
        f"CASE WHEN {p} THEN {_sql_str(r)} ELSE NULL END" for p, r in pairs
    )
    return f"filter(array({cases}), x -> x IS NOT NULL)"


def compile_node_sql(node, engine, columns: set[str]) -> NodeSQL | None:
    """Catalyst form of one attribute, distance or point ``devices(@)``
    node, or None: any other spatial verb, a ``devices(@)`` node
    without its verdict column in ``columns``, or an attribute whose
    view needs an absent ``datetime`` is evaluated by the kernel stage
    only."""
    if is_at_node(node):
        # the pair join's verdict: the sorted satisfying snapshot ids,
        # null when none does
        col = at_verdict_col(node)
        if col not in columns:
            return None
        return NodeSQL(
            ok_sql=f"({col} IS NOT NULL)",
            refs_sql=f"coalesce({col}, array())",
            left_kw="device",
            right_kw="devices",
            op=str(node.op),
        )
    if isinstance(node, (EqualObjectOp, EqualDevicesOp)):
        # rounded distance to each zone center / explicit device: the
        # last candidate's comparison is Ok, every satisfied candidate
        # is a ref (runtime.go:1795-1825, 1860-1888)
        to_devices = isinstance(node, EqualDevicesOp)
        pairs = []
        last_pred = "false"
        for rid in node.right.refs:
            if to_devices:
                other = engine.devices.lookup(rid)
                at = None if other is None else (other["lat"], other["lon"])
            else:
                z = engine.zones.lookup(rid)
                at = None if z is None else z.center()
            if at is None:
                continue  # missing refs are silently skipped
            dist = round50_sql(
                haversine_sql("lat", "lon", repr(float(at[0])), repr(float(at[1]))),
                MIN_DIST_METERS,
            )
            pred = f"({dist} {_CMP_SQL[node.op]} CAST({node.left.meters()!r} AS DOUBLE))"
            pairs.append((pred, rid))
            last_pred = pred
        return NodeSQL(
            ok_sql=last_pred,
            refs_sql=_refs_array_sql(pairs) if pairs else "array()",
            left_kw="device",
            right_kw="devices" if to_devices else str(node.right.kind),
            op=str(node.op),
        )
    if isinstance(node, (EqualIntOp, EqualFloatOp)):
        val = (
            _int_sql(node.keyword, columns)
            if isinstance(node, EqualIntOp)
            else _float_sql(node.keyword, columns)
        )
        if val is None:
            return None
        lit = repr(node.value) if isinstance(node, EqualFloatOp) else str(node.value)
        return NodeSQL(
            ok_sql=f"({val} {_CMP_SQL[node.op]} {lit})",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="FLOAT" if isinstance(node, EqualFloatOp) else "INT",
            op=str(node.op),
        )
    if isinstance(node, EqualStrOp):
        val = _str_sql(node.keyword, columns)
        if val is None:
            return None
        return NodeSQL(
            ok_sql=f"({val} {_CMP_SQL[node.op]} {_sql_str(node.value)})",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="STRING",
            op=str(node.op),
        )
    if isinstance(node, EqualTimeOp):
        if "datetime" not in columns:
            return None
        bound = _day_anchor_sql(node.hour, node.minute)
        return NodeSQL(
            ok_sql=f"(datetime {_CMP_SQL[node.op]} {bound})",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="time",
            op=str(node.op),
        )
    if isinstance(node, (InIntOp, InFloatOp, InStringOp)):
        if isinstance(node, InStringOp):
            val = _str_sql(node.keyword, columns)
            items = ", ".join(_sql_str(v) for v in sorted(node.values))
        elif isinstance(node, InIntOp):
            val = _int_sql(node.keyword, columns)
            items = ", ".join(str(v) for v in sorted(node.values))
        else:
            val = _float_sql(node.keyword, columns)
            items = ", ".join(repr(v) for v in sorted(node.values))
        if val is None or not items:
            return None
        neg = "NOT " if node.negate else ""
        return NodeSQL(
            ok_sql=f"({neg}({val} IN ({items})))",
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="STRING" if isinstance(node, InStringOp) else (
                "INT" if isinstance(node, InIntOp) else "FLOAT"
            ),
            op="NIN" if node.negate else "IN",
        )
    if isinstance(node, (RangeIntOp, RangeFloatOp)):
        val = (
            _int_sql(node.keyword, columns)
            if isinstance(node, RangeIntOp)
            else _float_sql(node.keyword, columns)
        )
        if val is None:
            return None
        b = node.begin if isinstance(node, RangeIntOp) else repr(node.begin)
        e = node.end if isinstance(node, RangeIntOp) else repr(node.end)
        ok = (
            f"({val} <= {b} OR {val} >= {e})"
            if node.negate
            else f"({val} >= {b} AND {val} <= {e})"
        )
        return NodeSQL(
            ok_sql=ok,
            refs_sql="array()",
            left_kw=str(node.keyword),
            right_kw="INT" if isinstance(node, RangeIntOp) else "FLOAT",
            op="NRANGE" if node.negate else "RANGE",
        )
    if isinstance(node, RangeTimeOp):
        if "datetime" not in columns:
            return None
        d1 = _day_anchor_sql(node.begin_h, node.begin_m)
        d2 = _day_anchor_sql(node.end_h, node.end_m)
        ok = (
            f"(datetime <= {d1} OR datetime >= {d2})"
            if node.negate
            else f"(datetime >= {d1} AND datetime <= {d2})"
        )
        return NodeSQL(
            ok_sql=ok, refs_sql="array()", left_kw=str(node.keyword),
            right_kw="time", op="NRANGE" if node.negate else "RANGE",
        )
    if isinstance(node, RangeDateTimeOp):
        if "datetime" not in columns:
            return None
        ok = (
            f"(datetime <= {node.begin_unix} OR datetime >= {node.end_unix})"
            if node.negate
            else f"(datetime >= {node.begin_unix} AND datetime <= {node.end_unix})"
        )
        return NodeSQL(
            ok_sql=ok, refs_sql="array()", left_kw=str(node.keyword),
            right_kw="datetime", op="NRANGE" if node.negate else "RANGE",
        )
    return None


@dataclass
class RuleSQLPlan:
    nodes: list[NodeSQL]
    recorded_sql: list[str]
    final_sql: str
    layer_sql: str


def try_compile_rule_sql(engine, rule, columns=None) -> RuleSQLPlan | None:
    """Compile a rule to pure Catalyst expressions, or None if any
    part needs the kernel path.

    ``columns`` is the points schema the plan will run against (pass
    ``points.columns``, plus the devices(@) verdict columns the rows
    will carry); attribute nodes on columns that exist
    compile to plain comparisons with zero-value null semantics
    (coalesce — matching the kernel and the reference's Go value
    types), nodes on ABSENT columns compile against the zero value
    itself. Defaults to the minimal schema every caller guarantees."""
    spec: CompiledSpec = rule.spec
    # only a real :trigger carries state (runtime.spec_carries_state);
    # its sequential fold needs the kernel path. A props block with just
    # :center/:radius keeps no state and compiles fine.
    if spec.props.repeat != ast.REPEAT_NONE:
        return None
    if columns is None:
        columns = {
            "url", "device_id", "layer_id", "lat", "lon", "datetime",
            "speed", "status",
        }
    else:
        columns = set(columns)
    nodes: list[NodeSQL] = []
    for node in spec.nodes:
        ns = compile_node_sql(node, engine, columns)
        if ns is None:
            return None
        nodes.append(ns)

    layer_sql = f"(layer_id = {_sql_str(spec.props.layer)})"
    # left-to-right fold with AND-skip capture (runtime.go:186-231)
    acc = nodes[0].ok_sql
    recorded = ["true"]
    for j in range(1, len(nodes)):
        op = spec.ops[j - 1]
        if op is Token.AND:
            recorded.append(acc)
            acc = f"({acc} AND {nodes[j].ok_sql})"
        else:
            recorded.append("true")
            acc = f"({acc} OR {nodes[j].ok_sql})"
    final = f"({acc} AND {layer_sql})"
    return RuleSQLPlan(
        nodes=nodes, recorded_sql=recorded, final_sql=final, layer_sql=layer_sql
    )
