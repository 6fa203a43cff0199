"""Fact-scale physical strategy for ``devices(@)`` rules.

The broadcast/kernel path (engine/spark_pipeline.py) evaluates
device-vs-all-devices verbs by looping the broadcast snapshot inside
each task — correct and reference-faithful while the snapshot is
dimension-sized, but O(snapshot) Python iterations per Arrow batch and
a driver-side ``.collect()`` to build the snapshot. At url-as-device
cardinality (the 100 TB shape) the snapshot IS fact-sized, so this
module computes the ``@`` verdict relationally instead:

    points ──cell pair join (joins.cell_pair_candidates)── devices_df
           ──candidacy (exact Devices.Near rect, devices.go:166-199)
           ──pairwise verb refine (vectorized kernel in mapInPandas;
             plain Catalyst for a point target)
           ──groupBy row: refs = sorted satisfied ids (no row ⇔ none)

The refine sees only (rowkey, a_lat, a_lon, b_id, b_lat, b_lon) pairs
that already passed the exact candidacy rect — the same candidate
universe the kernel's ``Devices.Near`` prefilter admits, so results are
identical (asserted by the cross-strategy parity tests). Ref lists are
emitted in sorted order; the kernel emits snapshot-insertion order —
the set is identical, the order is an unspecified implementation
detail.

Every point ``@`` node (:func:`is_at_node`, any target buffer) gets its
verdict here when detect_batch_spark is given ``devices_df``, as the
column ``runtime.at_verdict_col(node)`` left-joined onto the rows of
the rule's strategy:

- a stateless rule whose other nodes are attribute or distance nodes
  compiles to Catalyst (engine/sql_compile.py), which reads the column
  as ``IS NOT NULL`` and folds it like any other node — entirely
  JVM-side; under an all-AND fold the left join turns inner;
- every other rule (a real ``:trigger``, dwell, a spatial-verb
  companion) takes the kernel stage, where ``runtime._eval_sp_devices``
  reads the column in place of the broadcast snapshot; trigger, dwell
  and fold run there as for any rule.

A buffered ``devices(@) :radius ...`` candidate keeps the broadcast
snapshot; :func:`empty_snapshot_ref_reasons` refuses it at fact scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from spinix_spark.dsl.compiler import SpDevicesOp
from spinix_spark.dsl.tokens import Token
from spinix_spark.engine.runtime import _dd_verb_mask, spatial_verb
from spinix_spark.engine.stores import at_search_meters
from spinix_spark.geo.cells import GridScheme
from spinix_spark.geo.sqlgen import rect_from_center_pred_sql


def is_at_node(node) -> bool:
    """Whether ``node`` is a ``devices(@)`` node whose candidates are
    points — the verdict this module's pair join computes. A buffered
    ``devices(@) :radius ...`` is not one; it keeps the broadcast
    snapshot."""
    return (
        isinstance(node, SpDevicesOp)
        and node.right.all
        and not node.right.refs
        and node.right.kind not in (Token.RADIUS, Token.BBOX)
    )


def empty_snapshot_ref_reasons(engine) -> list[str]:
    """Rules that would read device positions from engine.devices while
    it is empty, and so silently match nothing — one reason per rule,
    empty when the snapshot is populated or no rule reads it.

    Explicit device refs (``devices(d1 d2)``, ``devices(A)`` vs
    ``devices(B)``, distance-to-device comparators) resolve positions
    from engine.devices — the kernel from its broadcast copy, the
    compiled distance comparator (sql_compile, EqualDevicesOp) at plan
    time — silently skipping missing refs (the reference's lookup
    behavior, runtime.go:1444-1712). Against an EMPTY snapshot every
    such node is ``false`` and the rule emits zero events with no
    error. Refs are dimension-sized by
    construction (named ids in the DSL text), so the fix at fact scale
    is to register exactly those devices in engine.devices, not to
    skip the check. A buffered ``devices(@) :radius ...`` reads the
    broadcast snapshot too: the pair join evaluates point candidates
    only (:func:`is_at_node`). Fact-scale entry points
    (detect_batch_spark with devices_df, stream_detect_scalable)
    refuse loudly on these."""
    from spinix_spark.dsl.compiler import EqualDevicesOp, SpDDevicesOp

    if len(engine.devices) != 0:
        return []
    reasons = []
    for r in engine.rules.values():
        ref_nodes = sorted(
            {
                type(n).__name__
                for n in r.spec.nodes
                if (isinstance(n, SpDevicesOp) and n.right.refs)
                or isinstance(n, (SpDDevicesOp, EqualDevicesOp))
            }
        )
        if ref_nodes:
            reasons.append(
                f"rule {r.rule_id}: {'/'.join(ref_nodes)} resolves "
                "explicit device ref(s) from engine.devices, which is "
                "EMPTY — the rule would silently match nothing; "
                "register the referenced devices (dimension-sized) in "
                "engine.devices"
            )
        elif any(
            isinstance(n, SpDevicesOp) and n.right.all and not is_at_node(n)
            for n in r.spec.nodes
        ):
            reasons.append(
                f"rule {r.rule_id}: a buffered devices(@) candidate reads "
                "every device from engine.devices, which is EMPTY — the "
                "rule would silently match nothing; populate "
                "engine.devices (dimension scale) or drop the candidate "
                "buffer"
            )
    return reasons


_PAIR_SCHEMA = StructType(
    [
        StructField("_rowkey", LongType()),
        StructField("b_id", StringType()),
    ]
)


def at_candidate_pairs(
    points: DataFrame,
    devices_df: DataFrame,
    node: SpDevicesOp,
    scheme: GridScheme,
    n_salt: int = 0,
) -> DataFrame:
    """(row, snapshot-device) pairs satisfying the exact verb — the
    distributed form of the kernel's per-snapshot-device loop: the cell
    pair join (joins.cell_pair_candidates) at the node's search radius,
    then layer equality, the kernel's candidacy rect and the verb.

    ``points`` must carry ``_rowkey`` (unique per row), lat, lon,
    layer_id, device_id. ``devices_df`` needs device_id, layer_id,
    lat, lon. ``n_salt`` > 1 salts each row by its ``_rowkey``.
    """
    import math

    from spinix_spark.engine.joins import cell_pair_candidates
    from spinix_spark.geo.geodesy import EARTH_RADIUS_M

    search_m = at_search_meters(node)
    deg_s = math.degrees(search_m / EARTH_RADIUS_M)
    cell = F.expr(scheme.sql_cell_expr("lat", "lon"))
    left = points.select(
        "_rowkey",
        F.col("device_id").alias("a_id"),
        F.col("layer_id").alias("a_layer"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        cell.alias("_cell"),
    )
    right = devices_df.select(
        F.col("device_id").alias("b_id"),
        F.col("layer_id").alias("b_layer"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        cell.alias("_cell"),
    )

    # candidacy = kernel universe: the framed rect test, widened at the
    # poles (cap row × band candidate) exactly as the kernel widens —
    # the exact verb (geodesic for polar rows) decides afterwards
    rect_pred = rect_from_center_pred_sql(
        "a_lat", "a_lon", "b_lat", "b_lon", search_m
    )
    polar_pred = (
        f"((a_lat + {deg_s!r} >= 90.0 AND b_lat >= {90.0 - 2.0 * deg_s!r})"
        f" OR (a_lat - {deg_s!r} <= -90.0 AND b_lat <= {-90.0 + 2.0 * deg_s!r}))"
    )
    cand = (
        cell_pair_candidates(left, right, scheme, search_m, n_salt, "_rowkey")
        .where(F.col("a_layer") == F.col("b_layer"))
        .where(F.expr(f"({rect_pred} OR {polar_pred})"))
        .select("_rowkey", "a_id", "a_lat", "a_lon", "b_id", "b_lat", "b_lon")
    )

    if node.left.kind not in (Token.RADIUS, Token.BBOX):
        # point target vs point candidate: every verb reads coordinate
        # equality (runtime.go:1662-1700) — stay in Catalyst, no Python
        def eq():
            return (F.col("a_lat") == F.col("b_lat")) & (F.col("a_lon") == F.col("b_lon"))

        return cand.where(spatial_verb(node.op, eq, eq)).select("_rowkey", "b_id")

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from spinix_spark.engine.runtime import DeviceBatch

        for pdf in batches:
            if pdf.empty:
                continue
            apdf = pd.DataFrame(
                {
                    "device_id": pdf["a_id"].to_numpy(object),
                    "lat": pdf["a_lat"].to_numpy(np.float64),
                    "lon": pdf["a_lon"].to_numpy(np.float64),
                }
            )
            pred = _dd_verb_mask(
                node.op,
                node.left,
                node.right,
                DeviceBatch(apdf),
                pdf["b_lat"].to_numpy(np.float64),
                pdf["b_lon"].to_numpy(np.float64),
            )
            yield pdf.loc[pred, ["_rowkey", "b_id"]]

    return cand.mapInPandas(refine, schema=_PAIR_SCHEMA)


def at_row_matches(pairs: DataFrame) -> DataFrame:
    """Per-row verdict: refs = sorted satisfied candidate ids (the set
    equals the kernel's; order is canonicalized)."""
    return (
        pairs.groupBy("_rowkey")
        .agg(F.sort_array(F.collect_set("b_id")).alias("_at_refs"))
    )


def snapshot_df_from_points(points: DataFrame) -> DataFrame:
    """Latest position per device as a DataFrame — the fact-scale form
    of spark_pipeline.snapshot_from_points (InsertOrReplace set form,
    devices.go:105-147) with NO driver collect: one shuffle on
    device_id, window row_number, done."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("device_id").orderBy(
        F.col("datetime").desc(), F.col("lat").desc(), F.col("lon").desc()
    )
    cols = [c for c in ("device_id", "layer_id", "lat", "lon", "datetime") if c in points.columns]
    return (
        points.select(*cols)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
