"""DSL parser + compiler golden corpus.

Accept/reject cases replayed verbatim from the reference parser suite
(/root/reference/parser_test.go:9-161); compile-level rejections from
runtime_test.go:150-155 (``devices(@) INTERSECTS devices(@)``) and the
range validations of runtime.go:651-670.
"""

from __future__ import annotations

import pytest

from spinix_spark.dsl import CompileError, ParseError, compile_spec, parse_spec
from spinix_spark.dsl import ast_nodes as ast
from spinix_spark.dsl.compiler import (
    InStringOp,
    RangeIntOp,
    SpDevicesOp,
    SpObjectOp,
)
from spinix_spark.dsl.tokens import Token

ACCEPT = [
    "device nnear circle(c5vj1kevvhfjur1l9gug)",
    "devices(c5vj1kevvhfjur1l9gug, c5vj26evvhfjvfseauk0, c5vj26evvhfjvfseauo0) :radius 1km INTERSECTS objects(@) { :layer c5vj26evvhfjvfseauo0 }",
    'device INTERSECTS polygon("c5vj1kevvhfjur1l9gug") AND speed range [1 .. 40] { :center 42.9284788 72.2776118 }',
    "device :radius 1km intersects polygon(c5vj1kevvhfjur1l9gug) { :center 42.9284788 72.2776118 }",
    "devices(c5vj26evvhfjvfseauo0) :radius 100m near devices(@) :radius 100m { :trigger every 10s }",
    "devices(c5vj26evvhfjvfseauo0) :radius 100m near devices(c5vj1kevvhfjur1l9gug, c5vj26evvhfjvfseauk0, c5vj26evvhfjvfseauo0) :radius 100m { :trigger every 10s }",
    "device :radius 100m near devices(c5vj1kevvhfjur1l9gug, c5vj26evvhfjvfseauk0, c5vj26evvhfjvfseauo0) :radius 100m { :trigger every 10s }",
    """
                 status eq 1 OR 1 eq status
                 {
                    :radius 3km
                    :center 42.4984338 -72.4265129
                    :trigger every 10s
                    :expire 10h
                    :reset after 24h
                 }
""",
    "device :radius 4km intersects polygon(c5vj26evvhfjvfseaulg) { :reset after 24h :trigger 25 times interval 10s }",
    "device :radius 4km intersects polygon(c5vj26evvhfjvfseaulg) :trigger once :reset after 24h",
    "device :radius 4km intersects polygon(c5vj26evvhfjvfseaulg) :reset after 24h :trigger every 10s",
    "device :radius 4km intersects polygon(c5vj26evvhfjvfseaulg)",
    "device intersects polygon(c5vj26evvhfjvfseaulg)",
    "device :radius 4km in polygon(c5vj26evvhfjvfseaulg)",
    "device :radius 4km nin polygon(c5vj26evvhfjvfseaulg)",
    "status eq 1 OR 1 eq status",
    "device near polygon(c5vj26evvhfjvfseaulg) :time duration 5m0s",
    "device near polygon(c5vj26evvhfjvfseaulg) :time after 5m0s",
    "circle(c5vj26evvhfjvfseaulg) :time duration 5s near device :radius 5km",
    "devices(c5vj26evvhfjvfseaulg, c5vj26evvhfjvfseauo0) :bbox 300m near devices(c5vj26evvhfjvfseaulg, c5vj26evvhfjvfseauo0) :bbox 400m",
    "device :radius 300m intersects devices(c5vj26evvhfjvfseaulg, c5vj26evvhfjvfseauo0) :radius 400m",
    "speed range [1 .. 60]",
    "speed nrange [1 .. 60]",
    "temperature range [2.2 .. 10.8]",
    "temperature gte 1 and temperature lt 40",
    "pressure gte 1 and pressure lt 40",
    "luminosity gte 1 and luminosity lt 40",
    "battery range [0 .. 30]",
    "fuelLevel range [0 .. 30]",
    "status range [0 .. 30]",
    "humidity range [0 .. 30]",
    'imei in ["one", "two"]',
    "year range [2022 .. 2023]",
    "month range [1 .. 12]",
    "week in [48, 49, 50] and week range [40 .. 52]",
    "day range [1 .. 12]",
    "time range [12:00 .. 23:00]",
    "time gt 12:00 and time lt 15:00",
    "time eq 19:21",
    'datetime range ["2012-11-01T22:08:41+00:00" .. "2012-11-01T22:08:41+00:00"]',
    'datetime gte "2012-11-01T22:08:41+00:00" and datetime lt "2012-11-01T22:08:41+00:00"',
    'datetime in ["2012-11-01T22:08:41+00:00", "2012-11-01T22:08:41+00:00"]',
    "device :radius 300m intersects line(c5vj26evvhfjvfseaum0) and speed range [30 .. 120]",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger 25 times interval 10s }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger every 10s }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger once }""",
    """device :radius 300m intersects line(c5vj26evvhfjvfseaum0) and speed range [30 .. 120]
			or (temperature gte 0 and temperature lt 400)""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] :trigger""",  # trailing props ignored
]

REJECT = [
    "",
    "some text",
    "devices(,,,) intersects circle()",
    'devices("c5vj26evvhfjvfseaum0") intersects circle()',
    "circle() intersects device",
    "circle intersects device",
    "circle(....) intersects device",
    "device near polygon(c5vj26evvhfjvfseaum0) :time duration h3s",
    "device near polygon(@" + "o" * 128 + ") :time duration h3s",
    "device near polygon(c5vj26evvhfjvfseaum0) :time before 5m0s",
    "device near polygon(c5vj26evvhfjvfseaum0) :time after",
    "device :radius b0km",
    "speed range [0x0 .. b0]",
    "speed range [0x0 .. b0.0]",
    "owner in []",
    "brand in [1 .. 2, 1, 3]",
    "model in [1 ... 2]",
    'iemi in [1, 1.1, "one"]',
    'owner in [1.1, "one", 1]',
    'owner in ["one", 1.1, 1]',
    "owner in [1.1, 1]",
    "time gt 12: and time lt 15:00",
    "datetime gte 2012-11-01T22:08:41+00:00 and datetime lt 2012-11-01T22:08:41+00:00",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger every hhh }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger every 300s somelit }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger 0x0 times }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger 4 somelit }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger 4 times some }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger 4 times interval h4 }""",
    """
             device :radius 300m intersects line(c5vj26evvhfjvfseaum0)
             and speed range [30 .. 120] { :trigger 4 times interval 300s somelit }""",
]


@pytest.mark.parametrize("spec", ACCEPT)
def test_parse_accept(spec):
    expr = parse_spec(spec)
    assert expr is not None


@pytest.mark.parametrize("spec", REJECT)
def test_parse_reject(spec):
    with pytest.raises(ParseError):
        parse_spec(spec)


def test_compile_at_vs_at_rejected():
    # runtime_test.go:150-155 / runtime.go:496-505
    with pytest.raises(CompileError):
        compile_spec("devices(@) INTERSECTS devices(@)")


def test_compile_range_validation():
    with pytest.raises(CompileError):
        compile_spec("speed range [60 .. 1]")
    with pytest.raises(CompileError):
        compile_spec("speed range [60 .. 60]")


def test_compile_simple_intersects():
    spec = compile_spec("device :radius 1km intersects polygon(c5vj26evvhfjvfseaulg)")
    assert len(spec.nodes) == 1
    node = spec.nodes[0]
    assert isinstance(node, SpObjectOp)
    assert node.left.kind is Token.RADIUS
    assert node.left.meters() == 1000.0
    assert node.right.refs == ["c5vj26evvhfjvfseaulg"]
    assert not spec.is_stateful


def test_compile_and_fold_shape():
    spec = compile_spec(
        "device :radius 300m intersects devices(c5vj26evvhfjvfseaulg) and speed range [30 .. 120]"
    )
    assert len(spec.nodes) == 2
    assert spec.ops == [Token.AND]
    assert isinstance(spec.nodes[0], SpDevicesOp)
    assert isinstance(spec.nodes[1], RangeIntOp)
    assert spec.nodes[1].begin == 30 and spec.nodes[1].end == 120


@pytest.mark.parametrize(
    "chain, grouped",
    [
        (
            "speed gt 3 and speed gt 4 and speed gt 5",
            ["(speed gt 3 and speed gt 4) and speed gt 5",
             "speed gt 3 and (speed gt 4 and speed gt 5)"],
        ),
        (
            "speed lt 2 or speed gt 7 or speed eq 5",
            ["(speed lt 2 or speed gt 7) or speed eq 5",
             "speed lt 2 or (speed gt 7 or speed eq 5)"],
        ),
        (
            "speed gt 1 or speed gt 4 and speed lt 6",
            ["speed gt 1 or (speed gt 4 and speed lt 6)"],
        ),
    ],
)
def test_compile_three_comparison_chain(chain, grouped):
    """A chain of three comparisons compiles to three nodes whose
    verdicts equal its parenthesised forms' (AND binds tighter than OR)."""
    import pandas as pd

    from spinix_spark.engine.runtime import Reference, eval_spec
    from spinix_spark.engine.stores import DeviceSnapshot, StateStore, ZoneStore

    batch = pd.DataFrame(
        {
            "device_id": [f"d{i}" for i in range(10)],
            "layer_id": "0" * 20,
            "lat": 0.0,
            "lon": 0.0,
            "datetime": 0,
            "speed": [float(i) for i in range(10)],
        }
    )

    def verdicts(spec_str):
        spec = compile_spec(spec_str)
        assert len(spec.nodes) == 3
        ref = Reference(zones=ZoneStore(), devices=DeviceSnapshot(), states=StateStore())
        ok, matches = eval_spec(spec, batch, ref, rule_id="r" + "0" * 19)
        return ok.tolist(), matches

    got = verdicts(chain)
    assert any(got[0]) and not all(got[0])
    for g in grouped:
        assert verdicts(g) == got, g


def test_compile_props_stateful():
    spec = compile_spec(
        "device intersects polygon(c5vj26evvhfjvfseaulg) { :center 42.9 -72.2 :radius 3km :trigger every 10s :reset after 24h }"
    )
    assert spec.is_stateful
    assert spec.props.center_lat == 42.9
    assert spec.props.radius_m == 3000.0
    assert spec.props.repeat == ast.REPEAT_EVERY
    assert spec.props.delay_s == 10.0
    assert spec.props.reset_interval_s == 24 * 3600.0


def test_compile_trailing_props_ignored_stateless():
    spec = compile_spec(
        "device :radius 4km intersects polygon(c5vj26evvhfjvfseaulg) :trigger once :reset after 24h"
    )
    assert not spec.is_stateful


def test_compile_in_string():
    spec = compile_spec('imei in ["one", "two"]')
    node = spec.nodes[0]
    assert isinstance(node, InStringOp)
    assert node.values == frozenset({"one", "two"})


def test_compile_object_time_duration_stateful():
    spec = compile_spec("device near polygon(c5vj26evvhfjvfseaulg) :time duration 5m0s")
    assert spec.is_stateful
    node = spec.nodes[0]
    assert isinstance(node, SpObjectOp)
    assert node.right.dur_typ is Token.DURATION
    assert node.right.dur_val == 300.0
