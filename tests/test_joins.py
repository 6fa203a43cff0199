"""The cell pair join (engine/joins.py): salted equals unsalted, and
plan shape checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spinix_spark.engine.joins import (
    cell_pair_candidates,
    near_pairs,
    near_pairs_salted,
)
from spinix_spark.geo.cells import GridScheme
from spinix_spark.io.derive import derived_points

SF = "/root/testdata/sf0.001"
FINE = GridScheme(res=9)


@pytest.fixture(scope="module")
def points(spark):
    return (
        derived_points(spark, SF)
        .withColumn("cell", F.expr(FINE.sql_cell_expr("lat", "lon")))
        .cache()
    )


def test_near_pairs_salted_equals_unsalted(spark, points):
    base = {(r.a_id, r.b_id) for r in near_pairs(points, FINE, 250.0).collect()}
    salted = {
        (r.a_id, r.b_id)
        for r in near_pairs_salted(points, FINE, 250.0, n_salt=4).collect()
    }
    assert base == salted
    assert len(base) > 0


def test_cell_pair_candidates_same_multiset_at_any_salt(spark, points):
    """The salt placement neither drops nor repeats a candidate: the
    unrefined (left, right) rows are the same multiset unsalted and
    salted, so every pair still meets on exactly one key."""

    def side(p):
        return points.select(
            F.col("doc_id").alias(f"{p}_id"),
            F.col("lat").alias(f"{p}_lat"),
            F.col("lon").alias(f"{p}_lon"),
            F.col("cell").alias("_cell"),
        )

    def counts(n_salt):
        cand = cell_pair_candidates(side("a"), side("b"), FINE, 250.0, n_salt)
        rows = cand.groupBy("a_id", "b_id").count().collect()
        return {(r.a_id, r.b_id): r["count"] for r in rows}

    base = counts(0)
    assert set(base.values()) == {1} and len(base) > points.count()
    assert counts(4) == base


def test_near_pairs_plan_is_cell_equijoin(spark, points):
    plan = near_pairs(points, FINE, 250.0)._jdf.queryExecution().executedPlan().toString()
    # the join must be an equi-join on the cell key, never a cartesian
    assert "Cartesian" not in plan
    assert "Join" in plan

