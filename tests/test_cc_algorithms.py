"""Connected-components algorithms: the O(log)-round two-phase
(Large-Star/Small-Star) must produce exactly min-label propagation's
components, and must converge on chains whose diameter exceeds the
label-propagation cap (the case that loud-fails the simpler variant).
Min-label propagation lives here as the cross-check oracle only.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinix_spark.queries_text import cc_two_phase

# min-label propagation converges in ≤ eccentricity(component) rounds;
# exceeding this means a pathological near-dup chain — fail loudly
# rather than return unconverged cluster ids
CC_MAX_ITERATIONS = 20


def min_label_propagation(
    edges: DataFrame, max_iterations: int = CC_MAX_ITERATIONS
) -> DataFrame:
    """Connected components over an (a_id, b_id) edge DataFrame by
    iterative min-label propagation. Returns (node, label = min node id
    reachable). Each iteration is one shuffle on the edge key; the
    label count shrinks monotonically, so convergence is bounded by the
    max component eccentricity, not the graph size. Raises loudly if
    the iteration cap is hit before convergence — silently returning
    unconverged labels would be wrong cluster ids with no signal."""
    und = (
        edges.selectExpr("a_id AS u", "b_id AS v")
        .unionAll(edges.selectExpr("b_id AS u", "a_id AS v"))
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neigh = (
            und.join(labels, und.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels.node == neigh.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
            # truncate the lineage per iteration — iterative plans grow
            # exponentially otherwise
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min_label_propagation did not converge in {max_iterations} "
        "iterations (a connected component has eccentricity > "
        f"{max_iterations}); raise the cap or pre-split the component"
    )


def _canon(df):
    return sorted((r.node, r.label) for r in df.collect())


def test_two_phase_long_chain_converges_fast(spark):
    """A 64-node chain (diameter 63) exceeds the label-propagation cap
    but the star alternation reaches its fixpoint in O(log) rounds."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_propagation(edges, max_iterations=20)
    labels = cc_two_phase(edges, max_rounds=14)
    got = _canon(labels)
    assert got == [(i, 0) for i in range(64)]


def test_two_phase_matches_label_propagation_random(spark):
    """Random multi-component graphs: identical (node, label) sets from
    both algorithms."""
    rng = np.random.default_rng(9)
    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        n = 60
        pairs = set()
        for _ in range(70):
            a, b = int(rng.integers(0, n)), int(rng.integers(0, n))
            if a != b:
                pairs.add((min(a, b), max(a, b)))
        edges = spark.createDataFrame(sorted(pairs), "a_id long, b_id long")
        a = _canon(cc_two_phase(edges))
        b = _canon(min_label_propagation(edges))
        assert a == b, f"seed={seed}"


def test_two_phase_string_ids(spark):
    """doc ids in the dedup pipeline are strings — ordering/min works
    lexicographically and both algorithms agree."""
    edges = spark.createDataFrame(
        [("d2", "d10"), ("d10", "d7"), ("x1", "x2")], "a_id string, b_id string"
    )
    a = _canon(cc_two_phase(edges))
    b = _canon(min_label_propagation(edges))
    assert a == b
    # lexicographic min: 'd10' < 'd2' < 'd7'
    assert ("d7", "d10") in a and ("x2", "x1") in a


def test_min_label_propagation_cap_is_loud(spark):
    """A chain component whose eccentricity exceeds the iteration cap
    must raise, not silently return unconverged labels — and converge
    fine when the cap covers it."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_propagation(edges, max_iterations=4)
    labels = min_label_propagation(edges, max_iterations=15)
    assert {r.label for r in labels.collect()} == {0}
