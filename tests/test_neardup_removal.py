"""Near-dup REMOVAL lineage invariants: the star-edge LSH construction
(linear in bucket size) must yield exactly the same duplicate clusters
as the pairwise band join, the drop set must keep exactly one
canonical member per cluster, and both LSH builders keep their plan
shape. ANN recall sanity rides along (full probe ⇒ recall 1.0,
monotone in nprobe)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _labels(spark, edges_sql):
    from spinix_spark.queries_text import cc_two_phase

    return {
        (r.node, r.label)
        for r in cc_two_phase(spark.sql(edges_sql)).collect()
    }


def _components(pairs):
    """Driver-side union-find over (a, b) pairs → {node: component min}."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _plan_nodes(df, name: str) -> int:
    """Number of ``name`` operators in ``df``'s optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(rf"^[ :+\-]*{name} ", plan, flags=re.M))


def test_star_edges_same_components_as_pairwise(spark):
    from spinix_spark.queries_text import (
        _cached_signatures_wide,
        _lsh_pairs_from_salted_wide,
        _lsh_star_edges_wide_window,
    )

    _cached_signatures_wide(spark, SF_DIR)
    star = _labels(spark, _lsh_star_edges_wide_window("mh_sig_w"))
    pairwise = _labels(spark, _lsh_pairs_from_salted_wide("mh_sig_w"))
    assert star == pairwise and star


def _assert_one_canonical_per_cluster(spark, dropped, sig_view):
    """``dropped`` must be exactly the non-canonical members of the
    clusters over ``sig_view``'s signatures, rebuilt independently:
    the salted pairwise band join (not the star edges) and a
    driver-side union-find (not cc_two_phase)."""
    from spinix_spark.queries_text import _lsh_pairs_from_salted_wide

    pairs = spark.sql(_lsh_pairs_from_salted_wide(sig_view)).collect()
    label = _components((r.a_id, r.b_id) for r in pairs)
    n_chars = {
        r.doc_id: r.n_chars
        for r in spark.table("documents")
        .where(F.col("doc_id").isin(list(label)))
        .collect()
    }
    clusters: dict = {}
    for node, root in label.items():
        clusters.setdefault(root, []).append((n_chars[node], node))
    assert clusters
    for members in clusters.values():
        keep = max(members, key=lambda t: (t[0], -t[1]))[1]
        others = {n for _c, n in members if n != keep}
        assert keep not in dropped
        assert others <= dropped
    # nothing outside the clusters is ever dropped
    assert dropped <= set(label)


def test_drop_set_keeps_one_canonical_per_cluster(spark):
    from spinix_spark.io.derive import load_tables
    from spinix_spark.queries_text import (
        _fast_shingle_sig_wide_sql,
        neardup_drop_ids,
    )

    load_tables(spark, SF_DIR, ["documents"])
    corpus = spark.table("documents").select("doc_id", "text", "n_chars")
    dropped = {r.doc_id for r in neardup_drop_ids(corpus).collect()}
    # expected clusters from the SAME xxhash64 signature
    spark.sql(_fast_shingle_sig_wide_sql("documents")).createOrReplaceTempView(
        "_t_sig"
    )
    _assert_one_canonical_per_cluster(spark, dropped, "_t_sig")


def test_filtered_corpus_keeps_one_canonical_per_md5_cluster(spark):
    """The gate form of the removal lineage (md5 signatures) drops the
    same way: the corpus minus dedup_filtered_corpus is exactly the
    non-canonical members of the md5 clusters."""
    from spinix_spark.queries_text import (
        _cached_signatures_wide,
        dedup_filtered_corpus,
    )

    kept = {r.doc_id for r in dedup_filtered_corpus(spark, SF_DIR).collect()}
    _cached_signatures_wide(spark, SF_DIR)
    docs = {r.doc_id for r in spark.table("documents").select("doc_id").collect()}
    assert kept <= docs
    _assert_one_canonical_per_cluster(spark, docs - kept, "mh_sig_w")


def test_ann_recall_full_probe_is_exact(spark):
    from spinix_spark.queries_ann import NLIST, ann_recall_stats

    nprobes = (1, 2, 4, NLIST)
    out = ann_recall_stats(
        spark, SF_DIR, nprobes=nprobes, n_queries=5, iters=1
    )
    assert out[f"recall10_nprobe{NLIST}"] == 1.0
    # monotone in probe count (same scored pass, growing candidate set)
    vals = [out[f"recall10_nprobe{p}"] for p in nprobes]
    assert vals == sorted(vals), out


def test_lsh_plan_shape_budgets(spark):
    """Plan-shape budgets for the shipped LSH builders: the star edges
    are ONE window MIN with no join (a join would mean the signature
    is referenced twice, or the O(bucket²) pairwise self-join is back);
    the pairwise form stays ONE salted equi-join."""
    from spinix_spark.queries_text import (
        _cached_signatures_wide,
        _lsh_pairs_from_salted_wide,
        _lsh_star_edges_wide_window,
    )

    _cached_signatures_wide(spark, SF_DIR)
    star = spark.sql(_lsh_star_edges_wide_window("mh_sig_w"))
    assert (_plan_nodes(star, "Join"), _plan_nodes(star, "Window")) == (0, 1)
    pairs = spark.sql(_lsh_pairs_from_salted_wide("mh_sig_w"))
    assert _plan_nodes(pairs, "Join") == 1
