"""IVF quantizer training: the distributed Lloyd loop must equal a
NumPy replica of the identical algorithm (same init, same argmin-L2
assignment with first-min tie-break, same per-cell mean), and its
k-means objective must be non-increasing (Lloyd's guarantee). Only
the NLIST×DIM centroid matrix crosses the driver per iteration — the
assignment scan and the (cell, dim) mean shuffle are DataFrame ops.
"""

from __future__ import annotations

import numpy as np

from spinix_spark.queries_ann import _dot_py, _spark_arr, _spark_dot, ivf_train

SF_DIR = "/root/testdata/sf0.001"


def ivf_sq_dist_objective(embeddings, cents: list[list[float]]) -> float:
    """k-means objective: mean over the table of the squared distance
    to the nearest centroid — non-increasing under Lloyd iterations."""
    adj = ", ".join(
        f"({_spark_dot('embedding', _spark_arr(c))} - CAST({_dot_py(c, c) / 2.0!r} AS DOUBLE))"
        for c in cents
    )
    sq_norm = (
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )
    row = embeddings.selectExpr(
        f"avg({sq_norm} - 2 * array_max(array({adj}))) AS obj"
    ).collect()[0]
    return float(row.obj)


def _numpy_train(vecs: np.ndarray, ids: np.ndarray, nlist: int, iters: int):
    order = np.argsort(ids)
    cents = vecs[order[:nlist]].astype(np.float64).copy()
    for _ in range(iters):
        # argmin L2 via adjusted dots — identical tie-break to the SQL
        adj = vecs @ cents.T - 0.5 * (cents * cents).sum(axis=1)
        cells = np.argmax(adj, axis=1)
        new = cents.copy()
        for k in range(nlist):
            m = cells == k
            if m.any():
                new[k] = vecs[m].mean(axis=0)
        cents = new
    return cents


def _load(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    return emb, ids, vecs


def test_ivf_train_matches_numpy(spark):
    emb, ids, vecs = _load(spark)
    got = np.array(ivf_train(emb, nlist=8, iters=3))
    exp = _numpy_train(vecs, ids, nlist=8, iters=3)
    # distributed avg() sums in partition order, NumPy in array order —
    # equal up to float addition reordering
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12)


def test_ivf_train_objective_non_increasing(spark):
    emb, ids, vecs = _load(spark)
    init = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    objs = [ivf_sq_dist_objective(emb, init)]
    for it in (1, 2, 3):
        objs.append(ivf_sq_dist_objective(emb, ivf_train(emb, nlist=8, iters=it)))
    assert all(b <= a + 1e-9 for a, b in zip(objs, objs[1:])), objs
    assert objs[-1] < objs[0]  # training actually moved
