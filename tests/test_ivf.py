"""ivf_build must reproduce a plain-numpy Lloyd reference exactly
(deterministic init + identical update rule), and its sampled-training
mode must still assign the full corpus."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from open_source_legislation_spark.operators import similarity

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@pytest.fixture(scope="module")
def vecs():
    # 3 well-separated deterministic clusters + noise, 60 rows × 8 dims
    rows = []
    for i in range(60):
        center = i % 3
        base = [10.0 * center] * 8
        jitter = [((1103515245 * (i * 8 + j) + 12345) % 997) / 997.0 for j in range(8)]
        rows.append((i, [float(np.float32(b + x)) for b, x in zip(base, jitter)]))
    return rows


def _numpy_kmeans(rows, k, iters):
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    C = V[order[:k]].copy()
    for _ in range(iters):
        d2 = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
        cell = np.argmin(d2, axis=1)
        for j in range(k):
            if (cell == j).any():
                C[j] = V[cell == j].mean(axis=0)
    d2 = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
    return dict(zip(ids.tolist(), np.argmin(d2, axis=1).tolist())), C


def test_ivf_build_matches_numpy_reference(spark, vecs):
    df = spark.createDataFrame(vecs, schema=EMB_SCHEMA)
    assigned, cents = similarity.ivf_build(df, k=3, iters=3)
    got = {r.vec_id: r.cell for r in assigned.collect()}
    exp, expC = _numpy_kmeans(vecs, k=3, iters=3)
    assert got == exp
    assert np.allclose(np.array(cents), expC, atol=1e-9)
    # well-separated clusters → k-means recovers them exactly
    for i, c in got.items():
        same = [j for j, cj in got.items() if cj == c]
        assert all(j % 3 == i % 3 for j in same)


def test_ivf_sample_train_assigns_full_corpus(spark, vecs):
    """10^12-row mode: Lloyd trains on a seeded sample but the FULL corpus
    is assigned exactly once — every row gets a valid cell, deterministically
    across invocations."""
    df = spark.createDataFrame(vecs, schema=EMB_SCHEMA)
    a1, c1 = similarity.ivf_build(df, k=3, iters=3, train_fraction=0.5)
    a2, c2 = similarity.ivf_build(df, k=3, iters=3, train_fraction=0.5)
    got1 = {r.vec_id: r.cell for r in a1.collect()}
    got2 = {r.vec_id: r.cell for r in a2.collect()}
    assert len(got1) == len(vecs)          # full corpus assigned
    assert got1 == got2 and c1 == c2       # seeded sample → deterministic
    assert set(got1.values()) <= {0, 1, 2}
