"""Similarity search over an embedding column (`array<float>`).

- brute-force cosine top-k: the verification baseline (reference analog:
  pgvector `ORDER BY embedding <=> q LIMIT 5`, reference CLAUDE.md:204-210);
- IVF-partitioned top-k: search only the query's coarse partition (here the
  `label` column stands in for the IVF cell assignment) — the scale path:
  partition pruning turns an all-pairs scan into a per-cell scan;
- IVF index build (``ivf_build``): deterministic Lloyd k-means that
  computes such a cell per vector;
- LSH sign-projection bucketing for ANN without precomputed cells.

All arithmetic is double-precision sequential (zip_with + aggregate) so the
DuckDB oracle reproduces values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _norm(c):
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    )


def cosine_to_query(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    """Attach `cos` = cosine(embedding, embedding[query_vec_id]) to all rows.

    The single query vector is crossJoin-broadcast (one row) — no shuffle.
    """
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe")
    )
    return (
        embeddings.crossJoin(F.broadcast(q))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("embedding"), F.col("qe"))
                / (_norm(F.col("embedding")) * _norm(F.col("qe"))),
                3,
            ),
        )
        .drop("qe")
    )


def topk_cosine(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k (excluding the query row itself).

    orderBy+limit compiles to TakeOrderedAndProject — per-partition top-k
    then a k-row merge on the driver; no full sort, no single-reducer
    bottleneck at scale."""
    return (
        cosine_to_query(embeddings, query_vec_id)
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "cos")
        .orderBy(F.desc("cos"), "vec_id")
        .limit(k)
    )


def topk_cosine_ivf(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """IVF-style top-k: prune to the query's coarse cell (`label`) first.

    At 100 TB the cell filter is a partition-pruned scan (embeddings table
    partitioned by cell id) — the probe cost is |cell|, not |corpus|."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("label").alias("qlabel"), F.col("embedding").alias("qe")
    )
    return (
        embeddings.crossJoin(F.broadcast(q))
        .filter((F.col("label") == F.col("qlabel")) & (F.col("vec_id") != query_vec_id))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("embedding"), F.col("qe"))
                / (_norm(F.col("embedding")) * _norm(F.col("qe"))),
                3,
            ),
        )
        .select("vec_id", "cos")
        .orderBy(F.desc("cos"), "vec_id")
        .limit(k)
    )


def ivf_build(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    train_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic IVF coarse quantizer: Lloyd k-means over the embedding
    column, returning ``(assignments, centroids)`` where assignments is
    ``embeddings`` plus a ``cell`` column.

    Scale shape (the MLlib k-means pattern):
    - init: the k vectors with the smallest vec_id (deterministic, no RNG);
    - assignment: centroids collected to the driver (k·d floats — model
      state, not data) and closed over a vectorized ``mapInPandas`` kernel —
      one BLAS distance matrix per Arrow batch, no per-pair expression
      trees, no k× row explode;
    - update: ``posexplode`` the assigned vectors → ``groupBy(cell, pos)``
      mean — Catalyst partial-aggregates map-side, so the shuffle is
      O(k·d·partitions), not O(n·d);
    - the loop is driver-side over a FIXED iteration count; each round's
      centroids are a tiny collect (k rows), so no lineage blowup;
    - the training frame is persisted across the loop (one input scan
      instead of 2×/iteration).

    ``train_fraction``: the 10^12-row mode — Lloyd trains on a seeded
    deterministic sample (standard IVF practice: the quantizer only needs
    a distribution estimate) and the FULL corpus is assigned exactly once
    with the final centroids. ``None`` trains on everything (small inputs,
    exact-oracle parity).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark import StorageLevel

    base = embeddings.filter(F.col("embedding").isNotNull())
    train = (
        base.sample(fraction=train_fraction, seed=7)
        if train_fraction is not None
        else base
    )
    # one scan: the Lloyd loop re-reads `train` twice per iteration
    # (assignment + mean update); at index-build scale the sample fits
    # executor storage, and the full corpus is never persisted
    train.persist(StorageLevel.MEMORY_AND_DISK)
    cents = [
        list(map(float, r.embedding))
        for r in train.orderBy("vec_id").limit(k).collect()
    ]
    if not cents:
        train.unpersist()
        raise ValueError("ivf_build: no non-null embeddings to index")
    # fewer vectors than requested cells: index what exists
    k = min(k, len(cents))

    out_schema = T.StructType(
        list(base.schema.fields) + [T.StructField("cell", T.IntegerType())]
    )

    def assigner(centroids: list[list[float]]):
        C = np.array(centroids, dtype=np.float64)  # k × d

        def assign(batches):
            for pdf in batches:
                if len(pdf):
                    V = np.array(list(pdf["embedding"]), dtype=np.float64)
                    # argmin squared L2 via the expanded dot form
                    d2 = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
                    pdf = pdf.assign(cell=np.argmin(d2, axis=1).astype("int32"))
                else:
                    pdf = pdf.assign(cell=pd.Series([], dtype="int32"))
                yield pdf

        return assign

    for _ in range(iters):
        assigned = train.mapInPandas(assigner(cents), schema=out_schema)
        new_cents = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select("cell", F.col("pm.m").alias("centroid"))
            .collect()
        )
        by_cell = {r.cell: list(map(float, r.centroid)) for r in new_cents}
        # empty cells keep their previous centroid (deterministic)
        cents = [by_cell.get(j, cents[j]) for j in range(k)]

    train.unpersist()
    return base.mapInPandas(assigner(cents), schema=out_schema), cents


def lsh_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seedless LCG hash — fixed,
    reproducible as SQL literals in the DuckDB oracle; no RNG state)."""
    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = (1103515245 * (i * dim + j + 1) + 12345) % 2147483648
            row.append(h / 2147483648.0 - 0.5)
        planes.append(row)
    return planes


def ann_lsh_pairs(
    embeddings: DataFrame,
    n_planes: int = 4,
    dim: int = 64,
    threshold: float = 0.35,
) -> DataFrame:
    """End-to-end ANN near-dup via sign-random-projection buckets.

    Candidates = pairs landing in the SAME ``n_planes``-bit bucket (bucket
    join — shuffle is one row per vector, never quadratic), verified with
    exact double cosine ≥ threshold. APPROXIMATE BY DESIGN: recall per pair
    is p^n_planes with p = 1 - θ/π; the contract defines the result as
    "bucket-colliding pairs above threshold", which the SQL oracle
    reproduces bit-for-bit (planes are deterministic literals). At 100 TB
    this is the sub-quadratic route; the exact blocked-matmul route is
    ``dedup.embedding_near_dup_pairs``. Output: (vec_a, vec_b, cos).
    """
    planes = lsh_planes(n_planes, dim)
    b = lsh_sign_buckets(embeddings, planes).select("vec_id", "embedding", "bucket")
    # spread the probe side across shuffle partitions: the per-pair exact
    # cosine (interpreted higher-order exprs, not codegen) is the hot loop,
    # and a small parquet input would otherwise evaluate it on 1-2 scan
    # partitions; hash(vec_id) keeps the spread even under bucket skew.
    # Explicit partition count — AQE would coalesce a byte-tiny exchange
    # back to one partition, re-serializing the expensive pair loop.
    n_part = int(embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    l, r = b.repartition(n_part, F.col("vec_id")).alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(
                _dot(F.col("l.embedding"), F.col("r.embedding"))
                / (_norm(F.col("l.embedding")) * _norm(F.col("r.embedding"))),
                3,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def lsh_sign_buckets(embeddings: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Sign-random-projection bucket id per vector: bit b = sign(v · plane_b).

    `planes` are deterministic literals (fixed seed upstream); bucket is a
    0/1 string. ANN = candidates sharing a bucket, verified by exact cosine.
    """
    bucket = F.concat_ws(
        "",
        *[
            F.when(
                F.aggregate(
                    F.zip_with(
                        "embedding",
                        F.array(*[F.lit(float(x)) for x in p]),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda s, v: s + v,
                )
                > 0,
                "1",
            ).otherwise("0")
            for p in planes
        ],
    )
    return embeddings.withColumn("bucket", bucket)
