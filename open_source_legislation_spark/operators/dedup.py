"""Deduplication family for large-scale training-data pipelines.

Exact hash-dedup, token-n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup — all pure DataFrame ops (no Python UDFs in any
hot path), all keyed on a *portable deterministic hash*
(``first 8 hex chars of md5 → bigint``) so a SQL oracle can reproduce every
value bit-for-bit.

Scale notes (100 TB corpus):
- exact dedup is one hash-aggregate (map-side partial agg; no skew — md5
  keys are uniform);
- n-gram Jaccard / MinHash explode shingles: the pair shuffle is bounded
  by banding (LSH) or by a prefix filter that joins only each doc's rarest
  shingles (exact: it loses no pair); pairs are generated only within
  buckets, never via cross join;
- SimHash is two hash-aggregates (doc×bit partial sums, then doc);
- embedding near-dup brute force is quadratic — kept for small dims /
  verification; the LSH/IVF path in ``similarity.py`` is the scale route.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _dot, _norm
from .text_analysis import _h64, _ngrams, _tokens


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: one survivor (min doc_id) + copy count per
    distinct text hash (first-writer-wins — SURVEY §2.6 dedup_skip)."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct token n-grams per doc: (doc_id, shingle)."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("w"))
    return toks.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(F.col("w"), n))).alias("shingle"),
    ).filter(F.length("shingle") > 0)


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Every pair of docs whose token-n-gram Jaccard, rounded to 3
    decimals, is ≥ ``threshold``; for ``threshold`` ≤ 0 the pairs that
    share at least one shingle.

    Candidates come from a prefix filter (the first level of the two-level
    signature scheme for set similarity joins): shingles are ordered
    globally by ``(df, shingle)`` and each doc keeps its first
    ``|s| − ⌈t′·|s|⌉ + 1``, with ``t′ = threshold − 0.0005`` because a
    Jaccard of ``t′`` still rounds to ``threshold``. Two sets with Jaccard
    ≥ t′ share a shingle of those prefixes and satisfy
    ``min(|a|,|b|) ≥ t′·max(|a|,|b|)``, so the filter loses no pair; both
    bounds are computed in decimal, as a double ``t′·|s|`` can land one ulp
    above an integer. The rare shingles sort first, so a shingle shared by
    every doc reaches a prefix only in docs made of common shingles.
    The prefix window's ``count`` is each doc's set size, carried on the
    candidates to the verifier; every branch reuses one shingle exchange by
    ``doc_id``. Output: (doc_a, doc_b, jaccard), doc_a < doc_b, rounded 3.
    """
    t = F.lit(Decimal(str(threshold)) - Decimal("0.0005"))
    # the joins infer this filter; stating it lets the df branch share their exchange
    sh = shingles(docs.filter(F.col("doc_id").isNotNull()), n).repartition("doc_id")
    doc_freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    by_doc = Window.partitionBy("doc_id")
    prefix = (
        sh.join(doc_freq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(by_doc.orderBy("df", "shingle")).alias("pos"),
            F.count("*").over(by_doc).alias("sz"),
        )
        .filter(F.col("pos") <= F.col("sz") - F.ceil(F.col("sz") * t) + 1)
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least("a.sz", "b.sz") >= F.greatest("a.sz", "b.sz") * t),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    return _verified_jaccard(cands, sh, threshold)


def _verified_jaccard(cands: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """True shingle Jaccard of each sized candidate ``(doc_a, doc_b, sz_a,
    sz_b)``, counting only the intersection, over ``sh`` joined through the
    candidate list (never the all-pairs co-occurrence join). Output:
    (doc_a, doc_b, jaccard) with jaccard rounded 3 and ≥ threshold."""
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        cands.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 3),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# deterministic affine permutation constants for MinHash (public textbook
# scheme: h_i(x) = (a_i * x + b_i) mod p, p = 2^31 - 1 prime)
_MH_P = 2147483647


def _mh_params(num_perm: int) -> list[tuple[int, int]]:
    # fixed, seedless, reproducible in SQL literals
    return [(2 * i + 1, 7919 * (i + 1) % _MH_P) for i in range(num_perm)]


def minhash_signatures(sh: DataFrame, num_perm: int = 16) -> DataFrame:
    """(doc_id, sig: array<bigint>[num_perm], sz) MinHash signatures of the
    ``(doc_id, shingle)`` frame ``sh``; ``sz``, the doc's shingle count, is
    counted in the same ``groupBy(doc_id)`` as the ``min``s."""
    sh = sh.withColumn("h", _h64(F.col("shingle")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_mh_params(num_perm))
    ]
    sig = sh.groupBy("doc_id").agg(*aggs, F.count("*").alias("sz"))
    return sig.select(
        "doc_id", F.array(*[f"mh{i}" for i in range(num_perm)]).alias("sig"), "sz"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified by true Jaccard.

    band → bucket-join on the band signature (docs colliding in ≥1 band
    become candidates) → verify with exact shingle Jaccard ≥ threshold,
    computed ONLY for candidate pairs (shingles joined through the candidate
    list, never the all-pairs co-occurrence join — that would defeat the
    LSH pruning). The band join is the scale path: shuffle volume is
    #docs × #bands, never quadratic. Output: (doc_a, doc_b, jaccard).
    """
    rows_per_band = num_perm // bands
    sh = shingles(docs, n).repartition("doc_id")
    sig = minhash_signatures(sh, num_perm)
    banded = sig.select(
        "doc_id",
        "sz",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[bi * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sz", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # one exchange on the join keys that both sides of the self-join reuse,
    # so the signatures and the band explode run once
    banded = banded.repartition("band", "bucket")
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.sz").alias("sz_a"),
            F.col("r.sz").alias("sz_b"),
        )
        .distinct()
    )
    return _verified_jaccard(cands, sh, threshold)


def near_dup_clusters(
    docs: DataFrame,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup CLUSTERING + canonical selection — the keep/drop decision
    the pairwise operators stop short of (a training-data pipeline dedups
    by keeping ONE representative per duplicate cluster, not by listing
    pairs): LSH-verified Jaccard pairs become undirected edges, connected
    components (pointer-jumped min-label, ``canonicalize.
    connected_components``) give the clusters, and the minimum doc_id in
    each cluster is kept. Docs with no near-dup keep themselves.

    Scale shape: candidate pairs are LSH-bucketed (shuffle = docs × bands,
    never all-pairs); CC runs O(log diameter) rounds over the PAIR set
    (≪ corpus — only near-dups enter); the final assignment is one left
    join of the corpus against the small member-label frame.

    Output: ``(doc_id, canonical_id, is_kept)``.
    """
    from .canonicalize import connected_components

    pairs = minhash_lsh_pairs(docs, n, num_perm, bands, threshold)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = connected_components(edges)
    out = docs.select("doc_id").join(
        labels.select(
            F.col("member").alias("doc_id"), F.col("canonical").alias("_can")
        ),
        "doc_id",
        "left",
    )
    return out.select(
        "doc_id",
        F.coalesce("_can", "doc_id").alias("canonical_id"),
        (F.coalesce("_can", "doc_id") == F.col("doc_id")).alias("is_kept"),
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — SimHash as a `bits`-char 0/1 string.

    One hash-aggregate with `bits` columnar ±1-vote sums per doc, then the
    bit concat. A string keeps the value portable to the SQL oracle
    (no signed-bigint edge cases). 32 bits because the portable hash is
    32-bit (first 8 md5 hex chars)."""
    toks = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn("h", _h64(F.col("tok")))
    )
    # one hash-aggregate with `bits` columnar ±1 sums — no doc×bit explode
    # (32× fewer shuffle rows than the (doc, bit) two-pass shape)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    return per_doc.select(
        "doc_id",
        F.concat_ws(
            "",
            *[F.when(F.col(f"s{b}") > 0, "1").otherwise("0") for b in range(bits)],
        ).alias("simhash"),
    )


def embedding_near_dup_bruteforce(
    embeddings: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """All-pairs cosine ≥ threshold via row-level crossJoin — the pytest
    ORACLE only. Quadratic in rows shuffled AND in per-pair expression-tree
    evaluations; never the production path (see
    ``embedding_near_dup_pairs``). Output: (vec_a, vec_b, cos)."""
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    ea, eb = F.col("ea"), F.col("eb")
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(_dot(ea, eb) / (_norm(ea) * _norm(eb)), 3))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.8, block: int = 1024
) -> DataFrame:
    """Exact near-dup pairs by cosine ≥ threshold — blocked matrix product.

    Scale design (replaces the round-1 row-level crossJoin): vectors are
    grouped into contiguous ``block``-sized chunks by ``vec_id``; the join
    enumerates CHUNK pairs (blk_a ≤ blk_b, a tiny key-only inequality join),
    ships each chunk's packed vectors to its pair rows via two equi-joins,
    and a vectorized Arrow kernel computes the full cosine submatrix with
    one BLAS matmul per chunk pair, emitting only pairs ≥ threshold.

    Why this is the right exact shape at scale: exact all-pairs is
    inherently O(n²·d) FLOPs; the knobs are shuffle volume and FLOP/s.
    Here shuffle is O(n·d·(n/block)) bytes (each chunk replicated once per
    partner chunk — the classic block-partitioned matmul bound, `block`×
    less than the crossJoin's O(n²·d) row bytes) and the FLOPs run in BLAS
    instead of per-pair Catalyst expression trees. Sign-LSH was measured
    and rejected for this operator: at threshold ≈0.35 on near-uniform
    unit vectors the per-bit collision prob is 0.61, so recall-1 parameters
    generate ≥3n² candidates — worse than brute force (see SCALE.md).
    Sub-quadratic requires approximate semantics: ``similarity.ann_lsh``.

    Output: (vec_a, vec_b, cos) with vec_a < vec_b, cos rounded to 3.
    NaN-norm rows (zero vectors) drop out, matching the SQL oracle where
    NaN comparisons are false.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    g = (
        # null embeddings can never satisfy cos >= t (the SQL oracle yields
        # NULL comparisons) — drop them before packing so the BLAS kernel
        # sees rectangular data
        embeddings.filter(F.col("embedding").isNotNull())
        .withColumn("blk", F.floor(F.col("vec_id") / block))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vs"))
    )
    # chunk-pair enumeration: explode each chunk id against [blk, max_blk]
    # (broadcast 1-row max) — pure JVM, no Cartesian anywhere in the plan;
    # ids with no data (vec_id gaps) drop out in the inner equi-joins below.
    # max(blk) comes from the RAW table, not from g: deriving it from the
    # packed aggregation would recompute the whole collect_list shuffle a
    # third time just to read one number
    maxb = (
        embeddings.filter(F.col("embedding").isNotNull())
        .agg(F.floor(F.max("vec_id") / block).alias("maxb"))
    )
    bp = (
        g.select("blk")
        .crossJoin(F.broadcast(maxb))
        .select(
            F.col("blk").alias("blk_a"),
            F.explode(F.sequence(F.col("blk"), F.col("maxb"))).alias("blk_b"),
        )
    )
    paired = (
        bp.join(g.select(F.col("blk").alias("blk_a"), F.col("vs").alias("vs_a")), "blk_a")
        .join(g.select(F.col("blk").alias("blk_b"), F.col("vs").alias("vs_b")), "blk_b")
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def seq_cos(ea, eb) -> float:
        """Cosine with the oracle's exact accumulation order: a sequential
        left-to-right float64 fold (DuckDB ``list_sum`` / the bruteforce
        operator's ``F.aggregate``). BLAS accumulates in a different order,
        and a last-ulp difference can flip the 3rd-decimal rounding or the
        threshold comparison — so the BLAS matmul only *finds* candidates
        (with a margin) and this fold produces the emitted value."""
        dot = 0.0
        sa = 0.0
        sb = 0.0
        for x, y in zip(ea, eb):
            dot += x * y
        for x in ea:
            sa += x * x
        for y in eb:
            sb += y * y
        import math

        return dot / (math.sqrt(sa) * math.sqrt(sb))

    def kernel(batches):
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                ids_a = np.array([v["vec_id"] for v in row["vs_a"]], dtype=np.int64)
                A = np.array([v["embedding"] for v in row["vs_a"]], dtype=np.float64)
                ids_b = np.array([v["vec_id"] for v in row["vs_b"]], dtype=np.int64)
                B = np.array([v["embedding"] for v in row["vs_b"]], dtype=np.float64)
                na = np.linalg.norm(A, axis=1, keepdims=True)
                nb = np.linalg.norm(B, axis=1, keepdims=True)
                C = (A @ B.T) / (na * nb.T)
                # candidate margin: 3-dp rounding can lift a value by up to
                # 5e-4, and BLAS-vs-sequential accumulation by a few ulps —
                # anything below threshold - 6e-4 can never survive
                ia, ib = np.nonzero(C >= threshold - 6e-4)
                # chunks are contiguous vec_id ranges, so blk_a < blk_b
                # already implies vec_a < vec_b; only the diagonal chunk
                # needs the strict-upper-triangle mask
                if row["blk_a"] == row["blk_b"]:
                    keep = ids_a[ia] < ids_b[ib]
                    ia, ib = ia[keep], ib[keep]
                va, vb, vc = [], [], []
                for i, j in zip(ia, ib):
                    c = seq_cos(A[i], B[j])
                    # round HALF-AWAY-FROM-ZERO like F.round / the DuckDB
                    # oracle — np.round's half-to-even would flip the 3rd
                    # decimal on exact .0005 boundaries (the round-1
                    # hash-flake class)
                    r = float(np.trunc(abs(c) * 1000 + 0.5) / 1000 * np.sign(c))
                    if r >= threshold:
                        va.append(ids_a[i])
                        vb.append(ids_b[j])
                        vc.append(r)
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": np.array(va, dtype=np.int64),
                            "vec_b": np.array(vb, dtype=np.int64),
                            "cos": np.array(vc, dtype=np.float64),
                        }
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []})
            )

    return paired.mapInPandas(kernel, schema=out_schema)
