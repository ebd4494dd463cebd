"""Embedding enrichment — the reference's phase-3 loop, Spark-native.

The reference reads batches of rows lacking embeddings, calls an external
embedding API with a thread pool, and writes vectors back (reference
``3_process.py:18-36``, ``processingHelpers.py:37-52``,
``utilityFunctions.py:316-322``). Here:

- the *pending-work predicate* is the checkpoint anti-join
  (``plans/checkpoint.py``);
- the *embedding call* is a deterministic feature-hashed bag-of-tokens
  vector standing in for the external API. The nodes plan runs it in
  :func:`node_enrich_udf`, an Arrow-batched pandas UDF; swap that UDF's
  ``_embed`` for an API client on a real deployment;
- parallelism comes from executors, not a thread pool.

The vector is integer token-bucket counts L2-normalized then
floor-truncated, so a SQL oracle can reproduce it bit-for-bit (exposed as
a comma-joined string for portable value comparison).
:func:`hash_embed_expr` is the same embedding as a JVM column expression;
it is the reference the Python kernel is tested against.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text_analysis import _h64, _tokens

import re as _re

# Java's \s is ASCII-only ([ \t\n\x0B\f\r]); every Python re-impl of the
# JVM tokenizer must match it exactly or embeddings diverge on Unicode
# whitespace (\xa0 etc.)
_WS_ASCII = _re.compile(r"\s+", _re.ASCII)


def _ascii_tokens(t: str | None) -> list[str]:
    """Tokenization bit-identical to ``split(trim(lower(t)), '\\s+')`` +
    empty filter in hash_embed_expr."""
    return [x for x in _WS_ASCII.split((t or "").strip(" ").lower()) if x]


def hash_embed_expr(text_col, dim: int = 16):
    """Deterministic hash embedding as a pure column expression:
    token → md5-bucket count vector → L2 normalize → round(4).

    JVM-side (codegen), no Python — the "embedding model" stand-in the
    similarity/dedup operators can consume directly.
    """
    toks = F.filter(_tokens(text_col), lambda t: F.length(t) > 0)
    buckets = F.transform(toks, lambda t: F.pmod(_h64(t), F.lit(dim)))
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: F.size(F.filter(buckets, lambda x: x == b.cast("bigint"))),
    )
    norm = F.sqrt(
        F.aggregate(
            counts, F.lit(0.0), lambda s, c: s + c.cast("double") * c.cast("double")
        )
    )
    # floor-truncate to 4 decimals: identical in Spark, DuckDB, and Python
    # (round() differs — HALF_UP vs HALF_EVEN — on exact-half values)
    return F.transform(
        counts,
        lambda c: F.floor(
            c.cast("double") / F.when(norm > 0, norm).otherwise(F.lit(1.0)) * 10000
        )
        / 10000,
    )


def quantize_embeddings(vecs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(…, q8: array<int>, scale: double) — symmetric int8 quantization:
    q_i = floor(x_i / max|x| × 127), the standard ANN-index compression
    step (4× smaller vectors; dot products in int arithmetic). Pure JVM
    expressions; every operand is forced to DOUBLE first so float32→float64
    widening (exact) happens before any arithmetic and a SQL oracle
    reproduces each lane bit-for-bit — floor, not round, because the
    quotient can land on exact .5 where engine rounding modes differ.
    All-zero vectors quantize to zeros (scale 0 guard)."""
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    q = F.when(
        scale > 0,
        F.transform(xd, lambda x: F.floor(x / scale * 127).cast("int")),
    ).otherwise(F.transform(xd, lambda x: F.lit(0)))
    return vecs.withColumn("q8", q).withColumn("scale", scale)


_NODE_ENRICH_OUT = T.StructType(
    [
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("name_embedding", T.ArrayType(T.DoubleType())),
        T.StructField("summary", T.StringType()),
    ]
)

_SUMMARY_TOKENS = 30


def node_enrich_udf(dim: int = 16):
    """Fused node-payload pass — token count, TEXT embedding, NAME
    embedding, and extractive summary in ONE Arrow transfer of the (long)
    full node text, instead of a JVM split-to-array pass for ``n_tokens``
    plus separate Arrow passes per vector — the text column dominates the
    nodes plan, so shipping it once matters (measured ~3 s off the
    500k-turn nodes write).

    The multi-vector shape mirrors the reference's per-node retrieval
    payload (text/name/summary/hyde embeddings, scrapeMI.py:79-83); the
    summary-text and hyde LLM calls are external services, so ``summary``
    is a documented deterministic extractive stand-in (the first
    ``_SUMMARY_TOKENS`` tokens) that exercises the real plumbing. The
    HyDE vector needs an LLM call per node, and any stand-in would be
    fake, so it is left out.

    Semantics are identical to the unfused columns:
    - ``n_tokens`` = ``size(split(trim(lower(t)), '\\s+'))`` — note the
      JVM regex-split of an empty string yields ``[""]``, i.e. 1, which
      ``re.split`` reproduces; NULL text → NULL count;
    - ``embedding`` = ``hash_embed_expr`` over ``coalesce(t, '')`` (same
      md5 bucket, sequential int norm, floor-truncation), with token →
      bucket memoized across the worker's batches: the expression form
      re-evaluates its md5 subtree once per output dimension;
    - ``name_embedding`` = the same hash embedding over the (short) name
      column — nearly free, it rides the batch already in flight;
    - ``summary`` = first ``_SUMMARY_TOKENS`` non-empty lowered tokens
      joined by single spaces; NULL text → NULL."""
    import hashlib
    import math

    cache: dict[str, int] = {}

    def _bucket(tok: str) -> int:
        b = cache.get(tok)
        if b is None:
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim
            cache[tok] = b
        return b

    def _embed(tokens: list) -> list:
        counts = [0] * dim
        for tok in tokens:
            counts[_bucket(tok)] += 1
        norm = math.sqrt(sum(c * c for c in counts)) or 1.0
        return [math.floor(c / norm * 10000) / 10000 for c in counts]

    def _one(t: str | None, nm: str | None) -> dict:
        # ONE regex pass over the (long) text serves n_tokens, embedding
        # AND summary: n_tokens counts the raw split (JVM split of ''
        # yields [''] -> 1), the embedding/summary consume the
        # empty-filtered tokens — identical to _ascii_tokens(t) by
        # construction (same regex, same strip/lower).
        # strip(' '): JVM trim removes only 0x20, not \n\t — match exactly.
        parts = _WS_ASCII.split((t or "").strip(" ").lower())
        toks = [tok for tok in parts if tok]
        return {
            "n_tokens": None if t is None else len(parts),
            "embedding": _embed(toks),
            "name_embedding": _embed(_ascii_tokens(nm)),
            "summary": None if t is None else " ".join(toks[:_SUMMARY_TOKENS]),
        }

    @F.pandas_udf(_NODE_ENRICH_OUT)
    def _enrich(texts: pd.Series, names: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([_one(t, nm) for t, nm in zip(texts, names)])

    return _enrich
