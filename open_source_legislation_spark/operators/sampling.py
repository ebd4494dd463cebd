"""Deterministic sampling and sequence packing for training-data pipelines.

Two ops a 100 TB pretraining pipeline needs around the `documents` table:

- ``split_assign``: hash-based train/eval split. NOT ``df.sample()`` —
  Bernoulli sampling is seed- and partitioning-dependent, so re-runs and
  engines disagree. An md5 prefix of the stable key is deterministic across
  runs, engines (standard MD5 of the UTF-8 key on both Spark and DuckDB),
  partitionings, and cluster sizes: a document's split NEVER changes when
  data is added — the property eval-set hygiene actually requires
  (the reference pins its per-row identity the same way: stable node ids,
  scrapingHelpers.py:34-92).
- ``pack_token_budget``: assign documents to fixed-token-budget training
  packs by running token offset WITHIN each source shard. Packing is
  windowed per `source`, never globally — a single global ordered window
  would serialize 100 TB through one partition; per-shard windows keep
  every partition independent (the same reason the KG pipeline windows
  per conv_id). Token counts reuse the exact ``text_analysis`` whitespace
  tokenizer so counts agree with ``ta_tokens`` to the token.

Both are pure JVM expressions — no Python in the scan path, whole-stage
codegen throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text_analysis import _h64, _tokens


def split_assign(
    docs: DataFrame, key: str = "doc_id", eval_prefix_lt: str = "1a"
) -> DataFrame:
    """(doc_id, split) — 'eval' iff the first two hex chars of
    md5(cast(key as string)) sort lexicographically below
    ``eval_prefix_lt`` ('1a' → 26/256 ≈ 10.2%), else 'train'.

    String-prefix comparison (not modular arithmetic on a parsed int) so
    the predicate is bit-identical on any engine with a standard md5():
    no integer-parsing, endianness, or signed-overflow variance.
    """
    pfx = F.substring(F.md5(F.col(key).cast("string")), 1, 2)
    return docs.select(
        key,
        F.when(pfx < F.lit(eval_prefix_lt), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def decontaminate(docs: DataFrame, n: int = 3, key: str = "doc_id") -> DataFrame:
    """(doc_id, n_contaminated) — for every EVAL document (per
    ``split_assign``), how many of its distinct token n-grams also occur in
    ANY train document. The standard eval-decontamination probe: a
    benchmark row sharing verbatim n-grams with the training set is
    leaking; rows with n_contaminated = 0 are clean.

    Scale shape: the train-side shingle set is reduced to DISTINCT values
    first (bounded by n-gram vocabulary, ≪ corpus; partial-aggregated
    map-side), so the contamination join shuffles shingle-cardinality rows,
    not corpus rows. At 10^12 train docs with a small eval set, flip the
    build side: collect/broadcast the EVAL shingle set and semi-join the
    train scan against it — same result, zero wide shuffle. Shingling
    reuses ``dedup.shingles`` so the n-gram space is identical to the
    dedup/jaccard family's.
    """
    from .dedup import shingles

    sh = shingles(docs.select(key, "text"), n)
    split = split_assign(docs, key=key)
    tagged = sh.join(split, key)
    train_sh = (
        tagged.filter(F.col("split") == "train").select("shingle").distinct()
    )
    hits = (
        tagged.filter(F.col("split") == "eval")
        .join(train_sh, "shingle")
        .groupBy(key)
        .agg(F.count("*").alias("n_contaminated"))
    )
    eval_docs = split.filter(F.col("split") == "eval").select(key)
    return eval_docs.join(hits, key, "left").select(
        key, F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated")
    )


def pack_token_budget(
    docs: DataFrame, budget: int = 512, chunks: int | None = None
) -> DataFrame:
    """(doc_id, source, n_tokens, pack_id) — contiguous sequence packing:
    documents ordered by doc_id within their source shard are laid into
    packs of ``budget`` tokens by exclusive running offset
    (pack_id = floor(offset / budget)).

    A document straddling a boundary starts the next pack's count but is
    assigned by its own starting offset — the standard "greedy concat then
    chunk" layout LLM dataloaders use.

    Two physical modes, identical output:

    - ``chunks=None`` (default): one window PARTITIONED BY source. Fine
      when every source fits a partition, but one giant source
      serializes through a single window partition.
    - ``chunks=P``: two-phase parallel prefix sum — the design for the
      10^12-doc regime where a source is far bigger than a partition.
      ``repartitionByRange(P, source, doc_id)`` splits each source into
      contiguous runs of the pack order; phase 1 computes LOCAL running
      offsets within each (chunk, source) run; a per-(chunk, source)
      token-total aggregate (P × |sources| rows — tiny) is prefix-summed
      per source ordered by chunk id and broadcast-joined back as each
      run's base offset. Offsets are chunking-invariant (any contiguity-
      preserving split yields the same prefix sums, and range partitions
      are contiguous in (source, doc_id) order — AQE coalescing merges
      only adjacent ranges), so both modes agree row-for-row.
    """
    n_tokens = F.size(_tokens(F.col("text")))
    with_counts = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    pack = lambda off: F.floor(off / budget).cast("bigint").alias("pack_id")
    if chunks is None:
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        return with_counts.select("doc_id", "source", "n_tokens", pack(offset))
    if chunks < 1:
        raise ValueError("pack_token_budget: chunks must be >= 1 or None")
    # Both phases consume the SAME chunk assignment. repartitionByRange
    # derives boundaries by sampling, which is not guaranteed to repeat
    # across two independent evaluations of the subtree — so both phases
    # read one locally checkpointed RDD, not a recomputation per branch.
    # Nothing is handed to the caller: Spark's ContextCleaner frees the
    # blocks once the result is unreferenced.
    chunked = (
        with_counts.repartitionByRange(chunks, "source", "doc_id")
        .withColumn("_chunk", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_local = (
        Window.partitionBy("_chunk", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = chunked.withColumn(
        "_local_off", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    w_base = (
        Window.partitionBy("source")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        chunked.groupBy("_chunk", "source")
        .agg(F.sum("n_tokens").alias("_chunk_tokens"))
        .select(
            "_chunk",
            "source",
            F.coalesce(F.sum("_chunk_tokens").over(w_base), F.lit(0)).alias(
                "_base_off"
            ),
        )
    )
    return local.join(F.broadcast(bases), ["_chunk", "source"]).select(
        "doc_id",
        "source",
        "n_tokens",
        pack(F.col("_base_off") + F.col("_local_off")),
    )


def _normalize_stratum_key(k, dt, col_name: str):
    """Convert a ``rates_bps`` dict key to the stratum column's Python
    type, LOSSLESSLY or not at all: narrowing (2020.5 → int 2020) would
    silently re-rate the wrong stratum, so it raises instead."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        if isinstance(k, bool) or not (
            isinstance(k, int)
            or (isinstance(k, float) and k.is_integer())
        ):
            raise ValueError(
                f"stratified_sample: key {k!r} does not convert losslessly "
                f"to integer column '{col_name}' ({dt})"
            )
        return int(k)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        if isinstance(k, bool) or not isinstance(k, (int, float)):
            raise ValueError(
                f"stratified_sample: key {k!r} is not numeric for column "
                f"'{col_name}' ({dt})"
            )
        if isinstance(k, int) and int(float(k)) != k:
            raise ValueError(
                f"stratified_sample: key {k!r} does not convert losslessly "
                f"to floating-point column '{col_name}' ({dt})"
            )
        return float(k)
    if isinstance(dt, T.StringType):
        return str(k)
    return k  # other types (date, decimal, ...): pass through as given


# strata past which the rate lookup is a broadcast join, not a when chain
_WHEN_CHAIN_MAX = 16


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    rates_bps: dict,
    default_bps: int = 0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the mixture-weighting step
    of a pretraining data recipe (e.g. keep 100% of one source, 5% of
    another). ``rates_bps`` maps stratum value → keep rate in basis points
    (0..10000); unlisted strata get ``default_bps``.

    The keep decision is a pure function of ``doc_id`` (md5 bucket in
    0..9999), so the sample is reproducible across runs, engines, and
    cluster sizes — no RNG, no ``sample()`` nondeterminism — and it
    composes with resume (a re-run keeps the same rows). No shuffle on
    the corpus side either way the rate is attached (see below).

    Rate lookup scales with the mixture: up to ``_WHEN_CHAIN_MAX``
    strata the rate is a literal ``when`` chain (pure codegen, zero
    exchanges); past that a nested expression tree gets pathological
    (10k-deep trees stall Catalyst), so the rates become a broadcast
    ``(stratum, rate_bps)`` frame + ``coalesce(rate, default)`` — a
    broadcast hash join, still no corpus shuffle. Both paths compare
    with the KEY normalized DRIVER-SIDE to the stratum COLUMN's type:
    the corpus column is never coerced (a string column with int dict
    keys compares as strings — no ANSI CAST_INVALID_INPUT crash on a
    value like 'unknown', and no silent '02020' == 2020 numeric
    coercion), while a numeric column matches numeric keys natively
    (``2020.0 == 2020``). Normalization is LOSSLESS-or-raise: a key
    that would narrow (2020.5 against an int column — Spark's CAST
    silently truncates to 2020) or that collides with another key after
    normalization (which would fan out the broadcast join and duplicate
    corpus rows) raises ValueError — a mixture-config error surfaces at
    build time, never as a silently wrong sample.
    """
    bucket = _h64(F.col("doc_id").cast("string")) % 10000
    stratum_dt = docs.schema[stratum_col].dataType
    norm = {
        _normalize_stratum_key(k, stratum_dt, stratum_col): int(v)
        for k, v in rates_bps.items()
    }
    if len(norm) != len(rates_bps):
        raise ValueError(
            f"stratified_sample: distinct rates_bps keys collide after "
            f"normalization to column '{stratum_col}' type {stratum_dt} — "
            f"a colliding key would duplicate corpus rows"
        )
    if len(norm) <= _WHEN_CHAIN_MAX:
        rate = F.lit(int(default_bps))
        for k, v in sorted(norm.items()):
            rate = F.when(F.col(stratum_col) == F.lit(k), v).otherwise(rate)
        tagged = docs.withColumn("_rate_bps", rate)
    else:
        rates = docs.sparkSession.createDataFrame(
            sorted(norm.items()), ["_stratum_key", "_rate_bps"]
        ).withColumn("_stratum_key", F.col("_stratum_key").cast(stratum_dt))
        tagged = (
            docs.join(
                F.broadcast(rates),
                F.col(stratum_col) == F.col("_stratum_key"),
                "left",
            )
            .withColumn(
                "_rate_bps", F.coalesce("_rate_bps", F.lit(int(default_bps)))
            )
            .drop("_stratum_key")
        )
    return (
        tagged.withColumn("_bucket", bucket)
        .filter(F.col("_bucket") < F.col("_rate_bps"))
        .drop("_bucket", "_rate_bps")
    )
