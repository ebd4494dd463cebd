"""Entity linking — broadcast candidate-ladder join.

Replaces the reference's per-row linking lookups (``analyze_partial_link``,
reference ``pydanticModels.py:555-636``: repeated ``SELECT ... ILIKE`` with
pop-level / zero-pad backoff — an N+1-query correlated lookup) with:

1. a JVM ``regexp_extract`` / ``lpad`` expression generating the *ranked
   candidate keys* per mention (exact → zero-padded → popped level, the
   ``rules.candidate_keys`` spec the oracle uses, pinned equal by a
   property test); at most ONE candidate exists per priority, so the ladder
   is three nullable key columns, not an exploded array — and no row
   crosses into Python;
2. one **broadcast hash join per rung** against the alias-exploded canonical
   dictionary — three map-side joins, zero shuffles;
3. ``coalesce`` in priority order picks the highest-priority hit.

At 10^12 turns the dictionary is the small side (bounded vocabulary of
canonical entities) — the whole linking stage is narrow: no exchange of the
mention stream at all (the earlier design exploded candidates and grouped
back by a mention id, i.e. two full shuffles of the stream; this one has
none).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ``head/cls=num`` with the split at the LAST slash and the first ``=`` of
# the last level; ``(?s)`` and ``\z`` because Java's ``.`` skips ``\n`` and
# its ``$`` also matches before a trailing line terminator.
_LAST_LEVEL = r"(?s)^(.*)/([^/=]*)=([^/]*)\z"
# a paddable ``num``: 1-2 ASCII digits, optionally followed by ``.<rest>``
_PADDABLE = r"(?s)^([0-9]{1,2})((?:\..*)?)\z"


def _candidate_keys(raw_key: Column) -> Column:
    """The ``rules.candidate_keys`` ladder as a JVM ``struct<k1,k2,k3>``
    (priority 1/2/3, each nullable): exact, zero-padded last number,
    popped last level."""
    head = F.regexp_extract(raw_key, _LAST_LEVEL, 1)
    num = F.regexp_extract(raw_key, _LAST_LEVEL, 3)
    padded = F.concat(
        head,
        F.lit("/"),
        F.regexp_extract(raw_key, _LAST_LEVEL, 2),
        F.lit("="),
        F.lpad(F.regexp_extract(num, _PADDABLE, 1), 3, "0"),
        F.regexp_extract(num, _PADDABLE, 2),
    )
    return F.struct(
        raw_key.alias("k1"),
        # num is "" when the key has no last level, so k2 stays null
        F.when(num.rlike(_PADDABLE), padded).alias("k2"),
        F.when(raw_key.rlike(_LAST_LEVEL), head).alias("k3"),
    )


def alias_index(entity_dict: DataFrame) -> DataFrame:
    """Explode the dictionary to ``(alias_key, entity_id)``, first writer
    wins on alias collisions (stable by entity_id) — the oracle's
    ``build_linking_index`` as a DataFrame."""
    exploded = entity_dict.select(
        F.explode("aliases").alias("alias_key"), "entity_id"
    )
    return exploded.groupBy("alias_key").agg(F.min("entity_id").alias("entity_id"))


# alias-index size estimate past which "auto" linking shuffles
_BROADCAST_MAX_BYTES = 1 << 30


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's compile-time size estimate (what Spark's own
    autoBroadcastJoinThreshold consults) — no job, no action."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — connect mode / API drift
        return None


def _link_broadcast(out: DataFrame, idx: DataFrame) -> DataFrame:
    """Three map-side broadcast joins, zero exchanges of the mention
    stream — the small-dictionary fast path."""
    for p in (1, 2, 3):
        idx_p = idx.select(
            F.col("alias_key").alias(f"_ak{p}"), F.col("entity_id").alias(f"_e{p}")
        )
        out = out.join(
            F.broadcast(idx_p),
            F.col("_c").getField(f"k{p}") == F.col(f"_ak{p}"),
            "left",
        ).drop(f"_ak{p}")
    return (
        out.withColumn("entity_id", F.coalesce("_e1", "_e2", "_e3"))
        .withColumn(
            "link_priority",
            F.when(F.col("_e1").isNotNull(), 1)
            .when(F.col("_e2").isNotNull(), 2)
            .when(F.col("_e3").isNotNull(), 3),
        )
        .drop("_c", "_e1", "_e2", "_e3")
    )


def _link_shuffle(out: DataFrame, idx: DataFrame, orig: list[str]) -> DataFrame:
    """Dictionary-too-big-to-broadcast path: melt the ladder to at most 3
    ``(priority, key)`` rows per mention, ONE shuffle hash join against the
    (alias_key-unique) index, regroup to the best-priority hit.

    Exactly two exchanges of the (≤3×-melted) mention stream, independent
    of dictionary size — vs a broadcast that would OOM executors. The
    per-evaluation ``_mid`` row id lives only inside this single linear
    lineage (melt and regroup recompute together), so it never needs to be
    stable across actions.
    """
    cand = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("priority"),
                    F.col("_c").getField(f"k{p}").alias("key"),
                )
                for p in (1, 2, 3)
            ]
        ),
        lambda s: s.getField("key").isNotNull(),
    )
    melted = out.withColumn("_mid", F.monotonically_increasing_id()).select(
        *orig, "_mid", F.explode_outer(cand).alias("_cand")
    )
    joined = melted.join(
        idx.select(F.col("alias_key").alias("_ak"), F.col("entity_id").alias("_ent")),
        melted["_cand"].getField("key") == F.col("_ak"),
        "left",
    )
    won = joined.groupBy("_mid").agg(
        *[F.first(c).alias(c) for c in orig],
        F.min(
            F.when(
                F.col("_ent").isNotNull(),
                F.struct(
                    F.col("_cand").getField("priority").alias("p"),
                    F.col("_ent").alias("e"),
                ),
            )
        ).alias("_w"),
    )
    return won.select(
        *orig,
        F.col("_w").getField("e").alias("entity_id"),
        F.col("_w").getField("p").alias("link_priority"),
    )


def link_mentions(
    mentions: DataFrame,
    entity_dict: DataFrame,
    strategy: str = "auto",
) -> DataFrame:
    """Attach ``entity_id`` (nullable) + ``link_priority`` to each mention.

    Misses stay as null entity_id rows — they become ``link_miss_rate``
    metrics, never silent drops (reference tags failures instead of
    retrying forever, ``3_process.py:51-56``).

    ``strategy``: ``"broadcast"`` forces the three-rung broadcast ladder;
    ``"shuffle"`` forces the melted sort-merge fallback; ``"auto"``
    (default) broadcasts unless Catalyst's size estimate for the alias
    index exceeds ``_BROADCAST_MAX_BYTES`` (1 GB — past that a broadcast
    pins the whole dictionary into every executor and the driver).
    """
    if strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"link_mentions: unknown strategy {strategy!r}")
    idx = alias_index(entity_dict)
    orig = mentions.columns
    out = mentions.withColumn("_c", _candidate_keys(F.col("raw_key")))
    if strategy == "auto":
        est = _estimated_bytes(idx)
        # No size estimate (Spark Connect / API drift) must fail SAFE: an
        # unestimatable oversized dictionary on the broadcast path is
        # exactly the executor-OOM the shuffle fallback exists to avoid.
        # The shuffle path is merely slower for a small dictionary; the
        # broadcast path is fatal for a huge one.
        strategy = (
            "broadcast" if est is not None and est <= _BROADCAST_MAX_BYTES else "shuffle"
        )
    if strategy == "broadcast":
        return _link_broadcast(out, idx)
    return _link_shuffle(out, idx, orig)
