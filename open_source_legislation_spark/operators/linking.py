"""Entity linking — candidate-ladder equi-joins.

Replaces the reference's per-row linking lookups (``analyze_partial_link``,
reference ``pydanticModels.py:555-636``: repeated ``SELECT ... ILIKE`` with
pop-level / zero-pad backoff — an N+1-query correlated lookup) with:

1. the *ranked candidate keys* per mention (exact → zero-padded → popped
   level, the ``rules.candidate_keys`` spec the oracle uses), which the
   pre-shuffle payload kernel computes from that spec as it makes each raw
   key (``extract.ladder_rungs``): at most ONE candidate exists per
   priority, so the ladder is three nullable key columns ``raw_key``,
   ``k2``, ``k3``, not an exploded array;
2. one **left equi-join per rung** against the alias-exploded canonical
   dictionary, whose strategy Spark's join selection picks: a broadcast
   hash join (map-side, zero shuffles of the mention stream) while the
   index's size estimate fits ``spark.sql.autoBroadcastJoinThreshold``,
   else a sort-merge join;
3. ``coalesce`` in priority order picks the highest-priority hit.

At 10^12 turns the dictionary is the small side (bounded vocabulary of
canonical entities), so the linking stage is narrow: no exchange of the
mention stream at all (the earlier design exploded candidates and grouped
back by a mention id, i.e. two full shuffles of the stream). A dictionary
past the threshold costs one sort-merge exchange of the stream per rung.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def alias_index(entity_dict: DataFrame) -> DataFrame:
    """Explode the dictionary to ``(alias_key, entity_id)``, first writer
    wins on alias collisions (stable by entity_id) — the oracle's
    ``build_linking_index`` as a DataFrame."""
    exploded = entity_dict.select(
        F.explode("aliases").alias("alias_key"), "entity_id"
    )
    return exploded.groupBy("alias_key").agg(F.min("entity_id").alias("entity_id"))


def link_mentions(mentions: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Attach ``entity_id`` (nullable) + ``link_priority`` to each mention
    and drop its rungs: ``mentions`` carries the ladder as ``raw_key``,
    ``k2``, ``k3`` (``extract.ladder_rungs``).

    Misses stay as null entity_id rows — they become ``link_miss_rate``
    metrics, never silent drops (reference tags failures instead of
    retrying forever, ``3_process.py:51-56``).

    One left equi-join per rung against the alias index. Spark's join
    selection picks each join's strategy: a broadcast hash join while the
    index's size estimate is under ``spark.sql.autoBroadcastJoinThreshold``
    (64 MB in ``session._DEFAULTS``; AQE can still convert at runtime),
    else a sort-merge join, so an index too big for executor memory is
    never broadcast.
    """
    idx = alias_index(entity_dict)
    out = mentions
    for p, key in enumerate(("raw_key", "k2", "k3"), start=1):
        idx_p = idx.select(
            F.col("alias_key").alias(f"_ak{p}"), F.col("entity_id").alias(f"_e{p}")
        )
        out = out.join(idx_p, F.col(key) == F.col(f"_ak{p}"), "left").drop(f"_ak{p}")
    return (
        out.withColumn("entity_id", F.coalesce("_e1", "_e2", "_e3"))
        .withColumn(
            "link_priority",
            F.when(F.col("_e1").isNotNull(), 1)
            .when(F.col("_e2").isNotNull(), 2)
            .when(F.col("_e3").isNotNull(), 3),
        )
        .drop("k2", "k3", "_e1", "_e2", "_e3")
    )
