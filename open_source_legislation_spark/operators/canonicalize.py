"""Canonicalization — iterative connected components over alias edges.

The reference ties duplicate/alias ids to a canonical node in three scattered
ways (version tags ``scrapingHelpers.py:94-98``, link normalization
``pydanticModels.py:555-636``, incorporated-hub links
``scrapeECFR.py:1435-1471``). The north rule requires the closure as
**union-find connected components**; here it is the standard iterative
min-label propagation as a DataFrame loop (no GraphFrames dependency):

    label(v) ← min(label(v), min over neighbors' label(u))   # 1 hop/round
    label(v) ← label(label(v))                               # pointer jump

repeated until fixpoint. The neighbor-min step alone needs O(diameter)
rounds — a silent-wrong-answer cliff once a component's diameter exceeds
the iteration cap; composing each round with one pointer-jump
(path-halving) self-join makes label distances collapse geometrically, so
convergence is O(log diameter) rounds (25 rounds cover any practical
graph) — the same doubling idea large-star/small-star uses. Each round is
two shuffle joins + one aggregation; ``localCheckpoint`` truncates the
lineage so the plan does not grow across iterations. A component left
unconverged at the cap raises instead of returning wrong labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 25  # rounds before an unconverged component raises


def connected_components(edges: DataFrame) -> DataFrame:
    """``(member, canonical)`` for every vertex in ``edges(src, dst)``,
    canonical = lexicographic-min id of the component (matches the oracle's
    union-find labeling)."""
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    labels = (
        sym.select(F.col("a").alias("member"))
        .distinct()
        .withColumn("canonical", F.col("member"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    for _ in range(MAX_ITERATIONS):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["member"], "inner")
            .groupBy(F.col("a").alias("member"))
            .agg(F.min("canonical").alias("nbr_min"))
        )
        propagated = labels.join(neighbor_min, "member", "left").select(
            "member",
            F.least(
                F.col("canonical"), F.coalesce("nbr_min", "canonical")
            ).alias("canonical"),
        )
        # pointer jump: canonical ← canonical's canonical. Every canonical
        # value is itself a member (labels are seeded with all members and
        # only ever take existing labels), so the self-join always resolves;
        # this is what turns O(diameter) rounds into O(log diameter).
        jump = propagated.select(
            F.col("member").alias("_jm"), F.col("canonical").alias("_jc")
        )
        new_labels = (
            propagated.join(jump, propagated["canonical"] == jump["_jm"], "left")
            .select(
                "member",
                F.coalesce("_jc", "canonical").alias("canonical"),
            )
        )
        # checkpoint each round: the convergence check materializes the
        # frame anyway, and this truncates the growing join lineage
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "member")
            .filter(F.col("n.canonical") != F.col("o.canonical"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITERATIONS} rounds "
        "(component diameter beyond 2^rounds — raise MAX_ITERATIONS)"
    )


def alias_of_triples(labels: DataFrame) -> DataFrame:
    """(member, alias_of, canonical) for non-canonical members —
    FIXTURES.md §4 ``alias_of`` predicate rows (no conv provenance)."""
    return labels.filter(F.col("member") != F.col("canonical")).select(
        F.col("member").alias("subj"),
        F.lit("alias_of").alias("pred"),
        F.col("canonical").alias("obj"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
    )

