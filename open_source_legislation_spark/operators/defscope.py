"""Definition-scope closure — which definitions apply to each node.

Re-expresses the reference's ``fetch_definitions`` ancestor walk
(``pydanticModels.py:654-757``): for a node, walk up to ``_MAX_DEPTH``
ancestor levels (the reference's ``counter < 10`` loop, popping one id
level per step), collect each scope's definition dictionary, and let the
CLOSEST scope win per term. Within one scope the reference builds the
local dict first and then lets incorporated-hub entries overwrite
same-term keys (``def_dict[key] = inc_def_dict[key]``,
``pydanticModels.py:737-741``) — so incorporated beats local at equal
depth, and a later definition beats an earlier one (dict last-writer).

The reference resolves one hub per incorporated entry via
``import_source_id`` and skips cross-corpus imports
(``pydanticModels.py:711-713``). Here the hub id is the LINKED entity id
of the ``as defined in <citation>`` clause (falling back to the raw
citation text); a hub that matches no defining scope in the corpus —
the cross-corpus case — contributes the pointer row itself (definition
NULL, ``hub`` set) instead of being dropped, which keeps every
incorporated term visible in the closure. One deliberate delta: the
conversation root participates as a scope (it is a real node here,
unlike the reference's corpus sentinel which terminates the walk).

Scale shape (100 TB): the ancestor explode is a bounded ``×_MAX_DEPTH``
JVM-side fanout of the (small) nodes frame; the per-scope definition
dictionary is the corpus's defined-terms table — orders of magnitude
smaller than turns, and broadcast. The only wide exchange is the final
per-(node, term) argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ancestor levels examined per node, the node's own scope included
# (the reference walks at most 10, pydanticModels.py:689)
_MAX_DEPTH = 10


def _local_dict(defs: DataFrame) -> DataFrame:
    """Per-scope definition dictionary: one row per (scope, term), dict
    last-writer-wins on duplicate terms (later turn, then definition text
    as a deterministic tie-break — mirrored by the oracle's tuple max)."""
    return (
        defs.filter(F.col("kind") != "incorporated")
        .groupBy(F.col("current_node").alias("scope"), "term")
        .agg(
            F.max(
                F.struct(
                    F.col("turn_idx").alias("turn_idx"),
                    F.col("definition").alias("definition"),
                )
            ).alias("w")
        )
        .select(
            "scope",
            "term",
            F.col("w.turn_idx").alias("turn_idx"),
            F.col("w.definition").alias("definition"),
        )
    )


def applicable_definitions(
    nodes: DataFrame,
    defs: DataFrame,
    incorporated: DataFrame | None = None,
) -> DataFrame:
    """``node_id → applicable terms`` closure.

    Parameters
    ----------
    nodes: frame with a ``node_id`` column (``extract.nodes_table`` output
        or any id frame).
    defs: ``extract.extract_definitions`` output (``current_node, term,
        definition, kind, turn_idx``).
    incorporated: linked incorporated definitions (``current_node, term,
        turn_idx, entity_id, incorporated_from`` — the
        ``link_incorporated`` output); None disables the hub merge.

    Returns one row per (node, applicable term): ``node_id, term,
    definition, def_scope, src ('local'|'incorporated'), hub, depth``.
    """
    local = _local_dict(defs)
    entries = local.select(
        "scope",
        "term",
        F.lit(0).alias("prio"),
        "turn_idx",
        "definition",
        F.lit(None).cast("string").alias("hub"),
        F.lit("local").alias("src"),
    )
    if incorporated is not None:
        inc = incorporated.filter(F.col("kind") == "incorporated").select(
            F.col("current_node").alias("scope"),
            "term",
            "turn_idx",
            F.coalesce("entity_id", "incorporated_from").alias("hub"),
        )
        # per-term hub pull: the hub scope's own dictionary entry for the
        # same term (the reference merges hub keys into the local dict,
        # pydanticModels.py:737-741; an unmatched hub keeps the pointer)
        hubdefs = local.select(
            F.col("scope").alias("hub"),
            "term",
            F.col("definition").alias("_hub_def"),
        )
        inc_entries = (
            inc.join(F.broadcast(hubdefs), ["hub", "term"], "left")
            .select(
                "scope",
                "term",
                F.lit(1).alias("prio"),
                "turn_idx",
                F.col("_hub_def").alias("definition"),
                "hub",
                F.lit("incorporated").alias("src"),
            )
        )
        entries = entries.unionByName(inc_entries)

    parts = F.split("node_id", "/")
    n = F.size(parts)
    lo = F.greatest(F.lit(1), n - F.lit(_MAX_DEPTH - 1))
    prefixes = F.transform(
        F.sequence(lo, n),
        lambda i: F.struct(
            i.alias("depth"), F.array_join(F.slice(parts, 1, i), "/").alias("scope")
        ),
    )
    exploded = (
        nodes.select("node_id")
        .distinct()
        .select("node_id", F.explode(prefixes).alias("p"))
        .select("node_id", F.col("p.depth").alias("depth"), F.col("p.scope").alias("scope"))
    )
    joined = exploded.join(F.broadcast(entries), "scope")
    # Precedence (mirrors the reference's walk): an entry with a resolved
    # definition always beats an unresolved pointer (the reference merges a
    # hub key only when the hub HAS it, pydanticModels.py:737-741, and
    # skips cross-corpus hubs entirely — the pointer only surfaces when the
    # term has no in-corpus definition anywhere in the walk); among
    # resolved entries the closest scope wins; at equal depth incorporated
    # overwrites local and a later turn overwrites an earlier one (dict
    # last-writer order). Trailing text fields make the argmax total.
    order_key = F.struct(
        F.col("definition").isNotNull().cast("int").alias("resolved"),
        F.col("depth"),
        F.col("prio"),
        F.col("turn_idx"),
        F.coalesce("definition", F.lit("")),
        F.coalesce("hub", F.lit("")),
    )
    return (
        joined.groupBy("node_id", "term")
        .agg(
            F.max_by(
                F.struct(
                    F.col("definition").alias("definition"),
                    F.col("scope").alias("def_scope"),
                    F.col("src").alias("src"),
                    F.col("hub").alias("hub"),
                    F.col("depth").alias("depth"),
                ),
                order_key,
            ).alias("w")
        )
        .select(
            "node_id",
            "term",
            F.col("w.definition").alias("definition"),
            F.col("w.def_scope").alias("def_scope"),
            F.col("w.src").alias("src"),
            F.col("w.hub").alias("hub"),
            F.col("w.depth").alias("depth"),
        )
    )
