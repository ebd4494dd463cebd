"""End-to-end KG-construction DAG.

One declarative DataFrame plan per the SURVEY §3.2 lifecycle:

    scan(transcripts) → payload Arrow kernel (clean + marker + mention/
    definition extraction) → repartition(hash(conv_id)) → sort →
    mapInArrow state pass (dedup, ordinals, hierarchy nodes, scopes) →
    parquet spill → explode → broadcast candidate-ladder join →
    alias CC loop → triples/nodes/edges materialization.

The reference runs this as a per-document Python loop with one Postgres
round-trip per node (``2_scrape_regular.py:33-146``); here the whole corpus
is one DAG with exactly one wide exchange on ``conv_id`` for the stateful
stages plus the small linking/CC shuffles.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import rules
from ..operators import (
    canonicalize,
    defscope,
    enrich,
    extract,
    graph,
    linking,
)


# Live derived-spill directories awaiting exit-time removal. ONE atexit
# callback drains the set (registering shutil.rmtree per dir would grow
# the atexit registry by one dead entry per pipeline invocation in a
# long-lived process — atexit.unregister removes by FUNCTION, so per-dir
# entries cannot be retired individually). cleanup() discards its dir
# after eager removal.
_LIVE_SPILL_DIRS: set[str] = set()
_SPILL_HOOK_INSTALLED = False


def _register_spill_dir(d: str) -> None:
    global _SPILL_HOOK_INSTALLED
    _LIVE_SPILL_DIRS.add(d)
    if not _SPILL_HOOK_INSTALLED:
        import atexit
        import shutil

        atexit.register(
            lambda: [
                shutil.rmtree(x, ignore_errors=True)
                for x in list(_LIVE_SPILL_DIRS)
            ]
        )
        _SPILL_HOOK_INSTALLED = True


class PipelineResult:
    """Pipeline outputs. ``turns`` (the materialized derived frame) is
    eager; every other output's logical plan is built lazily on first
    attribute access — plan construction costs ~2 s of driver-side Py4J
    round-trips at 500k turns, and no consumer touches every output (the
    bench headline and streaming micro-batches read only ``triples``; the
    checkpoint runner's nodes write never needs ``rewritten``). Lazy
    construction changes WHEN a plan is built, never what it computes."""

    def __init__(
        self,
        *,
        turns: DataFrame,
        mentions_fn: Callable[[], DataFrame],
        definitions_fn: Callable[[], DataFrame],
        triples_fn: Callable[[], DataFrame],
        nodes_fn: Callable[[], DataFrame],
        edges_fn: Callable[[], DataFrame],
        applicable_defs_fn: Callable[[], DataFrame],
        rewritten_fn: Callable[[], DataFrame],
        spill_dir: str,
    ) -> None:
        self.turns = turns
        self._fns = {
            "mentions": mentions_fn,
            "definitions": definitions_fn,
            "triples": triples_fn,
            "nodes": nodes_fn,
            "edges": edges_fn,
            "applicable_defs": applicable_defs_fn,
            "rewritten": rewritten_fn,
        }
        self._cache: dict[str, DataFrame] = {}
        self.spill_dir = spill_dir

    def _lazy(self, key: str) -> DataFrame:
        if key not in self._cache:
            self._cache[key] = self._fns[key]()
        return self._cache[key]

    @property
    def mentions(self) -> DataFrame:
        return self._lazy("mentions")

    @property
    def definitions(self) -> DataFrame:
        return self._lazy("definitions")

    @property
    def triples(self) -> DataFrame:
        return self._lazy("triples")

    @property
    def nodes(self) -> DataFrame:
        return self._lazy("nodes")

    @property
    def edges(self) -> DataFrame:
        return self._lazy("edges")

    @property
    def applicable_defs(self) -> DataFrame:
        return self._lazy("applicable_defs")

    @property
    def rewritten(self) -> DataFrame:
        return self._lazy("rewritten")

    def cleanup(self) -> None:
        """Delete the derived-frame spill directory. Call after the outputs
        are consumed."""
        import shutil

        shutil.rmtree(self.spill_dir, ignore_errors=True)
        _LIVE_SPILL_DIRS.discard(self.spill_dir)


def _mention_triples(linked: DataFrame) -> DataFrame:
    return linked.filter(F.col("entity_id").isNotNull()).select(
        F.col("current_node").alias("subj"),
        F.lit("cites").alias("pred"),
        F.col("entity_id").alias("obj"),
        "conv_id",
        "turn_idx",
    )


def _triple_struct(subj, pred: str, obj):
    return F.struct(
        subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")
    )


def _definition_triples(defs: DataFrame, linked_incorp: DataFrame) -> DataFrame:
    """2-3 triples per plain definition, emitted by ONE explode pass over
    the defs stream (three separate union branches would re-scan the cached
    derived frame + re-explode defs once per branch)."""
    plain = defs.filter(F.col("kind") != "incorporated")
    base = F.array(
        _triple_struct(F.col("term_id"), "defined_as", F.col("definition")),
        _triple_struct(F.col("term_id"), "defined_in_scope", F.col("current_node")),
    )
    # nested definitions additionally hang off their parent term (reference
    # Definition.subdefinitions, pydanticModels.py:138-165)
    with_sub = F.concat(
        base,
        F.array(
            _triple_struct(
                F.col("term_id"),
                "subdefinition_of",
                F.concat(F.col("current_node"), F.lit("/term="), F.col("parent_term")),
            )
        ),
    )
    arr = F.when(F.col("parent_term").isNotNull(), with_sub).otherwise(base)
    fused = plain.select(
        F.explode(arr).alias("t"), "conv_id", "turn_idx"
    ).select("t.subj", "t.pred", "t.obj", "conv_id", "turn_idx")
    incorp = linked_incorp.select(
        F.col("term_id").alias("subj"),
        F.lit("defined_in_scope").alias("pred"),
        F.coalesce("entity_id", "incorporated_from").alias("obj"),
        "conv_id",
        "turn_idx",
    )
    return fused.unionByName(incorp)


def _node_triples(derived: DataFrame) -> DataFrame:
    """child_of (+ alias_of for versioned duplicates — reference
    duplicated_from_node_id tag, scrapingHelpers.py:94-98) in ONE pass over
    the node rows: a conditional array explode instead of two union
    branches that would each re-scan the cached derived frame."""
    nodes = derived.filter(F.col("node_id").isNotNull())
    child = _triple_struct(F.col("node_id"), "child_of", F.col("node_parent"))
    alias = _triple_struct(F.col("node_id"), "alias_of", F.col("node_raw_id"))
    arr = F.when(
        F.col("node_id") != F.col("node_raw_id"), F.array(child, alias)
    ).otherwise(F.array(child))
    return nodes.select(F.explode(arr).alias("t"), "conv_id", "turn_idx").select(
        "t.subj", "t.pred", "t.obj", "conv_id", "turn_idx"
    )


def _addenda(derived: DataFrame) -> DataFrame:
    """Last source/history trailer per node (reference extract_addendum,
    scrapeECFR.py:867-992): pure groupBy + max_by on the per-conv ordinal —
    one partial-aggregated exchange on current_node, no window."""
    return (
        derived.filter(
            F.col("node_id").isNull() & F.col("clean_text").rlike(rules.ADDENDUM_PATTERN)
        )
        .groupBy("current_node")
        .agg(
            F.max_by(
                F.struct(
                    F.col("clean_text").alias("text"),
                    F.col("conv_id").alias("conv_id"),
                    F.col("turn_idx").alias("turn_idx"),
                ),
                F.col("ord"),
            ).alias("a")
        )
        .select(
            "current_node",
            F.col("a.text").alias("node_addendum"),
            F.col("a.conv_id").alias("conv_id"),
            F.col("a.turn_idx").alias("turn_idx"),
        )
    )


def _rewritten_turns(derived: DataFrame, linked: DataFrame) -> DataFrame:
    """Per-turn text with linked mentions replaced by ``[*entity_id*]``
    placeholders (reference scrapeECFR.py:1135-1146) — position-based
    splice as a pure JVM ``aggregate`` over the sorted substitution list;
    unlinked mentions keep their original text. Join key (conv_id,
    turn_idx) rides the existing conv_id clustering."""
    subs = (
        linked.filter(F.col("entity_id").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("start").alias("start"),
                        F.length("mention_text").alias("len"),
                        F.col("entity_id").alias("entity_id"),
                    )
                )
            ).alias("subs")
        )
    )
    joined = derived.select("conv_id", "turn_idx", "clean_text").join(
        subs, ["conv_id", "turn_idx"], "left"
    )
    text = F.col("clean_text")
    spliced = F.aggregate(
        F.col("subs"),
        F.struct(F.lit("").alias("acc"), F.lit(0).alias("pos")),
        lambda st, s: F.when(
            s["start"] >= st["pos"],
            F.struct(
                F.concat(
                    st["acc"],
                    F.substring(text, st["pos"] + 1, s["start"] - st["pos"]),
                    F.lit("[*"),
                    s["entity_id"],
                    F.lit("*]"),
                ).alias("acc"),
                (s["start"] + s["len"]).alias("pos"),
            ),
        ).otherwise(st),  # overlapping mention: skip
        lambda st: F.concat(
            st["acc"], F.substring(text, st["pos"] + 1, F.length(text) - st["pos"])
        ),
    )
    return joined.select(
        "conv_id",
        "turn_idx",
        "clean_text",
        F.when(F.col("subs").isNull(), text).otherwise(spliced).alias("rewritten_text"),
    )


def link_incorporated(defs: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Link the citation inside 'as defined in <citation>' — first mention
    of the incorporated_from text through the same candidate ladder."""
    incorp = defs.filter(F.col("kind") == "incorporated").withColumn(
        "raw_key",
        F.try_element_at(extract.mentions_udf("incorporated_from"), F.lit(1))["raw_key"],
    )
    return linking.link_mentions(incorp, entity_dict)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    entity_dict: DataFrame,
    alias_edges: DataFrame | None = None,
    num_partitions: int | None = None,
    canonicalize_triples: bool = False,
    max_conv_turns: int | None = None,
) -> PipelineResult:
    """Build the KG outputs of ``transcripts`` as one DataFrame DAG.

    The derive stage is :func:`extract.derive_nodes_stream`: one exchange,
    one JVM sort, one pre-shuffle Arrow payload pass and one ``mapInArrow``
    state pass. ``max_conv_turns`` is the skew escape hatch: a conversation
    whose turn index reaches it is derived in ``(conv_id, turn_range)``
    shards across tasks with stitched boundary state
    (:func:`extract.derive_nodes_sharded`).

    The multiply-consumed derived frame is written to a columnar parquet
    spill and re-read, so each downstream branch PRUNES the columns it
    needs (node triples never decode the nested extractions column). It
    measured ~10% faster warm and ~2x faster cold than a DISK_ONLY persist
    at 500k turns (SCALE.md), and it is the shape a real deployment uses
    anyway (the derived table is an Iceberg materialization, cf.
    plans/checkpoint.py). Every other output is a lazy plan over the
    spill; call ``PipelineResult.cleanup()`` when done to delete it.
    """
    import tempfile

    round_caches: list[DataFrame] = []
    if max_conv_turns is not None:
        derived, round_caches = extract.derive_nodes_sharded(
            transcripts, shard_turns=max_conv_turns, num_partitions=num_partitions
        )
    else:
        derived = extract.derive_nodes_stream(
            transcripts, num_partitions=num_partitions
        )
    spill_dir = tempfile.mkdtemp(prefix="osl_derived_")
    # exit-time backstop for callers that can only consume the outputs
    # LAZILY and never reach cleanup() (contract queries return a
    # DataFrame reading this dir; the harness collects it after the
    # query callable is long gone) — without it every sweep leaks one
    # derived-parquet dir per pipeline-backed query (observed: 500+
    # orphans). cleanup() still removes it eagerly and retires the
    # registry entry, so a long-lived process does not accumulate
    # dead callbacks.
    _register_spill_dir(spill_dir)
    derived.write.mode("overwrite").parquet(spill_dir)
    # the spill copy is durable: the sharded rounds' caches are not needed
    for cached in round_caches:
        cached.unpersist()
    # explicit schema: an empty input writes no part files, and the
    # schema must survive that
    derived = spark.read.schema(extract._DERIVED_SCHEMA).parquet(spill_dir)

    # ---- lazy plans (built on first PipelineResult access) --------------
    # Every output's logical plan is constructed on demand: driver-side
    # plan building costs ~2 s of Py4J round-trips at 500k turns, and no
    # consumer touches every output (the bench headline and streaming
    # micro-batches read triples only; the checkpoint runner's nodes write
    # never needs the rewritten-turns plan). Shared intermediates are
    # memoized so all outputs agree. Lazy construction changes WHEN a plan
    # is built, never what it computes.
    shared: dict[str, DataFrame] = {}

    def _memo(key: str, fn) -> DataFrame:
        if key not in shared:
            shared[key] = fn()
        return shared[key]

    def _linked() -> DataFrame:
        return _memo(
            "linked",
            lambda: linking.link_mentions(
                extract.extract_mentions(derived), entity_dict
            ),
        )

    def _defs() -> DataFrame:
        return _memo("defs", lambda: extract.extract_definitions(derived))

    def _linked_incorp() -> DataFrame:
        return _memo(
            "linked_incorp", lambda: link_incorporated(_defs(), entity_dict)
        )

    def _addenda_f() -> DataFrame:
        return _memo("addenda", lambda: _addenda(derived))

    def _triples() -> DataFrame:
        addendum_triples = _addenda_f().select(
            F.col("current_node").alias("subj"),
            F.lit("addendum").alias("pred"),
            F.col("node_addendum").alias("obj"),
            "conv_id",
            "turn_idx",
        )
        triples = (
            _node_triples(derived)
            .unionByName(_mention_triples(_linked()))
            .unionByName(_definition_triples(_defs(), _linked_incorp()))
            .unionByName(addendum_triples)
        )
        if alias_edges is not None:
            labels = canonicalize.connected_components(alias_edges)
            triples = triples.unionByName(canonicalize.alias_of_triples(labels))
            if canonicalize_triples:
                triples = canonicalize.rewrite_to_canonical(triples, labels)
        return triples

    def _rel_src() -> DataFrame:
        # cheap projection of the node rows: everything keyed off hierarchy
        # shape (children/siblings/edges/defscope) reads THIS, not the
        # enriched frame — otherwise each relationship join would
        # re-evaluate the node_text / embedding subtree (measured: the
        # nodes write goes from minutes to seconds at 500k turns)
        return _memo(
            "rel_src",
            lambda: extract.nodes_table(derived).select(
                "node_id", "parent", "turn_idx"
            ),
        )

    def _cites() -> DataFrame:
        return _memo("cites", lambda: graph.cites_edges(_linked()))

    def _nodes() -> DataFrame:
        # nodes enriched with the reference's per-node payloads: addendum
        # (broadcast join — addenda ≪ nodes), the full per-node document
        # text (NodeText.to_list_text, pydanticModels.py:290-296 — ordered
        # content turns under the node, addendum peeled), BPE-ish token
        # count (scrapeECFR.py:359-360,1003-1007) and the phase-3 hash
        # embedding (3_process.py:18-36) — token/embedding expressions run
        # over the FULL node text (falling back to the marker heading for
        # childless nodes)
        node_texts = extract.node_text_agg(derived, addenda=_addenda_f())
        full_text = F.coalesce(F.col("node_text"), F.col("text"))
        nodes = (
            extract.nodes_table(derived)
            .join(
                F.broadcast(_addenda_f().select(
                    F.col("current_node").alias("node_id"), "node_addendum"
                )),
                "node_id",
                "left",
            )
            .join(node_texts, "node_id", "left")
            .withColumn(
                # ONE fused Arrow pass over the long full-text column for
                # BOTH n_tokens and the embedding — NOT hash_embed_expr
                # (the interpreted HOF re-evaluates its md5 subtree per
                # output dim, 20x slower) and not a separate JVM
                # split-to-array count (ships/allocates the text twice);
                # see enrich.node_enrich_udf docstring
                "_enr",
                enrich.node_enrich_udf(dim=16)(full_text, F.col("name")),
            )
            .withColumn("n_tokens", F.col("_enr.n_tokens"))
            .withColumn("embedding", F.col("_enr.embedding"))
            # multi-vector retrieval payload (reference carries
            # text/name/summary/hyde vectors per node, scrapeMI.py:79-83;
            # summary here is the documented extractive stand-in)
            .withColumn("name_embedding", F.col("_enr.name_embedding"))
            .withColumn("summary", F.col("_enr.summary"))
            .drop("_enr")
        )
        # phase-3 relationship columns onto the nodes rows (reference
        # writes node_direct_children / node_siblings /
        # node_incoming_references in the post-scrape update,
        # CLAUDE.md:171-174, scrapeMI.py:85-88) — node_id-keyed joins over
        # the nodes frame (≪ turns; AQE picks the join strategy)
        return (
            nodes.join(graph.children_agg(_rel_src()), "node_id", "left")
            .join(graph.siblings_agg(_rel_src()), "node_id", "left")
            .join(graph.incoming_references(_cites()), "node_id", "left")
        )

    def _edges() -> DataFrame:
        return graph.hierarchy_edges(_rel_src()).unionByName(_cites())

    def _applicable_defs() -> DataFrame:
        # definition-scope closure (reference fetch_definitions ancestor
        # walk, pydanticModels.py:654-757): node → the terms that apply
        return defscope.applicable_definitions(
            _rel_src(), _defs(), incorporated=_linked_incorp()
        )

    return PipelineResult(
        turns=derived,
        mentions_fn=_linked,
        definitions_fn=_defs,
        triples_fn=_triples,
        nodes_fn=_nodes,
        edges_fn=_edges,
        applicable_defs_fn=_applicable_defs,
        rewritten_fn=lambda: _rewritten_turns(derived, _linked()),
        spill_dir=spill_dir,
    )
