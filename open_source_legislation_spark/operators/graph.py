"""Graph materialization + invariants.

nodes/edges tables with the hierarchy encoded as edges (reference
``CLAUDE.md:532-536``), order-sensitive children/siblings aggregates
(reference phase-3 relationship update, ``CLAUDE.md:171-174``), and the
reference's post-scrape SQL invariants (``CLAUDE.md:437-452``) as
DataFrame checks returning violation frames instead of raising.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from ._cache import persist_disk as _persist_disk


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut the logical plan under an iterative loop's evolving frame.

    Without this, every iteration STACKS its join/agg subtree on the
    previous plan — at 20+ iterations analysis/optimization time grows
    superlinearly: the classic iterative-DataFrame failure mode at scale.
    ``localCheckpoint(eager=True)`` materializes the frame on executor
    storage and replaces its plan with a scan of the materialized blocks
    (the loop frames are one row per node — the smallest frame in the
    computation, so the materialization is cheap relative to one
    iteration's shuffle).

    The trade-off: plan depth is bounded, but the blocks are stored
    unreplicated (MEMORY_AND_DISK) with no lineage behind them, so losing
    an executor that holds them fails the query instead of recomputing
    the lost partitions. The blocks are not among the ``_osl_persists``
    handles, and ``unpersist()`` on the returned frame does not release
    them: they stay listed in ``SparkContext.getPersistentRDDs()`` after
    it, and after a driver-side GC."""
    return df.localCheckpoint(eager=True)


def hierarchy_edges(nodes: DataFrame) -> DataFrame:
    """(src=child, dst=parent, rel=child_of) — the parent pointer as edges."""
    return nodes.filter(F.col("parent").isNotNull()).select(
        F.col("node_id").alias("src"),
        F.col("parent").alias("dst"),
        F.lit("child_of").alias("rel"),
    )


def cites_edges(linked_mentions: DataFrame) -> DataFrame:
    return linked_mentions.filter(F.col("entity_id").isNotNull()).select(
        F.col("current_node").alias("src"),
        F.col("entity_id").alias("dst"),
        F.lit("cites").alias("rel"),
    )


def children_agg(nodes: DataFrame) -> DataFrame:
    """parent → ordered child list (order-sensitive: sort by (turn_idx, id),
    the node_order analog — SURVEY §2.5 agg_children_collect)."""
    return (
        nodes.filter(F.col("parent").isNotNull())
        .groupBy(F.col("parent").alias("node_id"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.coalesce("turn_idx", F.lit(-1)).alias("o"),
                            F.col("node_id").alias("id"),
                        )
                    )
                ),
                lambda s: s["id"],
            ).alias("direct_children")
        )
    )


def siblings_agg(nodes: DataFrame) -> DataFrame:
    """node → ordered siblings (nodes sharing a parent, self removed —
    reference CLAUDE.md:535)."""
    ch = children_agg(nodes)
    return (
        nodes.filter(F.col("parent").isNotNull())
        .select("node_id", "parent")
        .join(ch.withColumnRenamed("node_id", "parent"), "parent")
        .select(
            "node_id",
            F.array_remove("direct_children", F.col("node_id")).alias("siblings"),
        )
    )


def incoming_references(edges: DataFrame) -> DataFrame:
    """Reverse-edge aggregate (reference incoming_references,
    pydanticModels.py:442): dst → list of citing srcs."""
    return (
        edges.filter(F.col("rel") == "cites")
        .groupBy(F.col("dst").alias("node_id"))
        .agg(F.array_sort(F.collect_set("src")).alias("incoming_references"))
    )


# --------------------------------------------------------------------------
# Invariants (reference CLAUDE.md:437-452) — each returns a violations frame
# that must be empty; counts-by-level returns the sanity distribution.
# --------------------------------------------------------------------------


def orphan_nodes(nodes: DataFrame) -> DataFrame:
    """Nodes whose parent id does not exist — the left-anti orphan check."""
    ids = nodes.select(F.col("node_id").alias("_pid"))
    return (
        nodes.filter(F.col("parent").isNotNull())
        .join(ids, F.col("parent") == F.col("_pid"), "left_anti")
    )


def null_parent_violations(nodes: DataFrame) -> DataFrame:
    """Null parent is only legal for the per-conv root (corpus analog)."""
    return nodes.filter(
        F.col("parent").isNull() & (F.col("level_classifier") != "conv")
    )


def counts_by_level(nodes: DataFrame) -> DataFrame:
    return nodes.groupBy("level_classifier").agg(F.count("*").alias("n")).orderBy(
        "level_classifier"
    )


def counts_by_level_status(nodes: DataFrame) -> DataFrame:
    """Validation cube (SURVEY §2.5 note: per-level × per-status counts)."""
    return nodes.cube("level_classifier", "status").agg(F.count("*").alias("n"))


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    base: int = 1_000_000,
    damping_ppm: int = 850_000,
    persist_every: int | None = 8,
) -> DataFrame:
    """Node importance over the graph — fixed-iteration PageRank in EXACT
    integer arithmetic (ranks in micro-units):

        r0(v) = base
        r_{k+1}(v) = (base - damping) + damping * (sum over in-edges u→v of
                     r_k(u) DIV outdeg(u)) DIV base

    Every operation is exact integer arithmetic (int64 ranks; the
    per-node in-mass sum and its damping multiply run in DECIMAL(38,0),
    matching the oracle's HUGEINT headroom so a ~1e7-in-edge hub cannot
    silently wrap int64), so the result is bit-identical across engines,
    partitionings, and aggregation orders — no float accumulation to
    diverge on. Ranks themselves stay within int64 up to ~1e13 nodes
    (total mass N·base ≤ 9.2e18). The structural simplifications
    (dangling mass not redistributed) are the standard fixed-iteration
    ones.

    Scale shape: per iteration one shuffle join (edges ⋈ ranks on src) +
    one partial-aggregated groupBy(dst); ranks frame is one row per node.
    Duplicate edges and self-loops are removed up front.

    Lineage control: the loop-invariant frames (``e``, ``outdeg``,
    ``nodes``) are persisted DISK_ONLY for the loop's lifetime (each is
    consumed every iteration — uncached, iteration *k* re-derives the
    distinct + degree subtrees *k* times), and the evolving ``ranks``
    frame is lineage-truncated every ``persist_every`` iterations (see
    :func:`_truncate_lineage`; ``None`` disables both, restoring the pure
    single-lineage plan). At ``iters <= persist_every`` the knob
    auto-disables: the plan is shallow and the pure lineage beats paying
    the DISK_ONLY materialization (measured +25-40% at iters=3); force
    persisting on short loops with a smaller ``persist_every``. The
    persisted handles are handed to the caller on
    the result as ``_osl_persists`` for release after consumption (the
    :func:`triangle_counts` handle-handover pattern).

    Output: ``(node, rank)`` with rank after ``iters`` iterations.
    """
    if persist_every is not None and persist_every < 1:
        raise ValueError("pagerank_int: persist_every must be >= 1 or None")
    # Engage only when the loop is long enough to amortize the DISK_ONLY
    # materialization (measured ~25-40% overhead at iters=3 on sf0.1);
    # pass a smaller persist_every to force persisting on short loops.
    if persist_every is not None and iters <= persist_every:
        persist_every = None
    e = (
        edges.select(F.col("src"), F.col("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    persists = []
    if persist_every is not None:
        e = _persist_disk(e)
        persists.append(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    if persist_every is not None:
        nodes = _persist_disk(nodes)
        outdeg = _persist_disk(outdeg)
        persists += [nodes, outdeg]
    ranks = nodes.withColumn("rank", F.lit(base).cast("long"))
    hold = (base - damping_ppm)
    for it in range(iters):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                # `div` = exact int64 division (not double-div + truncate,
                # which loses exactness past 2^53)
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("node")
            # DECIMAL(38,0) accumulation: a hub with ~1e7+ in-edges pushes
            # `incoming` (and damping_ppm * incoming) past int64, which
            # Spark would WRAP silently with ANSI off while the exact
            # oracle (HUGEINT) keeps going — decimal(38,0) gives the same
            # 128-bit headroom on the Spark side. `DIV` on decimal
            # operands is exact integral division returning long; the
            # quotient (≈ 0.85 × incoming ≤ 0.85 × total mass = N·base)
            # fits int64 up to N ≈ 1e13 nodes, past the 1e12 design point.
            .agg(F.sum(F.col("c").cast("decimal(38,0)")).alias("incoming"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(hold)
                + F.expr(
                    f"(CAST({damping_ppm} AS DECIMAL(38,0))"
                    f" * coalesce(incoming, CAST(0 AS DECIMAL(38,0))))"
                    f" div {base}L"
                )
            )
            .cast("long")
            .alias("rank"),
        )
        if persist_every is not None and (it + 1) % persist_every == 0 and (
            it + 1
        ) < iters:
            ranks = _truncate_lineage(ranks)
    ranks._osl_persists = persists
    return ranks


def triangle_counts(edges: DataFrame, cache_oriented: bool = True) -> DataFrame:
    """Per-node triangle participation over the undirected graph — the
    standard degree-ordered (compact-forward) formulation that keeps the
    join fan-out bounded on skewed graphs.

    1. canonicalize to undirected distinct edges (u < v, no self-loops);
    2. orient every edge from its LOWER-(degree, id) endpoint to the
       higher — a hub of degree d keeps at most its d higher-ranked
       neighbors as out-edges, so the wedge join below fans out
       O(Σ min(deg)²-ish) instead of O(Σ deg²): the classic bound that
       makes triangle counting survive power-law skew;
    3. wedges: oriented ⋈ oriented on the middle vertex;
    4. close: wedge (a→b→c) survives iff oriented edge (a→c) exists —
       an equi-join on BOTH endpoints, never a cross product;
    5. explode the 3 corners and count per node (zero-triangle nodes are
       kept via a left join back to the node universe, itself read from
       the oriented edges — every non-isolated node sits on one).

    The oriented edge list is consumed FOUR times (both wedge sides, the
    closing probe, the node universe); without a cache each consumer
    re-scans the input and re-runs the distinct + degree joins, so with
    ``cache_oriented`` (default) it is persisted DISK_ONLY — O(|E|), the
    same footprint class as the input. The cache is handed to the caller
    on the result as ``_osl_persists`` for release after consumption —
    the contract/bench harnesses unpersist it after collecting.

    Every triangle is produced exactly once (its corners are totally
    ordered by (degree, id)). Output: ``(node, n_triangles: bigint)``.
    """
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("y"),
    )
    persists = []
    if cache_oriented:
        o = _persist_disk(o)
        persists.append(o)
    nodes = (
        o.select(F.col("x").alias("node"))
        .union(o.select(F.col("y").alias("node")))
        .distinct()
    )
    wedges = (
        o.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .join(o.select(F.col("x").alias("b"), F.col("y").alias("c")), "b")
    )
    tri = wedges.join(
        o.select(F.col("x").alias("a"), F.col("y").alias("c")), ["a", "c"]
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias("n_triangles"),
    )
    out._osl_persists = persists
    return out


def label_propagation(
    edges: DataFrame, iters: int = 2, persist_every: int | None = 8
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation, made fully
    deterministic: every node starts labeled with its own id; each
    iteration it adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label — so the result is a pure integer
    function of the graph, bit-identical across engines, partitionings
    and aggregation orders (classic async LPA is run-order dependent;
    this is the reproducible variant a data pipeline can oracle-check).

    Scale shape per iteration: one equi-join (symmetric edges ⋈ labels
    on the neighbor endpoint) + one (node, label) count with map-side
    partial aggregation + one per-node argmax — expressed as
    ``max(struct(count, -label))`` so the pick is a second partial
    aggregate, NOT a sort window. Labels frame stays one row per node.

    Lineage control (same contract as :func:`pagerank_int`, including
    the short-loop auto-disable): ``sym`` is loop-invariant (probed
    every iteration) and persisted DISK_ONLY — ``nodes`` is NOT, its
    single consumer is the initial labels seed; the evolving ``labels``
    frame is lineage-truncated every ``persist_every`` iterations;
    handles handed over via ``_osl_persists``; ``None`` disables.

    Output: ``(node, label: bigint)`` after ``iters`` iterations.
    """
    if persist_every is not None and persist_every < 1:
        raise ValueError("label_propagation: persist_every must be >= 1 or None")
    if persist_every is not None and iters <= persist_every:
        persist_every = None  # short loop: pure plan wins (see pagerank_int)
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    persists = []
    if persist_every is not None:
        sym = _persist_disk(sym)
        persists.append(sym)
    # nodes is NOT persisted: unlike pagerank_int (where it re-enters the
    # plan every iteration) it has exactly one consumer — the initial
    # labels seed — and it reads from the already-persisted sym anyway.
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node"))
    for it in range(iters):
        nb = sym.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counts = nb.groupBy("node", "label").agg(F.count("*").alias("c"))
        labels = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        if persist_every is not None and (it + 1) % persist_every == 0 and (
            it + 1
        ) < iters:
            labels = _truncate_lineage(labels)
    labels._osl_persists = persists
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    persist_every: int | None = 8,
) -> DataFrame:
    """Directed k-hop reachability: the minimum hop distance (≤
    ``max_hops``) from a seed set to every reachable node — the "what is
    within N citation hops of section X" query a KG consumer runs.

    Level-synchronous frontier expansion, the textbook distributed BFS:
    hop *h* joins the CURRENT frontier (nodes first reached at h−1, a
    shrinking set) against the edge list and anti-joins the settled set,
    so each edge is traversed at most once per endpoint discovery and the
    work per hop is O(frontier × avg outdeg) — never a full |V|×|E|
    product. Deterministic by construction: distance is a pure min, no
    tie-breaks needed.

    Lineage control (same contract as :func:`pagerank_int`): the edge
    list is loop-invariant and persisted DISK_ONLY (it is probed every
    hop); the evolving ``settled``/``frontier`` frames — ``settled`` is a
    union CHAIN that otherwise deepens by one subtree per hop — are
    lineage-truncated every ``persist_every`` hops; handles handed over
    via ``_osl_persists``; ``None`` disables.

    ``sources``: DataFrame with a ``node`` column. Output: ``(node,
    dist: int)`` for every node within ``max_hops`` (seeds at 0).
    """
    if persist_every is not None and persist_every < 1:
        raise ValueError("bfs_distances: persist_every must be >= 1 or None")
    if persist_every is not None and max_hops <= persist_every:
        persist_every = None  # short walk: pure plan wins (see pagerank_int)
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    persists = []
    if persist_every is not None:
        e = _persist_disk(e)
        persists.append(e)
    seeds = sources.select("node").distinct()
    settled = seeds.withColumn("dist", F.lit(0))
    frontier = seeds
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nxt.join(settled.select("node"), "node", "left_anti").withColumn(
            "dist", F.lit(h)
        )
        settled = settled.unionByName(new)
        frontier = new
        if persist_every is not None and h % persist_every == 0 and h < max_hops:
            settled = _truncate_lineage(settled)
            frontier = _truncate_lineage(frontier)
    out = settled.select("node", F.col("dist").cast("int").alias("dist"))
    out._osl_persists = persists
    return out
